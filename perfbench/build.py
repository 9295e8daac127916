"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory. No sbt, no network.

    python3 perfbench/build.py      # from the repository root

Output goes to .bench_build/ (or $CARGO_TARGET_DIR when set), and a
build whose sources are unchanged is skipped.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return jars


def engine_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))


def classpath():
    out = out_dir()
    return ":".join([os.path.join(out, "bench-classes"), os.path.join(out, "engine-classes"),
                     os.path.join(spark_jars(), "*")])


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _read(path):
    with open(path) as fh:
        return fh.read()


def _compile(files, extra_cp, dest):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(extra_cp + [os.path.join(spark_jars(), "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"compile failed for {dest}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def ensure_built():
    """Compile whatever is stale; returns the run classpath."""
    engine, bench = engine_sources(), bench_sources()
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    for name, files, deps in (("engine-classes", engine, []),
                              ("bench-classes", bench, [os.path.join(out, "engine-classes")])):
        dest = os.path.join(out, name)
        stamp_file = dest + ".stamp"
        stamp = _stamp(files + [os.path.abspath(__file__)])
        if name == "bench-classes":  # the benchmark links against the engine build
            stamp += _read(os.path.join(out, "engine-classes.stamp"))
        if os.path.isdir(dest) and os.path.exists(stamp_file) and _read(stamp_file) == stamp:
            continue
        _compile(files, deps, dest)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    ensure_built()
    print(classpath())
