"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: ingest, dashboard, analytics (see perfbench/README.md). The
last line of standard output is the result JSON; earlier lines carry the
workload's own named metrics, its output checks and, with --trace 1, the
span file and the tracing overhead. Exits non-zero without a result when
the engine sources are missing or a run fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "dashboard", "analytics")
RUN_TIMEOUT_S = 170


def java_opts():
    """Spark's JDK 17 --add-opens and the heap cap, as build.sbt gives them
    to the engine's own mains, and a 2 GB initial heap: with the JVM's
    default (1/64 of RAM) the heap grows through the measured window and
    the timings spread twice as wide. No pre-touch, so the resident set
    counts only pages the JVM uses. The engine JVM copies these flags
    from this JVM, so this is their only copy here."""
    mods = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
            "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
            "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    opts = []
    for m in mods:
        opts += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    return opts + ["-Xms2g", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(build.ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write(f"engine sources not found under {build.ROOT}/src/main/scala/graft\n")
        return 2
    cp = build.ensure_built()
    out = build.out_dir()
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + java_opts() + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out, "--classpath", cp]
    # own process group: the engine JVM the benchmark starts goes down with it
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=open(
        os.path.join(work, "bench.log"), "w"), text=True, start_new_session=True)
    last = None
    try:
        out_text, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        lines = [ln for ln in out_text.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        last = lines[-1] if lines else None
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"run exceeded {RUN_TIMEOUT_S} s\n")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    ok = p.returncode == 0 and last is not None and last.startswith('{"correct"')
    if not ok:
        log = os.path.join(work, "bench.log")
        sys.stderr.write(open(log).read()[-4000:] if os.path.exists(log) else "")
        sys.stderr.write(f"benchmark run failed (exit {p.returncode}); work dir kept at {work}\n")
        return 1
    shutil.rmtree(work, ignore_errors=True)
    print(last)
    return 0


if __name__ == "__main__":
    sys.exit(main())
