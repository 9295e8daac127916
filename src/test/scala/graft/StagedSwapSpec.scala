package graft

import graft.StagedSwap.{Remove, Swap}
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}

class StagedSwapSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** Every file and directory under `root`, relative, with file contents. */
  private def tree(root: JPath): Map[String, String] = {
    val walk = Files.walk(root)
    try {
      val b = Map.newBuilder[String, String]
      walk.forEach { p =>
        if (p != root)
          b += root.relativize(p).toString ->
            (if (Files.isDirectory(p)) "<dir>" else new String(Files.readAllBytes(p), "UTF-8"))
      }
      b.result()
    } finally walk.close()
  }

  private def put(root: JPath, rel: String, body: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"))
  }

  /** A store root holding the old generation, and a swap whose staging
    * holds the new one. */
  private def fixture(): (JPath, StagedSwap) = {
    val root = Files.createTempDirectory("graft_staged_swap")
    put(root, "a/x", "old-a")
    put(root, "b/y", "old-b")
    put(root, "c/z", "old-c")
    put(root, "f", "old-f")
    val swap = new StagedSwap(conf, root.toString, "t")
    val staging = java.nio.file.Paths.get(swap.begin())
    put(staging, "a/x", "new-a")
    put(staging, "d/w", "new-d")
    put(staging, "f", "new-f")
    (root, swap)
  }

  // swaps of a directory, of a file and onto a new target, interleaved
  // with removes
  private val plan = Seq(Swap("a", "a"), Remove("b"), Swap("d", "e"), Swap("f", "f"), Remove("c"))
  private val expected = Map("a" -> "<dir>", "a/x" -> "new-a", "e" -> "<dir>", "e/w" -> "new-d", "f" -> "new-f")

  test("commit runs the plan and leaves neither marker nor staging") {
    val (root, swap) = fixture()
    swap.commit(plan)
    assert(tree(root) == expected)
    assert(!swap.pending)
    assert(!swap.complete(), "a second completion has nothing to do")
    assert(tree(root) == expected)
  }

  test("a crash after each k of n steps completes to the no-crash tree; a second completion is a no-op") {
    for (k <- 0 to plan.size) {
      val (root, swap) = fixture()
      swap.mark(plan)
      plan.take(k).foreach(swap.run)
      assert(swap.pending, s"k=$k")
      assert(swap.complete(), s"k=$k")
      assert(tree(root) == expected, s"k=$k")
      assert(!swap.complete(), s"k=$k")
      assert(tree(root) == expected, s"k=$k")
    }
  }

  test("a crash inside a swap step, target deleted but not yet renamed, completes too") {
    for ((step, i) <- plan.zipWithIndex if step.isInstanceOf[Swap]) {
      val (root, swap) = fixture()
      swap.mark(plan)
      plan.take(i).foreach(swap.run)
      val target = root.resolve(step.target).toFile
      if (target.exists()) org.apache.commons.io.FileUtils.forceDelete(target)
      assert(swap.complete(), s"step $i")
      assert(tree(root) == expected, s"step $i")
    }
  }

  test("before the commit point nothing is pending; a new generation discards the stale staging") {
    val (root, swap) = fixture()
    val old = tree(root)
    assert(!swap.pending && !swap.complete())
    assert(tree(root) == old, "an uncommitted staging must not touch the targets")
    swap.begin()
    assert(!Files.exists(java.nio.file.Paths.get(swap.staging)))
    assert(tree(root) == old.filterNot(_._1.startsWith("_t_staging")))
  }

  test("a pending plan refuses a new generation; malformed plans refuse") {
    val (_, swap) = fixture()
    intercept[IllegalArgumentException](swap.mark(Nil))
    intercept[IllegalArgumentException](swap.mark(Seq(Swap("a", "a"), Remove("a"))))
    intercept[IllegalArgumentException](Remove("has space"))
    swap.mark(plan)
    intercept[IllegalArgumentException](swap.begin())
    assert(swap.complete())
  }

  test("a marker without a plan (the earlier formats) refuses and stays put") {
    for (body <- Seq("", "batch=-3\nbatch=1\nbatch=2", "closed/chunk=7")) {
      val (root, swap) = fixture()
      put(root, "_t_pending", body)
      val before = tree(root)
      val e = intercept[IllegalStateException](swap.complete())
      assert(e.getMessage.contains("earlier graft version") && e.getMessage.contains("_t_pending"),
        e.getMessage)
      assert(swap.pending && tree(root) == before)
    }
  }
}
