package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The one crash protocol behind every store rewrite that replaces
  * directories in place — live-tier batch compaction, series delete
  * and backfill, snapshot restore, the IVF rebuild — the reference's
  * background chunk swap (db.rs:265-303) made restartable.
  *
  * A verb writes the new generation under [[staging]]
  * (`<root>/_<name>_staging`, cleared by [[begin]]), then [[commit]]s
  * a plan: an ordered list of [[StagedSwap.Swap]] steps (move a staged
  * directory or file over its target) and [[StagedSwap.Remove]] steps
  * (drop a target without replacement). The commit point is the plan
  * landing in the marker `<root>/_<name>_pending`; from then on the
  * swap is redoable from the marker and the staging tree alone.
  * Readers refuse while [[pending]] (a live-tier read first waits a
  * few seconds for a compaction's commit to finish), and [[complete]]
  * runs the plan to its end, then clears staging and the marker.
  *
  * Every step is idempotent, so completion is correct from any crash
  * point, mid-step included: a swap whose staged copy is gone has
  * landed (the rename is its last act), one whose staged copy is still
  * there redoes delete-then-rename whole, and a remove deletes whatever
  * is left. Targets are distinct across a plan, so no step undoes an
  * earlier one when a completion re-runs from the top.
  *
  * Paths in a plan: staged ones relative to [[staging]], targets
  * relative to the root.
  *
  * Markers written before this protocol existed hold no plan, so
  * [[complete]] refuses them (and the readers keep refusing) rather
  * than guess. To finish such a swap by hand, move each staged copy
  * over its target, then delete the listed paths and the marker:
  *  - `_batch_compact_pending` (target, then sources): `batch_compact`
  *    → `live/<first line>`; delete `live/<line>` for each other line.
  *  - `_delete_pending` (paths to remove, maybe none): every
  *    `_delete_staging/<tier>/chunk=<c>` → `<tier>/chunk=<c>`; delete
  *    each listed path and `_delete_staging`.
  *  - `_restore_pending` (paths to remove): every
  *    `_restore_staging/<entry>` → `<entry>`; delete each listed path
  *    and `_restore_staging`.
  *  - `_rebuild_pending` (empty): `cells_rebuild` → `cells`,
  *    `centroids_rebuild` → `centroids`, each if still present. */
private[graft] final class StagedSwap(conf: Configuration, root: String, name: String) {
  import StagedSwap._

  /** Where the verb writes the new generation before committing. */
  val staging: String = s"$root/_${name}_staging"
  private val marker = new Path(root, s"_${name}_pending")
  private def fs = marker.getFileSystem(conf)

  /** A committed plan has not finished: some targets may be mid-swap. */
  def pending: Boolean = fs.exists(marker)

  /** Start a new generation: discard a crashed predecessor's staging
    * (it never committed, so nothing refers to it) and return the
    * staging path. Refuses while a plan is pending — its staging holds
    * the only copy of some targets. */
  def begin(): String = {
    require(!pending, s"the $name swap at $root is still pending — complete it first")
    fs.delete(new Path(staging), true)
    staging
  }

  /** Commit the plan, then run it. */
  def commit(plan: Seq[Step]): Unit = { mark(plan); complete() }

  /** The commit point alone: the plan lands in the marker whole (written
    * inside staging, then renamed), so a crash mid-write leaves no
    * marker rather than a truncated plan. */
  private[graft] def mark(plan: Seq[Step]): Unit = {
    require(plan.nonEmpty, s"empty $name swap plan")
    val targets = plan.map(_.target)
    require(targets.distinct.size == targets.size,
      s"$name swap plan names a target twice: ${targets.mkString(", ")}")
    val fs = this.fs
    val tmp = new Path(staging, "_plan")
    val out = fs.create(tmp, true)
    try out.write(plan.map(_.line).mkString("\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"could not commit the $name swap plan at $marker")
  }

  /** Run a pending plan to its end, then clear staging and the marker.
    * Returns whether a plan was pending. */
  def complete(): Boolean = {
    val fs = this.fs
    if (!fs.exists(marker)) return false
    val text = {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def unreadable(why: String) = new IllegalStateException(
      s"the $name swap marker at $marker $why: a marker written before the plan format " +
        "(an earlier graft version) — finish that swap by hand as the StagedSwap scaladoc " +
        "lists (move each staged copy under the store root over its target), then delete " +
        "the marker")
    val plan = text.split("\n").toSeq.filter(_.nonEmpty).map(l => l.split(" ") match {
      case Array("swap", staged, target) => Swap(staged, target)
      case Array("remove", target) => Remove(target)
      case _ => throw unreadable(s"holds the unreadable step '$l'")
    })
    if (plan.isEmpty) throw unreadable("holds no plan")
    plan.foreach(run)
    fs.delete(new Path(staging), true)
    fs.delete(marker, false)
    true
  }

  /** One step of a plan. */
  private[graft] def run(step: Step): Unit = {
    val fs = this.fs
    val target = new Path(root, step.target)
    step match {
      case Swap(staged, _) =>
        val s = new Path(staging, staged)
        if (fs.exists(s)) {
          fs.delete(target, true) // a half-renamed target re-swaps whole
          if (!fs.rename(s, target))
            throw new java.io.IOException(s"$name swap failed: $s -> $target")
        }
      case Remove(_) => fs.delete(target, true)
    }
  }
}

private[graft] object StagedSwap {
  sealed trait Step {
    def target: String
    private[StagedSwap] def line: String
  }

  /** Move `staged` (under the staging directory) over `target`. */
  final case class Swap(staged: String, target: String) extends Step {
    require(!(staged + target).exists(_.isWhitespace), s"whitespace in swap paths: $staged $target")
    private[StagedSwap] def line = s"swap $staged $target"
  }

  /** Delete `target` without replacement. */
  final case class Remove(target: String) extends Step {
    require(!target.exists(_.isWhitespace), s"whitespace in remove path: $target")
    private[StagedSwap] def line = s"remove $target"
  }
}
