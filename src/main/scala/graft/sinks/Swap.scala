package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe directory replacement: every sink, layout
  * compaction and persisted index that rewrites a directory goes
  * through [[apply]], and every entry point that reads or writes such
  * a directory opens it with [[open]], which calls [[recover]] first.
  *
  * The protocol, for a live dir `d` (all names are hidden siblings,
  * so Spark's file index never reads them as data or partitions):
  *
  *  1. clear stale staging `.staging-d`, then write the new content
  *     there;
  *  2. move `d` aside to `.aside-d` (skipped when `d` is absent);
  *  3. move the staged dir in as `d` — in a per-child [[commit]], a
  *     missing staged dir leaves `d` removed (a bucket whose every
  *     row was deleted);
  *  4. drop `.aside-d`.
  *
  * Nothing is deleted before its replacement is in place, so a crash
  * after any step leaves `d` holding the old or the new content, or
  * missing with the old content at `.aside-d`. [[recover]] puts that
  * aside copy back; any other aside copy is garbage. At-least-once
  * replay then re-runs the interrupted batch against the old
  * content, which the idempotent writers make harmless.
  *
  * Readers recover too, so [[recover]] may run while a writer is
  * mid-swap. It therefore never touches staging (step 1 of the next
  * swap clears a stale one), and the only move it makes — the aside
  * copy back into a missing `d` — makes the writer's own move-in
  * fail loudly instead of losing either copy.
  *
  * Staging and aside names are fixed per live dir: one directory is
  * rewritten by one writer at a time (a CDC batch's route groups
  * each own their target table), so recovery checks exact paths and
  * never lists, or touches, a sibling's swap.
  *
  * Everything goes through the live path's Hadoop [[FileSystem]] —
  * the one Spark writes the staged dir with — so hdfs/s3a roots work
  * like local ones. Hadoop's `rename` onto an existing directory
  * nests the source inside it, so every move checks its destination
  * is absent and fails loudly otherwise.
  */
object Swap {

  sealed trait Step
  case object ClearStaging extends Step
  case object MoveAside extends Step
  case object MoveIn extends Step
  case object DropAside extends Step

  /** Runs after each step with the live dir's path; tests throw from
    * it to leave a torn swap behind. A no-op otherwise. */
  @volatile private[graft] var faultHook: (Step, Path) => Unit = (_, _) => ()

  /** `dir`'s file system and `dir` qualified against it. */
  def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (hfs, hfs.makeQualified(p))
  }

  /** [[fs]], after recovering a torn swap of `dir`: how every entry
    * point opens a swapped dir. */
  def open(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val (hfs, p) = fs(spark, dir)
    recover(hfs, p)
    (hfs, p)
  }

  private[sinks] def staging(live: Path): Path =
    new Path(live.getParent, s".staging-${live.getName}")

  private[sinks] def aside(live: Path): Path =
    new Path(live.getParent, s".aside-${live.getName}")

  /** Replace `live` with what `write` puts at the staging path it is
    * given. A write that leaves no staged dir fails, keeping `live`. */
  def apply(hfs: FileSystem, live: Path)(write: Path => Unit): Unit =
    withStaging(hfs, live) { staged =>
      write(staged)
      if (!hfs.exists(staged)) throw new IllegalStateException(
        s"swap: the write left nothing at $staged; $live is kept")
      commit(hfs, live, staged)
    }

  /** Step 1 alone: run `body` on `dir`'s cleared staging dir, and drop
    * whatever it leaves there. A table-wide staged write whose
    * children [[commit]] one by one (the touched buckets) uses it. */
  def withStaging(hfs: FileSystem, dir: Path)(body: Path => Unit): Unit = {
    val staged = staging(dir)
    hfs.delete(staged, true)
    faultHook(ClearStaging, dir)
    body(staged)
    hfs.delete(staged, true)
  }

  /** Steps 2–4: move `staged` in as `live`; a missing `staged`
    * removes `live`. A torn `live` (missing, its old content aside)
    * fails: the caller skipped [[recover]], so `staged` was built
    * without the old content, and dropping the aside copy would lose
    * it. */
  def commit(hfs: FileSystem, live: Path, staged: Path): Unit = {
    val a = aside(live)
    if (hfs.exists(a)) {
      if (!hfs.exists(live)) throw new IllegalStateException(
        s"swap: $live is torn (its old content is at $a); recover it first")
      hfs.delete(a, true)
    }
    if (hfs.exists(live)) move(hfs, live, a)
    faultHook(MoveAside, live)
    if (hfs.exists(staged)) move(hfs, staged, live)
    faultHook(MoveIn, live)
    hfs.delete(a, true)
    faultHook(DropAside, live)
  }

  /** Undo a torn swap of `live`: a missing `live` gets its aside copy
    * back; otherwise the aside copy is garbage. */
  def recover(hfs: FileSystem, live: Path): Unit = {
    val a = aside(live)
    if (hfs.exists(a)) {
      if (hfs.exists(live)) hfs.delete(a, true) else move(hfs, a, live)
    }
  }

  /** [[recover]] every child of `dir` that a torn swap left an aside
    * copy of, given `dir`'s listing. */
  def recoverChildren(hfs: FileSystem, dir: Path,
      listing: Seq[Path]): Unit =
    listing.map(_.getName).filter(_.startsWith(".aside-")).foreach(n =>
      recover(hfs, new Path(dir, n.stripPrefix(".aside-"))))

  private[sinks] def move(hfs: FileSystem, src: Path, dst: Path): Unit = {
    if (hfs.exists(dst)) throw new IllegalStateException(
      s"swap: $dst already exists; moving $src onto it would nest it")
    hfs.mkdirs(dst.getParent)
    if (!hfs.rename(src, dst))
      throw new java.io.IOException(s"swap: could not move $src to $dst")
  }
}
