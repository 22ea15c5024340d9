package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import SwapFaults.{Injected, failing}

/** The swap protocol on the local Hadoop file system, without Spark:
  * a dir's content is one `part` file holding a word. */
class SwapSpec extends AnyFunSuite {

  private val hfs = FileSystem.getLocal(new Configuration())

  private def root() =
    new Path(Files.createTempDirectory("swap").toUri)

  private def put(dir: Path, word: String): Unit = {
    val out = hfs.create(new Path(dir, "part"), true)
    try out.write(word.getBytes(UTF_8)) finally out.close()
  }

  private def content(dir: Path): Option[String] =
    if (!hfs.exists(dir)) None
    else {
      val in = hfs.open(new Path(dir, "part"))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }

  /** Names left in `dir` that only a swap makes. */
  private def leftovers(dir: Path): Seq[String] =
    hfs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(".aside-") || n.startsWith(".staging-")).toSeq

  private def asides(dir: Path): Seq[String] =
    leftovers(dir).filter(_.startsWith(".aside-"))

  test("a swap puts the staged content live and leaves no aside or staging") {
    val r = root()
    val live = new Path(r, "t")
    put(live, "old")
    Swap(hfs, live)(put(_, "new"))
    assert(content(live).contains("new"))
    assert(leftovers(r).isEmpty)
    // a first swap, with no live dir yet
    val fresh = new Path(r, "u")
    Swap(hfs, fresh)(put(_, "new"))
    assert(content(fresh).contains("new"))
    assert(leftovers(r).isEmpty)
  }

  test("a fault after every step: recover leaves live old or new, never " +
      "missing, and no aside; the next swap clears the stale staging") {
    val expected = Seq(Swap.ClearStaging -> "old", Swap.MoveAside -> "old",
      Swap.MoveIn -> "new", Swap.DropAside -> "new")
    expected.foreach { case (step, want) =>
      val r = root()
      val live = new Path(r, "t")
      put(live, "old")
      intercept[Injected] {
        failing(step, _ == live.toUri.getPath)(
          Swap(hfs, live)(put(_, "new")))
      }
      if (step == Swap.MoveAside) assert(!hfs.exists(live), "torn: live is aside")
      Swap.recover(hfs, live)
      assert(content(live).contains(want), s"after a fault at $step")
      assert(asides(r).isEmpty, s"after a fault at $step")
      Swap(hfs, live)(put(_, "next"))
      assert(content(live).contains("next"), s"after a fault at $step")
      assert(leftovers(r).isEmpty, s"after a fault at $step")
    }
  }

  test("a recover between the staged write and the commit (a reader " +
      "opening the dir) leaves live holding the new content") {
    val r = root()
    val live = new Path(r, "t")
    put(live, "old")
    Swap(hfs, live) { staged =>
      put(staged, "new")
      Swap.recover(hfs, live)
    }
    assert(content(live).contains("new"))
    assert(leftovers(r).isEmpty)
  }

  test("a recover between move-aside and move-in puts the old content " +
      "back, and the writer's move-in fails loudly instead of losing it") {
    val r = root()
    val live = new Path(r, "t")
    put(live, "old")
    val prev = Swap.faultHook
    Swap.faultHook = (step, at) =>
      if (step == Swap.MoveAside && at == live) Swap.recover(hfs, live)
    try intercept[IllegalStateException](Swap(hfs, live)(put(_, "new")))
    finally Swap.faultHook = prev
    assert(content(live).contains("old"))
    assert(asides(r).isEmpty)
    // the replayed write then swaps normally
    Swap(hfs, live)(put(_, "new"))
    assert(content(live).contains("new"))
    assert(leftovers(r).isEmpty)
  }

  test("a commit onto a torn dir that skipped recover fails loudly and " +
      "keeps the aside copy") {
    val r = root()
    val live = new Path(r, "t")
    put(Swap.aside(live), "old")
    intercept[IllegalStateException] {
      Swap.withStaging(hfs, live) { staged =>
        put(staged, "new")
        Swap.commit(hfs, live, staged)
      }
    }
    assert(content(Swap.aside(live)).contains("old"))
    Swap.recover(hfs, live)
    assert(content(live).contains("old"))
  }

  test("a move onto an existing destination fails loudly instead of nesting") {
    val r = root()
    val src = new Path(r, "a")
    val dst = new Path(r, "b")
    put(src, "a")
    put(dst, "b")
    intercept[IllegalStateException](Swap.move(hfs, src, dst))
    assert(content(src).contains("a") && content(dst).contains("b"))
    assert(!hfs.exists(new Path(dst, "a")))
    // a move whose rename fails is an error, not a silent no-op
    intercept[java.io.IOException](Swap.move(hfs, new Path(r, "none"), new Path(r, "c")))
  }

  test("a per-child commit with no staged dir removes live; a swap " +
      "whose write left nothing fails and keeps live") {
    val r = root()
    val table = new Path(r, "t")
    val live = new Path(table, "bucket=1")
    put(live, "old")
    intercept[IllegalStateException](Swap(hfs, live)(_ => ()))
    assert(content(live).contains("old"))
    Swap.withStaging(hfs, table)(staged =>
      Swap.commit(hfs, live, new Path(staged, "bucket=1")))
    assert(!hfs.exists(live))
    assert(leftovers(r).isEmpty && leftovers(table).isEmpty)
  }

  test("recover on one table never touches a sibling table's swap") {
    val r = root()
    val a = new Path(r, "a")
    put(a, "a")
    // sibling `a2`, whose name starts with `a`, is torn mid-swap:
    // live aside, staging written
    val a2 = new Path(r, "a2")
    put(Swap.aside(a2), "a2-old")
    put(Swap.staging(a2), "a2-new")
    put(Swap.staging(a), "stale")
    Swap.recover(hfs, a)
    assert(content(a).contains("a"))
    // staging may belong to a swap in flight: only step 1 clears it
    assert(content(Swap.staging(a)).contains("stale"))
    assert(content(Swap.aside(a2)).contains("a2-old"))
    assert(content(Swap.staging(a2)).contains("a2-new"))
    // recover on an intact or absent dir changes nothing else
    Swap.recover(hfs, new Path(r, "absent"))
    assert(!hfs.exists(new Path(r, "absent")))
    // a dir's listing recovers every torn child, here the sibling
    Swap.recoverChildren(hfs, r, hfs.listStatus(r).map(_.getPath).toSeq)
    assert(content(a2).contains("a2-old"))
    assert(asides(r).isEmpty)
  }
}
