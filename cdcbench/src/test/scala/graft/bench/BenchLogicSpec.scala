package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own logic: generator, last-state
  * model, freshness, percentiles and the CDC output check. */
class BenchLogicSpec extends AnyFunSuite {

  private val tables = Changelog.Tables

  private def log(seed: Long): Seq[String] = {
    val g = new ChangeGen(seed, tables, 64, 0.1)
    (g.insertAll(0L) ++ Vector.fill(500)(g.next(0L))).map(_.json(tables))
  }

  test("the generator is deterministic for a seed") {
    assert(log(7) == log(7))
    assert(log(7) != log(8))
    val ops = log(7).map(l => l.split("\"op\":\"")(1).takeWhile(_ != '"')).toSet
    assert(ops == Set("insert", "update", "delete"))
  }

  private def ev(seq: Long, op: String, v: String) =
    Changelog.Event(seq, 0, op, 1L, if (op == "delete") null else Array("7", v, "1.5"), 0L)

  /** FIXTURES A.5: insert → update → delete → insert of one key inside
    * one micro-batch, then the same batch replayed. */
  private val a5 = Seq(ev(10, "insert", "a"), ev(11, "update", "b"),
    ev(12, "delete", ""), ev(13, "insert", "c"))

  test("the last-state model resolves the A.5 sequence and ignores a replayed batch") {
    val m = new LastState(tables, 4)
    (a5 ++ a5).foreach(m.apply)
    assert(m.isLive(0, 1))
    val row = (0, 1L, 13L, Seq("7", "c", "1.5"))
    assert(TargetCheck.verify(m, Seq(row), tables).isEmpty)
    assert(TargetCheck.verify(m, Seq(row.copy(_3 = 11L)), tables).nonEmpty)
    // an older batch replayed after a newer one changes nothing either
    a5.take(2).foreach(m.apply)
    assert(TargetCheck.verify(m, Seq(row), tables).isEmpty)
  }

  test("the output check rejects a target that is missing one delete") {
    val m = new LastState(tables, 4)
    a5.take(3).foreach(m.apply) // ends deleted
    m(Changelog.Event(20, 1, "insert", 2L, Array("sku-1", "3", "9.5"), 0L))
    val live = (1, 2L, 20L, Seq("sku-1", "3", "9.5"))
    assert(TargetCheck.verify(m, Seq(live), tables).isEmpty)
    val stale = (0, 1L, 11L, Seq("7", "b", "1.5"))
    val msg = TargetCheck.verify(m, Seq(live, stale), tables)
    assert(msg.exists(_.contains("deleted key")))
    assert(TargetCheck.verify(m, Nil, tables).exists(_.contains("rows")))
  }

  test("freshness is batch end minus creation, from a hand-made progress log") {
    val batches = Seq(Stats.BatchEnd(19, 2500), Stats.BatchEnd(9, 1000),
      Stats.BatchEnd(29, 4000))
    val events = Seq((0L, 100L), (9L, 900L), (10L, 1200L), (25L, 3000L), (35L, 3500L))
    val (lat, missing) = Stats.freshness(batches, events)
    assert(lat == Vector(900.0, 100.0, 1300.0, 1000.0))
    assert(missing == 1)
    // a re-committed (empty) batch with the same end offset does not
    // move an event's freshness later
    val (again, _) = Stats.freshness(batches :+ Stats.BatchEnd(9, 1700), events.take(1))
    assert(again == Vector(900.0))
  }

  test("percentiles interpolate between closest ranks") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(math.abs(Stats.quantile((1 to 10).map(_.toDouble), 0.9) - 9.1) < 1e-9)
    assert(math.abs(Stats.quantile((1 to 100).map(_.toDouble), 0.99) - 99.01) < 1e-9)
    assert(Stats.quantile(Seq(3.0, 1.0, 2.0), 0.0) == 1.0)
    assert(Stats.quantile(Seq(3.0, 1.0, 2.0), 1.0) == 3.0)
    intercept[IllegalArgumentException](Stats.quantile(Nil, 0.5))
  }

  test("warm-up levels off once the trailing window stops falling by more than tol") {
    def u(xs: Double*) = xs.toSeq
    // too few units for two windows of two
    assert(!Stats.levelled(Seq(u(10), u(5), u(4.6)), 2, 0.1))
    // the last two units are 20% faster than the two before: still warming
    assert(!Stats.levelled(Seq(u(10, 10), u(10, 10), u(8, 8), u(8, 8)), 2, 0.1))
    // medians, so one slow sample in the earlier window does not hide a level trend
    assert(Stats.levelled(Seq(u(8, 8, 12), u(8, 8, 8), u(7.5, 7.5, 7.5), u(7.5, 7.5, 7.5)), 2, 0.1))
    assert(Stats.levelled(Seq(u(8, 8), u(8, 8), u(7.6, 7.4), u(7.5, 7.7)), 2, 0.1))
    // a slower trailing window counts as levelled
    assert(Stats.levelled(Seq(u(4), u(4), u(5), u(5)), 2, 0.1))
    val times = Iterator(9.0, 6.0, 5.0, 4.9, 4.8, 4.7, 4.6)
    val (units, ok) = Harness.warmUp(3, 7)(Seq(times.next()))
    assert(units.flatten == Seq(9.0, 6.0, 5.0, 4.9, 4.8, 4.7) && ok)
    val falling = Iterator.iterate(10.0)(_ * 0.8)
    val (capped, ok2) = Harness.warmUp(2, 5)(Seq(falling.next()))
    assert(capped.size == 5 && !ok2)
  }
}
