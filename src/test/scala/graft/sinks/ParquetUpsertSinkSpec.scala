package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.meta.{ColumnDef, TableDef}

import SwapFaults.{Injected, failing}

class ParquetUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private val target = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("v", "int")))

  private def batch(rows: (Long, Int, String, Long)*) =
    rows.toSeq.toDF("id", "v", "op", "seq")

  private val b0 = batch((1L, 10, "insert", 1), (2L, 20, "insert", 2),
    (3L, 30, "insert", 3))
  private val b1 = batch((2L, 21, "update", 4), (3L, 0, "delete", 5),
    (4L, 40, "insert", 6))

  private def state(sink: ParquetUpsertSink) =
    sink.read(target).select($"id", $"v").as[(Long, Int)].collect()
      .sortBy(_._1).toSeq

  test("a fault after move-aside, then the replayed write, equals a " +
      "one-shot write") {
    val dir = Files.createTempDirectory("pq-sink-torn").toString
    val sink = new ParquetUpsertSink(dir)
    sink.write(b0, target, 0)
    val live = s"$dir/db1.t1"
    intercept[Injected] {
      failing(Swap.MoveAside, _ == live)(sink.write(b1, target, 1))
    }
    assert(!Files.exists(Paths.get(live)), "the fault tore the swap")
    // an open recovers the pre-batch state
    assert(state(sink) == Seq((1L, 10), (2L, 20), (3L, 30)))
    sink.write(b1, target, 1) // at-least-once replay

    val oneShot = new ParquetUpsertSink(
      Files.createTempDirectory("pq-sink-clean").toString)
    oneShot.write(b0, target, 0)
    oneShot.write(b1, target, 1)
    assert(state(sink) == state(oneShot))
    assert(state(sink) == Seq((1L, 10), (2L, 21), (4L, 40)))
    assert(Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSeq == Seq("db1.t1"))
  }

  test("through the pipeline, several events per key in one batch equal " +
      "the seq-order oracle into an absent and an existing target, and a " +
      "replay leaves the same state") {
    import MergeCases.{drive, oracle, prior}
    Seq("absent" -> Nil, "existing" -> prior).foreach { case (what, before) =>
      val sink = new ParquetUpsertSink(
        Files.createTempDirectory(s"pq-sink-merge-$what").toString)
      if (before.nonEmpty) drive(spark, before, sink, 0)
      val want = oracle(before ++ MergeCases.batch)
      drive(spark, MergeCases.batch, sink, 1)
      assert(MergeCases.state(sink.read(MergeCases.target)) == want, what)
      drive(spark, MergeCases.batch, sink, 1) // at-least-once replay
      assert(MergeCases.state(sink.read(MergeCases.target)) == want,
        s"$what, replayed")
    }
  }

  test("through the pipeline, a pk-less table stays append-only") {
    import MergeCases.{drive, ev}
    val noPk = TableDef("db1", "log", Seq(ColumnDef("id", "bigint"),
      ColumnDef("v", "int")))
    val sink = new ParquetUpsertSink(
      Files.createTempDirectory("pq-sink-nopk").toString)
    drive(spark, Seq(ev(1, "insert", 1, 10, "log"), ev(2, "update", 1, 11, "log"),
      ev(3, "insert", 1, 10, "log")), sink, 0, noPk)
    drive(spark, Seq(ev(4, "insert", 1, 12, "log"), ev(5, "delete", 1, 0, "log")),
      sink, 1, noPk)
    // every non-delete event is a row, the repeated one included
    assert(MergeCases.state(sink.read(noPk)) ==
      Seq((1L, 10), (1L, 10), (1L, 11), (1L, 12)))
  }
}
