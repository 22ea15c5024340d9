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
}
