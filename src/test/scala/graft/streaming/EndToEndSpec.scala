package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.meta.{ColumnDef, TableDef}
import graft.sinks.ParquetUpsertSink

/** The complete reference dataflow (SURVEY §3.1) through the
  * engine's own pieces: JSONL changelog → DSv2 graft-changelog
  * source (GTID-seq offsets) → route → compact → parquet upsert
  * sink, with checkpointed resume. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val target = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("k", "int"),
    ColumnDef("c", "varchar(120)")))

  private def line(seq: Long, op: String, id: Int, k: Int, c: String): String =
    s"""{"db":"db1","table":"t1","op":"$op","ts":${1700000000000L + seq},""" +
      s""""pos":"gtid:$seq","seq":$seq,"tableVersion":0,""" +
      s""""after":{"id":"$id","k":"$k","c":"$c"},"before":null}"""

  test("changelog files -> DSv2 source -> pipeline -> upsert sink") {
    val logDir = Files.createTempDirectory("e2e-log").toString
    val sinkDir = Files.createTempDirectory("e2e-sink").toString
    val ckpt = Files.createTempDirectory("e2e-ckpt").toString

    Files.write(Paths.get(logDir, "shard0.jsonl"), Seq(
      line(0, "insert", 1, 10, "a"),
      line(1, "update", 1, 11, "a2"),
      line(2, "insert", 2, 20, "b"),
      line(3, "delete", 2, 0, ""),
      line(4, "insert", 3, 30, "c")
    ).mkString("\n").getBytes("UTF-8"))

    val envelope = spark.readStream.format("graft-changelog")
      .option("path", logDir).option("maxEventsPerTrigger", "2").load()
    val sink = new ParquetUpsertSink(sinkDir)
    val q = Pipeline.start(envelope, Seq(Pipeline.Route("db1", "t1", target)),
      sink, ckpt, trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)

    val state = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"k", $"c").as[(Long, Int, String)].collect().sortBy(_._1)
    assert(state.toSeq == Seq((1L, 11, "a2"), (3L, 30, "c")))

    // tail grows; resume from checkpoint picks up only the new slice
    Files.write(Paths.get(logDir, "shard1.jsonl"), Seq(
      line(5, "update", 3, 31, "c2"),
      line(6, "insert", 2, 22, "b2")
    ).mkString("\n").getBytes("UTF-8"))

    val q2 = Pipeline.start(
      spark.readStream.format("graft-changelog")
        .option("path", logDir).option("maxEventsPerTrigger", "2").load(),
      Seq(Pipeline.Route("db1", "t1", target)), sink, ckpt,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val state2 = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"k", $"c").as[(Long, Int, String)].collect().sortBy(_._1)
    assert(state2.toSeq ==
      Seq((1L, 11, "a2"), (2L, 22, "b2"), (3L, 31, "c2")))
  }

  test("static routes drop in-stream DDL events instead of landing them as rows") {
    val logDir = Files.createTempDirectory("e2e-ddl-log").toString
    val sinkDir = Files.createTempDirectory("e2e-ddl-sink").toString
    val ckpt = Files.createTempDirectory("e2e-ddl-ckpt").toString
    Files.write(Paths.get(logDir, "shard0.jsonl"), Seq(
      line(0, "insert", 1, 10, "a"),
      """{"db":"db1","table":"t1","op":"ddl","ts":1700000000001,""" +
        """"pos":"gtid:1","seq":1,"tableVersion":0,""" +
        """"after":{"sql":"ALTER TABLE t1 ADD COLUMN d INT"},"before":null}""",
      line(2, "insert", 2, 20, "b")
    ).mkString("\n").getBytes("UTF-8"))

    val q = Pipeline.start(
      spark.readStream.format("graft-changelog").option("path", logDir).load(),
      Seq(Pipeline.Route("db1", "t1", target)), new ParquetUpsertSink(sinkDir),
      ckpt, trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception)

    val state = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"op").as[(Option[Long], String)].collect().sortBy(_._1)
    assert(state.toSeq == Seq((Some(1L), "insert"), (Some(2L), "insert")))
  }
}
