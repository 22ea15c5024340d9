package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.meta.{ColumnDef, TableDef}
import graft.sinks.ParquetUpsertSink
import graft.streaming.Pipeline

/** CDC drain fixture — the reference's ACTUAL workload shape (SURVEY
  * §3.1): `events.parquet` written once as an insert-only JSONL
  * changelog, then drained by DSv2 graft-changelog source → route →
  * typed decode → per-key compaction → parquet upsert sink, one
  * AvailableNow pass over the whole log. rows/s compares directly
  * against the reference envelope floor (~3,400 rows/s/table derived
  * from its batch constants, BASELINE.md). Bench and `Measure cdc`
  * both time it.
  */
final class CdcDrain(spark: SparkSession, sfDir: String, shards: Int) {

  val dir: Path = Files.createTempDirectory("graft-cdc-drain")
  val logDir: String = dir.resolve("log").toString

  /** Events in the log: the row count a full drain lands. */
  val rows: Long = {
    // ts → Long ns regardless of the parquet encoding (events.parquet
    // has shipped as both int64-nanos and timestamp[us] — see
    // Tables.normalizeTsNs)
    val ev = Tables.normalizeTsNs(spark.read.parquet(s"$sfDir/events.parquet"))
    // one sorted range-partitioned file per shard: seqs must be
    // monotone WITHIN a file (the source's early-stop contract for
    // append-only shard files)
    ev.select(col("event_id").as("seq"), to_json(struct(
        lit("app").as("db"), lit("events").as("table"),
        lit("insert").as("op"),
        expr("ts div 1000000").as("ts"),
        concat(lit("gtid:"), col("event_id")).as("pos"),
        col("event_id").as("seq"), lit(0).as("tableVersion"),
        map(lit("event_id"), col("event_id").cast("string"),
          lit("user_id"), col("user_id").cast("string"),
          lit("event_type"), col("event_type"),
          lit("value"), col("value").cast("string")).as("after")))
        .as("value"))
      .repartitionByRange(shards, col("seq")).sortWithinPartitions(col("seq"))
      .select(col("value")).write.mode("overwrite").text(logDir)
    Files.list(dir.resolve("log")).iterator().asScala
      .filter(_.toString.endsWith(".txt")).foreach { p =>
        Files.move(p, p.resolveSibling(p.getFileName.toString + ".jsonl"))
      }
    ev.count()
  }

  /** Where the drain tagged `tag` lands its upsert target. */
  def sinkDir(tag: String): String = dir.resolve(s"sink-$tag").toString

  /** Wall seconds of one AvailableNow drain of the whole log into a
    * fresh sink and checkpoint; None when it did not finish — a
    * timed-out pipeline processed only part of the log, and rows/secs
    * would overstate throughput exactly when it is slowest. */
  def drain(tag: String): Option[Double] = {
    val t0 = System.nanoTime()
    val q = Pipeline.start(
      spark.readStream.format("graft-changelog").option("path", logDir).load(),
      Seq(Pipeline.Route("app", "events", CdcDrain.target)),
      new ParquetUpsertSink(sinkDir(tag)), dir.resolve(s"ckpt-$tag").toString,
      trigger = Trigger.AvailableNow())
    if (q.awaitTermination(600000)) Some((System.nanoTime() - t0) / 1e9)
    else { q.stop(); None }
  }
}

object CdcDrain {
  val target: TableDef = TableDef("app", "events", Seq(
    ColumnDef("event_id", "bigint", isPrimaryKey = true),
    ColumnDef("user_id", "bigint"),
    ColumnDef("event_type", "varchar(32)"),
    ColumnDef("value", "double")))
}
