package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.meta.SchemaRegistry
import graft.sinks.ParquetUpsertSink

/** Registry-update → controlled-restart protocol under load (SURVEY
  * §3.2/§7.5, round-10 verdict item 5): a 30K-event changelog is
  * drained in TWO query incarnations sharing one checkpoint — the
  * stream stops after the pre-DDL half, the DDL + post-DDL half
  * lands, and the restarted query picks up exactly where the first
  * left off. Pins, across the restart boundary:
  *
  *  - NO EVENT LOST OR DOUBLE-READ: the foreachBatch row counter
  *    over both incarnations equals the written event count exactly
  *    (a replay or a skipped shard would break the equality);
  *  - EXACTLY-ONCE-PER-KEY MATERIALIZED STATE: every one of the 2000
  *    keys holds precisely its LAST event's values — v1 rows decode
  *    through the evolved schema, v0 stragglers that arrive AFTER
  *    the restarted query applied the DDL (in-flight events from an
  *    old producer) decode through their pinned v0 schema with the
  *    new column null-filled;
  *  - the registry version and ddl watermark survive the restart
  *    (same registry instance — the reference's restart is
  *    in-process too: the service survives, the per-table query
  *    restarts).
  *
  * The sf1-scale STREAMING soak (multi-batch drain + crash) is the
  * curation runbook's territory (SCALE.md); this spec is the
  * correctness pin for the restart protocol itself.
  */
class EvolutionRestartSoakSpec extends SparkSpec {
  import spark.implicits._

  private val nKeys = 2000

  private def dml(seq: Long, ver: Int, id: Long, v: Long,
      c: Option[String]): String = {
    val op = if (seq < nKeys) "insert" else "update"
    val cPart = c.map(s => s""","c":"$s"""").getOrElse("")
    s"""{"db":"db1","table":"t1","op":"$op","ts":${1700000000000L + seq},""" +
      s""""pos":"g:$seq","seq":$seq,"tableVersion":$ver,""" +
      s""""after":{"id":"$id","v":"$v"$cPart},"before":null}"""
  }

  private def ddl(seq: Long, sql: String): String =
    s"""{"db":"db1","table":"t1","op":"ddl","ts":${1700000000000L + seq},""" +
      s""""pos":"g:$seq","seq":$seq,"tableVersion":0,""" +
      s""""after":{"sql":"$sql"},"before":null}"""

  test("controlled restart across a DDL boundary under 30K-event load: " +
    "no event lost or double-read, exactly-once-per-key state") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE t1 (id BIGINT PRIMARY KEY, v BIGINT)",
      "db1")

    val logDir = Files.createTempDirectory("evo-soak-log").toString
    val sinkDir = Files.createTempDirectory("evo-soak-sink").toString
    val ckpt = Files.createTempDirectory("evo-soak-ckpt").toString

    // phase-A shards: seqs 0..19999, key = seq % nKeys, v = seq
    def preLines(from: Long, until: Long): String =
      (from until until).map(s => dml(s, 0, s % nKeys, s, None))
        .mkString("\n")
    Files.write(Paths.get(logDir, "pre-a.jsonl"),
      preLines(0, 10000).getBytes("UTF-8"))
    Files.write(Paths.get(logDir, "pre-b.jsonl"),
      preLines(10000, 20000).getBytes("UTF-8"))

    val sink = new ParquetUpsertSink(sinkDir)
    val routes = Seq(Pipeline.Route("db1", "t1", registry.current("db1", "t1").get))
    var seen = 0L
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changelog")
        .option("path", logDir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          seen += b.count()
          Pipeline.processBatch(b, routes, sink, id,
            Some(Pipeline.Evolution(registry)))
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(300000), "drain timed out")
    }

    // ---- incarnation 1: pre-DDL load only ----
    drain()
    assert(seen == 20000L, s"phase A read $seen events, wrote 20000")
    assert(registry.current("db1", "t1").get.version == 0)
    val stateA = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"v").as[(Long, Long)].collect()
    assert(stateA.length == nKeys)
    // last pre event for key k is seq 18000+k
    assert(stateA.forall { case (k, v) => v == 18000L + k },
      s"phase A state wrong, e.g. ${stateA.take(3).toSeq}")

    // ---- DDL + post-DDL + v0 stragglers land; controlled restart ----
    val post = new StringBuilder
    post ++= ddl(20000, "ALTER TABLE t1 ADD COLUMN c VARCHAR(20)")
    (20001L until 30001L).foreach { s =>
      post += '\n'
      post ++= dml(s, 1, (s - 20001) % nKeys, s, Some("p" + s))
    }
    // v0 stragglers AFTER the DDL: keys 0..49, seq 30001..30050 —
    // in-flight events from a producer that has not restarted yet
    (30001L until 30051L).foreach { s =>
      post += '\n'
      post ++= dml(s, 0, s - 30001, s, None)
    }
    Files.write(Paths.get(logDir, "post.jsonl"),
      post.toString.getBytes("UTF-8"))

    drain()
    assert(seen == 30051L,
      s"total read $seen events across both incarnations, wrote 30051 — " +
        "a mismatch means the restart lost or double-read events")
    assert(registry.current("db1", "t1").get.version == 1)
    assert(registry.current("db1", "t1").get.columnNames ==
      Seq("id", "v", "c"))

    val state = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"v", $"c").as[(Long, Long, Option[String])]
      .collect().sortBy(_._1)
    assert(state.length == nKeys)
    state.foreach { case (k, v, c) =>
      if (k < 50) {
        // straggler v0 event (seq 30001+k) is the key's LAST event:
        // decodes through pinned v0, new column null-filled
        assert(v == 30001L + k && c.isEmpty,
          s"key $k: expected straggler (${30001L + k}, None), got ($v, $c)")
      } else {
        // last v1 event for key k is seq 28001+k
        assert(v == 28001L + k && c.contains("p" + (28001L + k)),
          s"key $k: expected v1 (${28001L + k}), got ($v, $c)")
      }
    }
  }
}
