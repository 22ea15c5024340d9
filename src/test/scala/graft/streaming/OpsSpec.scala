package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.meta.{ColumnDef, TableDef}
import graft.sinks.ParquetUpsertSink

/** Metrics + registry (SURVEY §2 #29-31). */
class OpsSpec extends SparkSpec {

  private val target = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("k", "int"),
    ColumnDef("c", "varchar(120)")))

  test("metrics: observe + listener count rows and deletes per batch") {
    val logDir = Files.createTempDirectory("m-log").toString
    val ckpt = Files.createTempDirectory("m-ckpt").toString
    val sinkDir = Files.createTempDirectory("m-sink").toString
    Files.write(Paths.get(logDir, "s.jsonl"), (0 until 10).map { i =>
      val op = if (i % 5 == 0) "delete" else "insert"
      s"""{"db":"db1","table":"t1","op":"$op","ts":${1700000000000L + i},"pos":"g:$i","seq":$i,"tableVersion":0,"after":{"id":"$i","k":"$i","c":"x"},"before":null}"""
    }.mkString("\n").getBytes("UTF-8"))

    val collector = new Metrics.Collector
    spark.streams.addListener(collector)
    try {
      val env = Metrics.observed(
        Registry.source("changelog", spark, Map("path" -> logDir)))
      val q = Pipeline.start(env, Seq(Pipeline.Route("db1", "t1", target)),
        new ParquetUpsertSink(sinkDir), ckpt,
        trigger = Trigger.AvailableNow())
      q.awaitTermination(120000)
      // listener events are async; wait for delivery
      var tries = 0
      while (collector.rowsRead.sum() < 10 && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      val snap = collector.snapshot
      assert(snap("rows_read_total") == 10L)
      assert(snap("deletes_read_total") == 2L)
      assert(collector.batches.sum() >= 1L)
      // read delay = wall clock - newest event ts (fixture events sit
      // at 2023-11, so the gauge is large and positive); write delay
      // gauge picked up the sink's addBatch duration
      assert(snap("read_delay_time_seconds").asInstanceOf[Double] > 0.0)
      assert(snap("write_delay_time_seconds").asInstanceOf[Double] >= 0.0)
    } finally spark.streams.removeListener(collector)
  }

  test("metrics: read counters stay exact when three routes write concurrently") {
    val logDir = Files.createTempDirectory("m3-log").toString
    val ckpt = Files.createTempDirectory("m3-ckpt").toString
    val sinkDir = Files.createTempDirectory("m3-sink").toString
    val tables = Seq("t1", "t2", "t3")
    val lines = (0 until 60).map { i =>
      val op = if (i % 7 == 0) "delete" else "insert"
      s"""{"db":"db1","table":"${tables(i % 3)}","op":"$op","ts":${1700000000000L + i},"pos":"g:$i","seq":$i,"tableVersion":0,"after":{"id":"${i / 3}","k":"$i","c":"x"},"before":null}"""
    }
    Files.write(Paths.get(logDir, "s.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    val deletes = (0 until 60).count(_ % 7 == 0).toLong

    val collector = new Metrics.Collector
    spark.streams.addListener(collector)
    try {
      val env = Metrics.observed(
        Registry.source("changelog", spark, Map("path" -> logDir)))
      val routes = tables.map(t => Pipeline.Route("db1", t, target.copy(name = t)))
      val q = Pipeline.start(env, routes, new ParquetUpsertSink(sinkDir), ckpt,
        trigger = Trigger.AvailableNow())
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, q.exception)
      var tries = 0
      while (collector.rowsRead.sum() < 60 && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      Thread.sleep(300) // a double count would arrive late, not early
      val snap = collector.snapshot
      assert(snap("rows_read_total") == 60L)
      assert(snap("deletes_read_total") == deletes)
      tables.foreach(t => assert(Files.isDirectory(Paths.get(sinkDir, s"db1.$t"))))
    } finally spark.streams.removeListener(collector)
  }

  test("metrics HTTP endpoint serves Prometheus text format (≙ :7716/metrics)") {
    val collector = new Metrics.Collector
    collector.rowsRead.add(42)
    collector.deletesRead.add(7)
    collector.batches.increment()
    val http = MetricsHttp.start(collector, port = 0) // free port
    try {
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${http.port}$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body =
          if (code == 200)
            new String(conn.getInputStream.readAllBytes(), "UTF-8")
          else ""
        conn.disconnect()
        (code, body)
      }
      val (code, body) = get("/metrics")
      assert(code == 200)
      assert(body.contains("# TYPE graft_rows_read_total counter"))
      assert(body.contains("graft_rows_read_total 42"))
      assert(body.contains("graft_deletes_read_total 7"))
      assert(body.contains("graft_batches_total 1"))
      assert(body.contains("graft_last_input_rows_per_second 0.0"))
      // non-metrics paths 404 (the reference's REST API is no-op stubs)
      assert(get("/api/addRouter")._1 == 404)
    } finally http.stop()
  }

  test("registry: unknown names fail, built-ins resolve") {
    assert(Registry.sinkNames.contains("parquet-upsert"))
    assert(Registry.sourceNames.contains("changelog"))
    intercept[IllegalArgumentException] { Registry.sink("nope", Map.empty) }
  }
}
