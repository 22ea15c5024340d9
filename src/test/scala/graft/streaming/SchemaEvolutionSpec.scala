package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.meta.SchemaRegistry
import graft.sinks.ParquetUpsertSink

/** Runtime schema evolution end-to-end: DDL arrives IN the
  * changelog, old- and new-version DML decode through their pinned
  * schemas, the sink sees the evolved shape. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def dml(seq: Long, ver: Int, after: String): String =
    s"""{"db":"db1","table":"t1","op":"insert","ts":${1700000000000L + seq},""" +
      s""""pos":"g:$seq","seq":$seq,"tableVersion":$ver,"after":$after,"before":null}"""

  private def ddl(seq: Long, sql: String): String =
    s"""{"db":"db1","table":"t1","op":"ddl","ts":${1700000000000L + seq},""" +
      s""""pos":"g:$seq","seq":$seq,"tableVersion":0,"after":{"sql":"$sql"},"before":null}"""

  private def routeT1(registry: SchemaRegistry): Seq[Pipeline.Route] =
    Seq(Pipeline.Route("db1", "t1", registry.current("db1", "t1").get))

  test("DDL in-stream: add column mid-batch, version-pinned decode") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE t1 (id BIGINT PRIMARY KEY, k INT)", "db1")

    val logDir = Files.createTempDirectory("evo-log").toString
    val sinkDir = Files.createTempDirectory("evo-sink").toString
    val ckpt = Files.createTempDirectory("evo-ckpt").toString
    Files.write(Paths.get(logDir, "s.jsonl"), Seq(
      dml(0, 0, """{"id":"1","k":"10"}"""),
      ddl(1, "ALTER TABLE t1 ADD COLUMN c VARCHAR(20)"),
      dml(2, 1, """{"id":"2","k":"20","c":"new"}"""),
      // a v0 straggler after the DDL (in-flight event): decodes with
      // its pinned v0 schema, new column null-filled
      dml(3, 0, """{"id":"3","k":"30"}""")
    ).mkString("\n").getBytes("UTF-8"))

    val sink = new ParquetUpsertSink(sinkDir)
    val q = spark.readStream.format("graft-changelog")
      .option("path", logDir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipeline.processBatch(b, routeT1(registry), sink, id,
          Some(Pipeline.Evolution(registry)))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    assert(registry.current("db1", "t1").get.columnNames == Seq("id", "k", "c"))
    assert(registry.current("db1", "t1").get.version == 1)

    val state = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"k", $"c").as[(Long, Int, Option[String])]
      .collect().sortBy(_._1)
    assert(state.toSeq == Seq(
      (1L, 10, None), (2L, 20, Some("new")), (3L, 30, None)))
  }

  test("rename column via DDL changes subsequent decode") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE t1 (id BIGINT PRIMARY KEY, k INT)", "db1")

    val logDir = Files.createTempDirectory("evo2-log").toString
    val sinkDir = Files.createTempDirectory("evo2-sink").toString
    val ckpt = Files.createTempDirectory("evo2-ckpt").toString
    Files.write(Paths.get(logDir, "s.jsonl"), Seq(
      dml(0, 0, """{"id":"1","k":"10"}"""),
      ddl(1, "ALTER TABLE t1 RENAME COLUMN k TO k9"),
      dml(2, 1, """{"id":"2","k9":"20"}""")
    ).mkString("\n").getBytes("UTF-8"))

    val sink = new ParquetUpsertSink(sinkDir)
    val q = spark.readStream.format("graft-changelog")
      .option("path", logDir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipeline.processBatch(b, routeT1(registry), sink, id,
          Some(Pipeline.Evolution(registry)))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val state = spark.read.parquet(s"$sinkDir/db1.t1")
      .select($"id", $"k9").as[(Long, Option[Int])].collect().sortBy(_._1)
    // rename lineage: the v0 row's `k` value lands under `k9` — the
    // same physical column, not a null-out
    assert(state.toSeq == Seq((1L, Some(10)), (2L, Some(20))))
  }

  test("DDL forwarding: ALTER lands on a live Derby target before the DML that needs it") {
    // Closes the reference's declared-but-dead DDLMsg path: the
    // in-stream ALTER is forwarded to a REAL JDBC target (in-memory
    // Derby) at the top of the batch, so the same batch's post-DDL
    // rows — which carry the new column — insert cleanly. If the
    // forwarding ordering were wrong, Derby itself would reject the
    // INSERT on the unknown column.
    import graft.meta.TableDef
    import graft.sinks.{DdlForward, JdbcDdlForwarder}
    val url = "jdbc:derby:memory:ddlfwd;create=true"
    def connect() = java.sql.DriverManager.getConnection(url)
    locally {
      val c = connect()
      try {
        val st = c.createStatement()
        try st.executeUpdate(
          """CREATE TABLE "t1" ("id" BIGINT PRIMARY KEY, "k" INTEGER)""")
        finally st.close()
      } finally c.close()
    }
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE t1 (id BIGINT PRIMARY KEY, k INT)", "db1")

    val logDir = Files.createTempDirectory("evo3-log").toString
    val ckpt = Files.createTempDirectory("evo3-ckpt").toString
    Files.write(Paths.get(logDir, "s.jsonl"), Seq(
      dml(0, 0, """{"id":"1","k":"10"}"""),
      ddl(1, "ALTER TABLE t1 ADD COLUMN c VARCHAR(20)"),
      dml(2, 1, """{"id":"2","k":"20","c":"new"}""")
    ).mkString("\n").getBytes("UTF-8"))

    val fwd = new JdbcDdlForwarder(() => connect(), DdlForward.Derby)
    val fallbacks = scala.collection.mutable.ArrayBuffer
      .empty[graft.meta.DdlStatement]
    // one route: only db1.t1 forwards, to the unqualified target "t1"
    // (an evolving route takes its columns from the registry)
    val routes = Seq(Pipeline.Route("db1", "t1", TableDef("", "t1", Nil)))
    val forward: (graft.meta.DdlStatement, TableDef) => Boolean = { (stmt, t) =>
      val landed = fwd.forward(stmt, t)
      if (!landed) fallbacks += stmt
      landed
    }
    // plain-INSERT Derby sink (the upsert dialect is MySQL's; the
    // point here is the DDL ordering, and all test ops are inserts)
    val derbySink = new Pipeline.BatchSink {
      override def write(batch: org.apache.spark.sql.DataFrame,
          t: TableDef, batchId: Long): Unit = {
        val cols = t.columnNames
        val rows = batch
          .select(cols.map(org.apache.spark.sql.functions.col): _*)
          .collect()
        if (rows.nonEmpty) {
          val conn = connect()
          try rows.foreach { r =>
            val sql = s"""INSERT INTO "${t.name}" """ +
              cols.map("\"" + _ + "\"").mkString("(", ",", ")") +
              " VALUES " + cols.map(_ => "?").mkString("(", ",", ")")
            val ps = conn.prepareStatement(sql)
            try {
              cols.zipWithIndex.foreach { case (c, i) =>
                ps.setObject(i + 1, r.getAs[Any](c))
              }
              ps.executeUpdate()
            } finally ps.close()
          } finally conn.close()
        }
      }
    }
    val q = spark.readStream.format("graft-changelog")
      .option("path", logDir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipeline.processBatch(b, routes, derbySink, id,
          Some(Pipeline.Evolution(registry, forward)))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    assert(fallbacks.isEmpty, s"ADD COLUMN must forward, not fall back: $fallbacks")
    // the target evolved AND the post-DDL row landed in the new column
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "id", "k", "c" FROM "t1" ORDER BY "id"""")
      val got = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getLong(1), r.getInt(2), Option(r.getString(3))))
        .toList
      assert(got == List((1L, 10, None), (2L, 20, Some("new"))), got.toString)
    } finally c.close()
    // at-least-once replay: re-forwarding the landed ALTER is a no-op
    import graft.meta.{ColumnDef, DdlStatement => D}
    assert(fwd.forward(
      D.AddColumn("t1", ColumnDef("c", "varchar(20)"), D.Default),
      TableDef("", "t1", Nil)))
  }

  test("replayed batch does not re-apply DDL (at-least-once idempotence)") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE t1 (id BIGINT PRIMARY KEY, k INT)", "db1")
    val batch = Seq(
      ("db1", "t1", "ddl", new java.sql.Timestamp(0L), "g:1", 1L, 0,
        Map("sql" -> "ALTER TABLE t1 ADD COLUMN c VARCHAR(10)"),
        null.asInstanceOf[Map[String, String]])
    ).toDF("db", "table", "op", "ts", "pos", "seq", "tableVersion",
      "after", "before")
    assert(SchemaEvolution.applyDdl(batch, registry) == 1)
    assert(registry.current("db1", "t1").get.version == 1)
    // replay the same batch: no new version
    assert(SchemaEvolution.applyDdl(batch, registry) == 0)
    assert(registry.current("db1", "t1").get.version == 1)
  }
}
