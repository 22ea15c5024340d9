package graft

import java.nio.file.{Files, Paths}

/** The CLI daemon (≙ cmd/qin_cdc.go) end-to-end: TOML config + DDL
  * schema script + changelog dir → graft.Main --available-now →
  * upserted sink state. This is the full "a reference user switches
  * engines" path: nothing but the config file drives the assembly. */
class MainSpec extends SparkSpec {
  import spark.implicits._

  /** `Main.main` in-process: its `getOrCreate` returns the shared test
    * session and sets the daemon's SQL conf on it, so every runtime
    * SQL conf it changed is put back for the later suites. */
  private def runMain(args: String*): Unit = {
    val before = spark.conf.getAll
    try Main.main(args.toArray)
    finally spark.conf.getAll.collect {
      case (k, v) if !before.get(k).contains(v) && spark.conf.isModifiable(k) => k
    }.foreach(k => before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
  }

  test("--config ... --available-now drains the log into the sink") {
    val dir = Files.createTempDirectory("main-e2e")
    val logDir = dir.resolve("log"); Files.createDirectories(logDir)
    val sinkDir = dir.resolve("sink").toString
    val ckpt = dir.resolve("ckpt").toString

    def line(seq: Long, op: String, id: Int, v: Int): String =
      s"""{"db":"shop","table":"items","op":"$op","ts":${1700000000000L + seq},""" +
        s""""pos":"g:$seq","seq":$seq,"tableVersion":0,""" +
        s""""after":{"id":"$id","v":"$v"},"before":null}"""
    Files.write(logDir.resolve("s.jsonl"), Seq(
      line(0, "insert", 1, 10), line(1, "insert", 2, 20),
      line(2, "update", 1, 11), line(3, "delete", 2, 0)
    ).mkString("\n").getBytes("UTF-8"))

    // multi-statement script: the routed table is the SECOND
    // statement — regression for applyScript (applySql parses only
    // the first statement of a script)
    val ddl = dir.resolve("schema.sql")
    Files.write(ddl,
      ("CREATE TABLE shop.audit (aid bigint primary key, note varchar(10));\n" +
        "CREATE TABLE shop.items (id bigint primary key, v int);")
        .getBytes("UTF-8"))

    val toml = dir.resolve("pipeline.toml")
    Files.write(toml,
      s"""[input]
         |type = "changelog"
         |path = "$logDir"
         |
         |[output]
         |type = "parquet-upsert"
         |dir = "$sinkDir"
         |
         |[meta]
         |ddl-file = "$ddl"
         |default-db = "shop"
         |
         |[[routers]]
         |source-schema = "shop"
         |source-table = "items"
         |""".stripMargin.getBytes("UTF-8"))

    runMain(
      "--config", toml.toString,
      "--checkpoint", ckpt,
      "--metrics-port", "0",
      "--available-now")

    val state = spark.read.parquet(s"$sinkDir/shop.items")
      .select($"id", $"v").as[(Long, Int)].collect().sortBy(_._1)
    assert(state.toSeq == Seq((1L, 11)),
      "update wins for id 1, delete removes id 2")
    // the daemon's 32 shuffle partitions did not outlive the call
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("binlog input: binary segments drive the same config-only path") {
    import graft.sources.{Binlog, BinlogWriter}
    import BinlogWriter._
    import Binlog.{Type => T}

    val dir = Files.createTempDirectory("main-binlog-e2e")
    val segDir = dir.resolve("binlog"); Files.createDirectories(segDir)
    val sinkDir = dir.resolve("sink").toString
    val ckpt = dir.resolve("ckpt").toString

    val sid = Array.tabulate(16)(i => (i + 1).toByte)
    val cols = Seq(Col(T.Long, 0), Col(T.Long, 0))
    def row(id: Long, value: Long) =
      Seq(v(new Buf().u32(id)), v(new Buf().u32(value)))
    def txn(gno: Long, kind: Int, rs: Seq[Seq[BinlogWriter.Val]]) = Seq(
      Binlog.GtidEvent -> gtid(sid, gno),
      Binlog.TableMapEvent -> tableMap(9, "shop", "items", cols),
      kind -> rows(kind, 9, 2, rs),
      Binlog.XidEvent -> xid(gno))
    Files.write(segDir.resolve("binlog.000001"), file(
      txn(1, Binlog.WriteRowsV2, Seq(row(1, 10), row(2, 20))) ++
        txn(2, Binlog.UpdateRowsV2, Seq(row(1, 10), row(1, 11))) ++
        txn(3, Binlog.DeleteRowsV2, Seq(row(2, 20)))))

    val ddl = dir.resolve("schema.sql")
    Files.write(ddl,
      "CREATE TABLE shop.items (id bigint primary key, v int);".getBytes("UTF-8"))

    val toml = dir.resolve("pipeline.toml")
    Files.write(toml,
      s"""[input]
         |type = "binlog"
         |path = "$segDir"
         |tables = "shop.items:id|v"
         |
         |[output]
         |type = "parquet-upsert"
         |dir = "$sinkDir"
         |
         |[meta]
         |ddl-file = "$ddl"
         |default-db = "shop"
         |
         |[[routers]]
         |source-schema = "shop"
         |source-table = "items"
         |""".stripMargin.getBytes("UTF-8"))

    runMain(
      "--config", toml.toString,
      "--checkpoint", ckpt,
      "--metrics-port", "0",
      "--available-now")

    val state = spark.read.parquet(s"$sinkDir/shop.items")
      .select($"id", $"v").as[(Long, Int)].collect().sortBy(_._1)
    assert(state.toSeq == Seq((1L, 11)),
      "binlog-decoded update wins for id 1, delete removes id 2")
  }

  test("[meta] evolve=true: in-stream DDL evolves the sink and forwards to a live JDBC target") {
    val dir = Files.createTempDirectory("main-evolve")
    val logDir = dir.resolve("log"); Files.createDirectories(logDir)
    val sinkDir = dir.resolve("sink").toString
    val ckpt = dir.resolve("ckpt").toString
    val url = "jdbc:derby:memory:mainfwd;create=true"
    locally {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.executeUpdate(
          """CREATE TABLE "tgt"."items" ("id" BIGINT PRIMARY KEY, "v" INTEGER)""")
        finally st.close()
      } finally c.close()
    }

    def dml(seq: Long, ver: Int, after: String): String =
      s"""{"db":"shop","table":"items","op":"insert","ts":${1700000000000L + seq},""" +
        s""""pos":"g:$seq","seq":$seq,"tableVersion":$ver,"after":$after,"before":null}"""
    def ddl(seq: Long, sql: String): String =
      s"""{"db":"shop","table":"items","op":"ddl","ts":${1700000000000L + seq},""" +
        s""""pos":"g:$seq","seq":$seq,"tableVersion":0,"after":{"sql":"$sql"},"before":null}"""
    Files.write(logDir.resolve("s.jsonl"), Seq(
      dml(0, 0, """{"id":"1","v":"10"}"""),
      ddl(1, "ALTER TABLE items ADD COLUMN note varchar(16)"),
      dml(2, 1, """{"id":"2","v":"20","note":"hi"}""")
    ).mkString("\n").getBytes("UTF-8"))

    val ddlFile = dir.resolve("schema.sql")
    Files.write(ddlFile,
      "CREATE TABLE shop.items (id bigint primary key, v int);"
        .getBytes("UTF-8"))

    val toml = dir.resolve("pipeline.toml")
    Files.write(toml,
      s"""[input]
         |type = "changelog"
         |path = "$logDir"
         |
         |[output]
         |type = "parquet-upsert"
         |dir = "$sinkDir"
         |
         |[meta]
         |ddl-file = "$ddlFile"
         |default-db = "shop"
         |evolve = "true"
         |forward-ddl-url = "$url"
         |forward-ddl-dialect = "derby"
         |
         |[[routers]]
         |source-schema = "shop"
         |source-table = "items"
         |target-schema = "tgt"
         |target-table = "items"
         |""".stripMargin.getBytes("UTF-8"))

    runMain(
      "--config", toml.toString,
      "--checkpoint", ckpt,
      "--metrics-port", "0",
      "--available-now")

    // the parquet state evolved: the post-DDL row carries `note`,
    // the pre-DDL row null-fills it
    // DML lands under the ROUTE'S TARGET name — the table the
    // forwarded DDL altered
    val state = spark.read.parquet(s"$sinkDir/tgt.items")
      .select($"id", $"v", $"note").as[(Long, Int, Option[String])]
      .collect().sortBy(_._1)
    assert(state.toSeq == Seq((1L, 10, None), (2L, 20, Some("hi"))))
    // and the ALTER reached the live Derby target
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.getMetaData.getColumns(null, "tgt", "items", "note")
      try assert(rs.next(), "forwarded ALTER must land on the target")
      finally rs.close()
    } finally c.close()
  }
}
