package graft.config

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.meta.SchemaRegistry
import graft.sinks.ParquetUpsertSink
import graft.streaming.{Pipeline, Registry}

/** Config-driven assembly, mirroring the reference's sample TOML
  * (docs/mysql-to-starrocks-sample.toml:17-29 transform chain +
  * :46-58 routers). */
class PipelineConfigSpec extends SparkSpec {
  import spark.implicits._

  private val sample =
    """# ≙ docs/mysql-to-starrocks-sample.toml shape
      |[input]
      |type = "changelog"
      |
      |[[transforms]]
      |type = "rename-column"
      |match-schema = "sysbenchts"
      |match-table = "sbtest1"
      |columns = ["k", "c"]
      |rename-as = ["k_1", "c_1"]
      |
      |[[transforms]]
      |type = "delete-column"
      |match-schema = "sysbenchts"
      |match-table = "sbtest1"
      |columns = ["c_1"]
      |
      |[[routers]]
      |source-schema = "sysbenchts"
      |source-table = "sbtest1"
      |target-schema = "tgt"
      |target-table = "sbtest1"
      |
      |[output]
      |type = "parquet-upsert"
      |""".stripMargin

  test("TOML subset parses sections, array tables, lists") {
    val doc = Toml.parse(sample)
    assert(doc("input").head("type") == "changelog")
    assert(doc("transforms").size == 2)
    assert(doc("transforms").head("columns") == Seq("k", "c"))
    assert(doc("routers").head("target-schema") == "tgt")
  }

  test("config assembles routes with matched transforms, end-to-end") {
    val cfg = PipelineConfig.fromToml(sample)
    assert(cfg.routers.size == 1 && cfg.transforms.size == 2)

    // target schema AFTER the transform chain: k renamed, c dropped
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE tgt.sbtest1 (id BIGINT PRIMARY KEY, k_1 INT, pad VARCHAR(60))",
      "tgt")
    val routes = cfg.routes(registry)
    assert(routes.head.target.columnNames == Seq("id", "k_1", "pad"))

    // replay a changelog through the configured route: transforms run
    // on the routed/typed frame, so the source columns are the
    // TARGET's names pre-transform. Source rows carry (id, k, c, pad)
    // — the route projects after-map onto target cols; rename/delete
    // operate upstream of the mapper in the reference, here the
    // target schema already reflects them, so we validate the chain
    // drops/renames as configured on a source-shaped target.
    val srcRegistry = new SchemaRegistry
    srcRegistry.applySql(
      "CREATE TABLE tgt2.sbtest1 (id BIGINT PRIMARY KEY, k INT, c VARCHAR(120), pad VARCHAR(60))",
      "tgt2")
    val cfg2 = PipelineConfig.fromToml(sample.replace("\"tgt\"", "\"tgt2\""))
    val routes2 = cfg2.routes(srcRegistry)
    val logDir = Files.createTempDirectory("cfg-log").toString
    Files.write(Paths.get(logDir, "s.jsonl"), Seq(
      """{"db":"sysbenchts","table":"sbtest1","op":"insert","ts":1700000000000,"pos":"g:0","seq":0,"tableVersion":0,"after":{"id":"1","k":"10","c":"xx","pad":"p"},"before":null}"""
    ).mkString("\n").getBytes("UTF-8"))
    val sinkDir = Files.createTempDirectory("cfg-sink").toString
    val ckpt = Files.createTempDirectory("cfg-ckpt").toString
    val q = Pipeline.start(
      Registry.source("changelog", spark, Map("path" -> logDir)),
      routes2, new ParquetUpsertSink(sinkDir), ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)

    val out = spark.read.parquet(s"$sinkDir/tgt2.sbtest1")
    // rename-column k->k_1 then delete-column c_1? (c renamed to c_1
    // by transform 1, then dropped by transform 2); k_1 present;
    // op/seq/pos/ts = the envelope metadata routed() passes through
    assert(out.columns.toSet ==
      Set("id", "k_1", "pad", "op", "seq", "pos", "ts"))
    val row = out.select($"id", $"k_1", $"pad")
      .as[(Long, Int, String)].collect().head
    assert(row == (1L, 10, "p"))
  }

  test("source schema registered: transforms see SOURCE names, land on target shape") {
    val registry = new SchemaRegistry
    // source: (id, k, c, pad); target after rename k->k_1, drop c_1
    registry.applySql(
      "CREATE TABLE sysbenchts.sbtest1 (id BIGINT PRIMARY KEY, k INT, c VARCHAR(120), pad VARCHAR(60))",
      "sysbenchts")
    registry.applySql(
      "CREATE TABLE tgt.sbtest1 (id BIGINT PRIMARY KEY, k_1 INT, pad VARCHAR(60))",
      "tgt")
    val routes = PipelineConfig.fromToml(sample).routes(registry)
    assert(routes.head.source.get.columnNames == Seq("id", "k", "c", "pad"))

    val logDir = Files.createTempDirectory("cfg3-log").toString
    Files.write(Paths.get(logDir, "s.jsonl"), Seq(
      """{"db":"sysbenchts","table":"sbtest1","op":"insert","ts":1700000000000,"pos":"g:0","seq":0,"tableVersion":0,"after":{"id":"7","k":"70","c":"dropme","pad":"pp"},"before":null}"""
    ).mkString("\n").getBytes("UTF-8"))
    val sinkDir = Files.createTempDirectory("cfg3-sink").toString
    val ckpt = Files.createTempDirectory("cfg3-ckpt").toString
    val q = Pipeline.start(
      Registry.source("changelog", spark, Map("path" -> logDir)),
      routes, new ParquetUpsertSink(sinkDir), ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)

    val out = spark.read.parquet(s"$sinkDir/tgt.sbtest1")
    val row = out.select($"id", $"k_1", $"pad")
      .as[(Long, Int, String)].collect().head
    assert(row == (7L, 70, "pp"))
  }

  private def renameRouter(mapper: String): String =
    s"""[[routers]]
       |source-schema = "shop"
       |source-table = "items"
       |target-schema = "tgt"
       |target-table = "items2"
       |$mapper
       |""".stripMargin

  test("rename-only router with an unregistered target lands the source's " +
      "columns under the target's name") {
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE shop.items (id BIGINT PRIMARY KEY, v INT)", "shop")
    val Seq(route) = PipelineConfig.fromToml(renameRouter("")).routes(registry)
    assert((route.db, route.table) == ("shop", "items"))
    assert((route.target.schema, route.target.name) == ("tgt", "items2"))
    assert(route.target.columns == registry.current("shop", "items").get.columns)
    assert(route.transforms.isEmpty)
  }

  test("router with a column mapper and an unregistered target fails loudly") {
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE shop.items (id BIGINT PRIMARY KEY, v INT)", "shop")
    val cfg = PipelineConfig.fromToml(renameRouter(
      """source-columns = ["id", "v"]
        |target-columns = ["id", "w"]""".stripMargin))
    val e = intercept[IllegalArgumentException](cfg.routes(registry))
    assert(e.getMessage.contains("no schema registered for tgt.items2"))
  }

  test("envelopeColumnMapper keeps the full routed() metadata (op/seq/pos/ts)") {
    val df = Seq((1L, 2L, "insert", 3L, "g",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("a", "b", "op", "seq", "pos", "ts")
    val out = graft.operators.Transforms
      .envelopeColumnMapper(Seq("a", "b"), Seq("x", "y"))(df)
    assert(out.columns.toSeq == Seq("x", "y", "op", "seq", "pos", "ts"))
    // frames predating the ts passthrough still map (meta is
    // presence-filtered)
    val old = graft.operators.Transforms
      .envelopeColumnMapper(Seq("a", "b"), Seq("x", "y"))(
        df.drop("ts"))
    assert(old.columns.toSeq == Seq("x", "y", "op", "seq", "pos"))
  }

  test("parses the reference's NESTED sample layout verbatim") {
    // exact structure of docs/mysql-to-starrocks-sample.toml
    val refSample =
      """name = "mysql2starrocks"
        |
        |[input]
        |type = "mysql"
        |
        |[input.config.source]
        |host = "127.0.0.1"
        |port = 3306
        |
        |[[transforms]]
        |type = "rename-column"
        |[transforms.config]
        |match-schema = "sysbenchts"
        |match-table = "sbtest1"
        |columns = ["k", "c"]
        |rename-as = ["k_1", "c_1"]
        |
        |[[transforms]]
        |type = "delete-column"
        |[transforms.config]
        |match-schema = "sysbenchts"
        |match-table = "sbtest1"
        |columns = ["c_1"]
        |
        |[output]
        |type = "starrocks"
        |
        |[output.config.target]
        |host = "127.0.0.1"
        |port = 9030
        |
        |[[output.config.routers]]
        |source-schema = "sysbenchts"
        |source-table = "sbtest1"
        |target-schema = "sr_test"
        |target-table = "ods_sbtest1"
        |
        |[[output.config.routers]]
        |source-schema = "sysbenchts"
        |source-table = "sbtest2"
        |target-schema = "sr_test"
        |target-table = "ods_sbtest2"
        |[output.config.routers.columns-mapper]
        |source-columns = []
        |target-columns = []
        |""".stripMargin
    val cfg = PipelineConfig.fromToml(refSample)
    assert(cfg.input("type") == "mysql")
    assert(cfg.output("type") == "starrocks")
    assert(cfg.routers.size == 2)
    assert(cfg.routers.head ==
      RouterSpec("sysbenchts", "sbtest1", "sr_test", "ods_sbtest1", Nil, Nil))
    assert(cfg.routers(1).targetTable == "ods_sbtest2")
    assert(cfg.transforms.size == 2)
    assert(cfg.transforms.head.matchDb == "sysbenchts")
    assert(cfg.transforms.head.params("columns") == Seq("k", "c"))
    assert(cfg.transforms(1).kind == "delete-column")
  }

  test("config without routers fails loudly") {
    intercept[IllegalArgumentException] {
      PipelineConfig.fromToml("[input]\ntype = \"mysql\"\n")
    }
  }

  test("rename-column with mismatched arity fails loudly") {
    val bad = TransformSpec("rename-column", "a", "b",
      Map("columns" -> Seq("a", "b"), "rename-as" -> Seq("a_1")))
    intercept[IllegalArgumentException] { bad.toFn }
  }

  test("unknown transform type fails loudly") {
    val bad = TransformSpec("explode-everything", "a", "b", Map.empty)
    intercept[IllegalArgumentException] { bad.toFn }
  }
}
