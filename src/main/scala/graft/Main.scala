package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.config.PipelineConfig
import graft.meta.SchemaRegistry
import graft.streaming.{Metrics, MetricsHttp, Pipeline, Registry}

/** CLI daemon ≙ `cmd/qin_cdc.go` + `app/server.go`: load a TOML
  * pipeline config, assemble source → routes/transforms → sink,
  * serve `/metrics`, run until stopped.
  *
  * ```
  * spark-submit --class graft.Main graft.jar \
  *   --config pipeline.toml [--checkpoint dir] [--metrics-port 7716] \
  *   [--available-now] [--master local[*]]
  * ```
  *
  * Config sections (reference layout, `docs/mysql-to-*-sample.toml`):
  *  - `[input]`  — `type` (plugin name in [[Registry.sourceNames]]) +
  *    its options (`path`, `maxEventsPerTrigger`, `startSeq`…).
  *    `changelog` (alias `mysql`) tails JSONL envelopes; `binlog`
  *    tails BINARY binlog segments through the wire decoder
  *    (options `path`, `tables`, `maxBytesPerTrigger`, `startOffset`)
  *  - `[output]` — `type` (plugin name in [[Registry.sinkNames]]) +
  *    its options (`dir` / `url` / `user` / `password`…)
  *  - `[[routers]]` / `[[transforms]]` — as in PipelineConfig
  *  - `[meta]` — where target schemas come from: `ddl-file` (a SQL
  *    script of CREATE TABLEs applied through the engine's DDL
  *    parser — the file IS the schema snapshot) and/or `default-db`
  *    (≙ the reference's LoadMeta from the live target; a JDBC url in
  *    the file's place plugs in `JdbcMeta` unchanged). Optional
  *    `evolve = "true"`: in-stream DDL updates the registry
  *    (version-pinned decode, no restart) and — with
  *    `forward-ddl-url` (+ `forward-ddl-dialect`/`-user`/`-password`)
  *    — forwards column-level ALTERs to each route's JDBC target
  *    before the carrying batch's DML lands. Evolving routes take no
  *    transforms or column mappers; a router whose target is not
  *    registered lands the source's shape under the target's name
  *
  * `--available-now` drains the backlog and exits 0 — the
  * catch-up-then-exit replay mode; without it the daemon runs on the
  * reference's 3-second batch cadence until SIGTERM (a JVM shutdown
  * hook stops the query and the metrics server cleanly).
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"), s"unexpected argument: $k")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out(k.drop(2)) = args(i + 1); i += 2
      } else { out(k.drop(2)) = "true"; i += 1 }
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val configPath = opts.getOrElse("config",
      sys.error("required: --config <pipeline.toml>"))
    val conf = PipelineConfig.fromToml(
      new String(Files.readAllBytes(Paths.get(configPath)), "UTF-8"))

    // deployment settings only; the UI stays on under spark-submit
    val spark = Session.builder()
      .master(opts.getOrElse("master",
        sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(opts.getOrElse("log-level", "WARN"))

    // schema snapshot load (≙ LoadMeta): DDL script through the
    // engine's own MySQL-dialect parser
    val registry = new SchemaRegistry
    val ddlFile = conf.meta.get("ddl-file").map(_.toString)
      .orElse(opts.get("ddl-file"))
    ddlFile.foreach { f =>
      val sql = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
      registry.applyScript(sql,
        conf.meta.getOrElse("default-db", "").toString)
    }

    def strMap(m: Map[String, Any]): Map[String, String] =
      m.collect { case (k, v) if !v.isInstanceOf[Map[_, _]] =>
        k -> v.toString }
    val sourceKind = conf.input.getOrElse("type", "changelog").toString match {
      // legacy alias from before the live replication source existed:
      // a `type="mysql"` block that points at a JSONL path (and names
      // no master) is the changelog tail. A block with `host` is the
      // REAL mysql input — relay + wire decode (Registry "mysql");
      // remapping that one would misroute the shipped sample configs
      // into a source that requires `path` and fail the daemon.
      case "mysql" if conf.input.contains("path") &&
        !conf.input.contains("host") => "changelog"
      case other => other
    }
    val envelope = Metrics.observed(
      Registry.source(sourceKind, spark, strMap(conf.input)))
    val sink = Registry.sink(conf.output.getOrElse("type", "parquet-upsert")
      .toString, strMap(conf.output))

    val collector = new Metrics.Collector
    spark.streams.addListener(collector)
    val http = MetricsHttp.start(collector,
      opts.getOrElse("metrics-port", "7716").toInt)

    val trigger =
      if (opts.contains("available-now")) Trigger.AvailableNow()
      else Trigger.ProcessingTime("3 seconds")
    // default checkpoint: a STABLE sidecar dir next to the config —
    // the position must survive restarts by default (≙ the reference
    // persisting meta.db in its workdir); a per-launch temp dir would
    // silently re-ingest or skip the outage window on every restart
    val checkpoint = opts.getOrElse("checkpoint",
      Paths.get(configPath).toAbsolutePath.toString + ".checkpoint")
    // `[meta] evolve = "true"`: the batch body applies in-stream DDL to
    // the registry (version-pinned decode, no restart) and optionally
    // FORWARDS it to a JDBC target (`forward-ddl-url` +
    // `forward-ddl-dialect`/-user/-password), so each route's target
    // ALTERs before the same batch's DML lands. The DDL connection is
    // deliberately separate from the data path — e.g. StarRocks/Doris
    // take data over stream-load HTTP but DDL over their
    // MySQL-protocol FE port.
    val evolution = Option.when(
        conf.meta.get("evolve").exists(_.toString.toBoolean)) {
      conf.meta.get("forward-ddl-url").map(_.toString)
        .fold(Pipeline.Evolution(registry)) { url =>
          val dialect = graft.sinks.DdlForward.dialect(
            conf.meta.getOrElse("forward-ddl-dialect", "mysql").toString)
          // credentials only when configured: a default user would
          // change the target's DEFAULT SCHEMA on engines that
          // derive it from the login (Derby: user "root" ⇒ schema
          // ROOT) and break unqualified table resolution
          val props = new java.util.Properties()
          conf.meta.get("forward-ddl-user")
            .foreach(u => props.setProperty("user", u.toString))
          conf.meta.get("forward-ddl-password")
            .foreach(p => props.setProperty("password", p.toString))
          Pipeline.Evolution(registry, new graft.sinks.JdbcDdlForwarder(
            () => java.sql.DriverManager.getConnection(url, props),
            dialect).forward)
        }
    }
    val query = Pipeline.start(envelope, conf.routes(registry), sink,
      checkpoint, trigger, evolution)

    sys.addShutdownHook {
      try query.stop() catch { case scala.util.control.NonFatal(_) => () }
      http.stop()
    }
    try query.awaitTermination()
    finally http.stop()
  }
}
