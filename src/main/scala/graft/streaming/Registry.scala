package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.{BucketedUpsertSink, JdbcUpsertSink, ParquetUpsertSink, StreamLoadSink}

/** Plugin registry ≙ `registry/registry.go:30-66`: (kind, name) →
  * configurable factory. Spark already provides this for sources
  * (DataSource V2 `format(name)` — graft-changelog registers there);
  * this registry covers the sink side plus config-driven pipeline
  * assembly (≙ `app/server.go:26-92`).
  */
object Registry {

  type SinkFactory = Map[String, String] => Pipeline.BatchSink
  type SourceFactory = (SparkSession, Map[String, String]) => DataFrame

  private val sinks = TrieMap.empty[String, SinkFactory]
  private val sources = TrieMap.empty[String, SourceFactory]

  def registerSink(name: String)(f: SinkFactory): Unit = sinks.put(name, f)
  def registerSource(name: String)(f: SourceFactory): Unit = sources.put(name, f)

  def sink(name: String, conf: Map[String, String]): Pipeline.BatchSink =
    sinks.getOrElse(name,
      throw new IllegalArgumentException(s"unknown sink: $name"))(conf)

  def source(name: String, spark: SparkSession,
      conf: Map[String, String]): DataFrame =
    sources.getOrElse(name,
      throw new IllegalArgumentException(s"unknown source: $name"))(spark, conf)

  def sinkNames: Set[String] = sinks.keySet.toSet
  def sourceNames: Set[String] = sources.keySet.toSet

  // built-ins (≙ inputs/init.go, outputs/init.go registrations).
  // 'parquet-upsert' keeps its original FLAT on-disk layout: state
  // written under that name by earlier deployments must stay visible
  // on resume (rebinding the name to the bucketed layout would
  // silently exclude pre-existing flat state from merges). The flat
  // sink's write path is fully distributed (staging-dir swap, no
  // driver materialization); the bucketed sink — the large-table
  // scale path with touched-bucket-only rewrites — is its own name,
  // and refuses to run over a flat layout (fails loudly rather than
  // ignoring invisible state).
  registerSink("parquet-upsert") { conf =>
    new ParquetUpsertSink(conf("dir"))
  }
  // compatibility alias: configs written while the flat sink briefly
  // carried this name keep resolving
  registerSink("parquet-upsert-flat") { conf =>
    new ParquetUpsertSink(conf("dir"))
  }
  registerSink("bucketed-upsert") { conf =>
    new BucketedUpsertSink(conf("dir"),
      conf.get("buckets").map(_.toInt).getOrElse(64))
  }
  // network sinks under the reference's plugin names (outputs/init.go)
  registerSink("mysql") { conf =>
    val (url, user, pass) =
      (conf("url"), conf.getOrElse("user", "root"), conf.getOrElse("password", ""))
    new JdbcUpsertSink(() =>
      java.sql.DriverManager.getConnection(url, user, pass),
      // opt-in poison-row DLQ (see JdbcUpsertSink doc); absent =
      // fail the batch pre-checkpoint, the exactly-once default
      quarantineTable = conf.get("quarantine-table"))
  }
  registerSink("starrocks") { conf =>
    new StreamLoadSink(conf("url"), conf.getOrElse("user", "root"),
      conf.getOrElse("password", ""), doris = false)
  }
  registerSink("doris") { conf =>
    new StreamLoadSink(conf("url"), conf.getOrElse("user", "root"),
      conf.getOrElse("password", ""), doris = true)
  }
  // Kafka output (≙ outputs/kafka): topic template, pk-hash
  // partitioning, json|canal payload; `kafka.*` conf keys pass
  // through to the producer (security.protocol, acks, …).
  registerSink("kafka") { conf =>
    new graft.sinks.KafkaSink(conf("brokers"),
      conf.getOrElse("topic", "{db}.{table}"),
      conf.getOrElse("partitions", "8").toInt,
      conf.getOrElse("format", "json"),
      conf.view.filterKeys(_.startsWith("kafka.")).toMap)
  }
  // binary binlog segments → ChangeEvent frame (batch/backfill path;
  // decode parallelism = one segment per task). `tables` routes and
  // names columns: "db.table:col1|col2,db2.t:a|b" — the binlog wire
  // format carries types but not names (why the reference pairs the
  // stream with a meta snapshot, inputs/mysql/mysql_meta.go:32-69)
  registerSource("binlog-files") { (spark, conf) =>
    graft.sources.BinlogFiles.changeEvents(spark, conf("path"),
      graft.sources.BinlogStreamSource.parseTables(conf("tables")),
      conf.getOrElse("glob", "*.binlog")).toDF()
  }
  // streaming twin: byte-position offsets over binary segments
  registerSource("binlog") { (spark, conf) =>
    val r0 = spark.readStream.format("graft-binlog")
      .option("path", conf("path")).option("tables", conf("tables"))
    Seq("maxBytesPerTrigger", "filePrefix", "startOffset")
      .foldLeft(r0) { (acc, k) =>
        conf.get(k).map(v => acc.option(k, v)).getOrElse(acc)
      }.load()
  }
  // live MySQL input ≙ the reference's whole mysql input plugin
  // (inputs/mysql/mysql.go + mysql_replication.go): a driver-side
  // BinlogRelay tails the master over the replication protocol into
  // relay segments, and the graft-binlog DSv2 source serves
  // executors from those segments — checkpoints, admission control,
  // and decode are the same code path as file-based binlog ingest.
  // Start coordinate: conf "gtid" (executed set ≙ start-gtid) >
  // "file"+"pos" > master's current position.
  registerSource("mysql") { (spark, conf) =>
    import graft.sources.{BinlogClient, BinlogRelay}
    val relayDir = java.nio.file.Paths.get(conf("relayDir"))
    // the two GTID dialects are mutually exclusive — a stale `gtid`
    // key beside `mariadbGtid` would silently speak
    // COM_BINLOG_DUMP_GTID (which MariaDB doesn't implement) and
    // retry-loop on a protocol error instead of failing loudly
    require(!(conf.contains("gtid") && conf.contains("mariadbGtid")),
      "mysql source: set either 'gtid' (MySQL executed-set) or " +
        "'mariadbGtid' (domain-server-seqno), not both")
    val start = conf.get("gtid").map(BinlogRelay.Gtid(_))
      .orElse(conf.get("mariadbGtid").map(BinlogRelay.MariaGtid(_)))
      .orElse(conf.get("file").map(f =>
        BinlogRelay.FilePos(f, conf.getOrElse("pos", "4").toLong)))
      .getOrElse(BinlogRelay.MasterCurrent)
    val relay = new BinlogRelay(
      relayDir,
      () => new BinlogClient(
        conf("host"), conf("port").toInt,
        conf.getOrElse("user", "root"), conf.getOrElse("password", ""),
        conf.getOrElse("serverId", "1337").toLong,
        // semi-sync: announce the capability and ACK flagged frames
        // (the master blocks its commits on receipt — AFTER_SYNC)
        semiSync = conf.getOrElse("semiSync", "false").toBoolean),
      start,
      retryBackoffMs = conf.getOrElse("retryBackoffMs", "1000").toLong,
      maxRetries = conf.getOrElse("maxRetries", "-1").toInt)
    relay.startRelay()
    val r0 = spark.readStream.format("graft-binlog")
      .option("path", relayDir.toString).option("tables", conf("tables"))
    Seq("maxBytesPerTrigger", "startOffset")
      .foldLeft(r0) { (acc, k) =>
        conf.get(k).map(v => acc.option(k, v)).getOrElse(acc)
      }.load()
  }
  registerSource("changelog") { (spark, conf) =>
    val r0 = spark.readStream.format("graft-changelog")
      .option("path", conf("path"))
    val r1 = conf.get("maxEventsPerTrigger")
      .map(m => r0.option("maxEventsPerTrigger", m)).getOrElse(r0)
    // position bootstrap override ≙ config start-gtid / "latest"
    // (checkpoint still wins — see ChangelogMicroBatchStream.initialOffset)
    conf.get("startSeq").map(s => r1.option("startSeq", s)).getOrElse(r1)
      .load()
  }
}
