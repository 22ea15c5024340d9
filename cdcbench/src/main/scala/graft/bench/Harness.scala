package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.config.PipelineConfig
import graft.meta.SchemaRegistry
import graft.streaming.{Pipeline, Registry}

/** Command-line arguments of one benchmark run. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, data: Option[String], genSeconds: Seq[Double],
    out: Path)

/** What one run reports: end-to-end metrics, per-layer metrics (traced
  * runs), the correctness tally and free-form details. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L

  def fail(msg: String, units: Long = 1): Unit = { failed += units; errors += msg }
}

/** The end-to-end numbers of one measured window. Each workload maps
  * its own unit of work onto them: a micro-batch or a pass is a
  * "batch", an event or a query answer has a "freshness". */
final case class Window(throughputPerS: Double, batchS: Seq[Double],
    freshnessMs: Seq[Double], heapMb: Double) {
  def p50: Double = Stats.median(batchS)

  def toMap(setupS: Double): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "throughput_per_s" -> (throughputPerS, "1/s"),
    "batch_p50_s" -> (Stats.quantile(batchS, 0.5), "s"),
    "batch_p90_s" -> (Stats.quantile(batchS, 0.9), "s"),
    "freshness_p50_ms" -> (Stats.quantile(freshnessMs, 0.5), "ms"),
    "freshness_p90_ms" -> (Stats.quantile(freshnessMs, 0.9), "ms"),
    "live_heap_mb" -> (heapMb, "MB"))
}

object Harness {

  /** Cores the benchmark is sized for (`local[4]`). */
  val Cores = 4

  /** Warm-up ends once the last two units are no more than 10% faster
    * than the two before them ([[Stats.levelled]]). */
  val LevelUnits = 2
  val LevelTol = 0.1

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-cdcbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the same optimizer exclusion and AQE settings as graft.Bench
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Configuration and environment of the run, recorded with every
    * result so that two numbers can be told apart by their setting. */
  def fingerprint(spark: SparkSession, loadStart: Double): Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map(
      "cores_available" -> rt.availableProcessors,
      "master" -> spark.sparkContext.master,
      "load_start" -> loadStart,
      "load_end" -> loadAverage,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("--add-opens")),
      "heap_max_mb" -> rt.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "spark" -> spark.version,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "sql_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted.toMap,
      "env_overrides" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")))
  }

  /** The pipeline as the `graft.Main` daemon would assemble it from a
    * TOML config in the shape of `docs/changelog-to-parquet-sample.toml`
    * plus a DDL schema snapshot: config and meta run here, at set-up. */
  final case class Assembled(source: DataFrame, routes: Seq[Pipeline.Route],
      sink: Pipeline.BatchSink)

  def assemble(spark: SparkSession, logDir: Path, sinkDir: Path,
      maxEventsPerTrigger: Option[Int], startSeq: Option[Long]): Assembled = {
    val routers = Changelog.Tables.map { t =>
      s"""[[routers]]
         |source-schema = "${Changelog.Db}"
         |source-table = "${t.name}"
         |""".stripMargin
    }.mkString
    val toml =
      s"""[input]
         |type = "changelog"
         |path = "$logDir"
         |${maxEventsPerTrigger.map(m => s"""maxEventsPerTrigger = "$m"""").getOrElse("")}
         |${startSeq.map(s => s"""startSeq = "$s"""").getOrElse("")}
         |
         |[output]
         |type = "parquet-upsert"
         |dir = "$sinkDir"
         |
         |[meta]
         |default-db = "${Changelog.Db}"
         |
         |""".stripMargin + routers
    val conf = PipelineConfig.fromToml(toml)
    val registry = new SchemaRegistry
    registry.applyScript(Changelog.ddlScript(), Changelog.Db)
    def strMap(m: Map[String, Any]) = m.collect {
      case (k, v) if !v.isInstanceOf[Map[_, _]] => k -> v.toString
    }
    Assembled(
      Registry.source(conf.input("type").toString, spark, strMap(conf.input)),
      conf.routes(registry),
      Registry.sink(conf.output("type").toString, strMap(conf.output)))
  }

  /** Read a CDC target back from the sink directory and check it
    * against the generator's model. */
  def checkTarget(spark: SparkSession, sinkDir: Path, model: LastState): Option[String] = {
    val rows = Changelog.Tables.zipWithIndex.flatMap { case (t, ti) =>
      val dir = sinkDir.resolve(s"${Changelog.Db}.${t.name}")
      if (!Files.isDirectory(dir)) Nil
      else spark.read.parquet(dir.toString)
        .select((t.pk +: "seq" +: t.cols.map(_._1)).map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq.map { r: Row =>
          (ti, r.getLong(0), r.getLong(1),
            (2 until r.length).map(i => String.valueOf(r.get(i))))
        }
    }
    TargetCheck.verify(model, rows, Changelog.Tables)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Run timed units (each returns its seconds) for about `seconds`:
    * another unit starts only while more than half of it would still
    * fit, so the measured time is as close to `seconds` as whole units
    * allow, with at least two so that one slow unit cannot set the
    * median alone. A traced run measures twice as long and alternates
    * untraced and traced units, so both halves see the same warm-up and
    * machine state; it runs at least two of each. */
  def measureFor(seconds: Int, traced: Boolean)(unit: => Double): Unit = {
    val t0 = System.nanoTime()
    val (window, minUnits) = if (traced) (2 * seconds, 4) else (seconds, 2)
    var n = 0
    var last = 0.0
    do { last = unit; n += 1 }
    while (n < minUnits || (System.nanoTime() - t0) / 1e9 + last / 2 < window)
  }

  /** Run units until warm-up has levelled off (at least `min`, at most
    * `max`); each unit returns its samples. Returns every unit's
    * samples and whether warm-up levelled off. */
  def warmUp(min: Int, max: Int)(unit: => Seq[Double]): (Seq[Seq[Double]], Boolean) = {
    val units = mutable.ArrayBuffer.empty[Seq[Double]]
    def levelled = Stats.levelled(units.toSeq, LevelUnits, LevelTol)
    while (units.size < max && (units.size < min || !levelled)) units += unit
    (units.toSeq, levelled)
  }
}
