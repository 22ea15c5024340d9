package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Single-query measurement on Bench's session and consume path, so a
  * number taken here answers for the number Bench published.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> runMain graft.Measure time <q,...> [reps]
  *   warm-up, System.gc(), then `reps` timed runs (default 3, Bench's
  *   median-of-3); one JSON line per query: samples, min, median, max
  * ... Measure probe <q,...>
  *   one warm-up, then one run under a listener: job/stage/task
  *   counts, executor task time vs wall, the slowest stages
  * ... Measure explain <outDir> [q,...]
  *   formatted plan of each query to <outDir>/<name>.txt (default:
  *   every declared query)
  * ... Measure cdc [shards] [runs]
  *   the CDC drain fixture: a warm-up drain, then `runs` timed drains
  *   (default 8 shards, 3 runs); rows/s per drain plus a summary line
  * }}}
  */
object Measure {

  /** Full-row consumption, NOT count(): under a count Catalyst prunes
    * unreferenced projections, so scan-shaped queries would measure
    * less than the work they declare. foreach over the InternalRow
    * RDD evaluates every output column on the executors and collects
    * nothing. */
  def consume(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** True median of sorted samples: even counts average the two
    * middle elements (the upper-middle alone biases A/B calls high). */
  def median(sorted: Seq[Double]): Double = {
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
  }

  def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private type Query = (SparkSession, String) => DataFrame

  private val usage = "usage: Measure time <q,...> [reps] | probe <q,...> | " +
    "explain <outDir> [q,...] | cdc [shards] [runs]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the sf dir to measure"))
    def named(list: Option[String]): Seq[(String, Query)] =
      list.fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(',').toSeq)
        .map(n => n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query '$n'")))
    val spark = Session.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args(0) match {
      case "time" if args.length > 1 =>
        time(spark, sfDir, named(args.lift(1)), args.lift(2).fold(3)(_.toInt))
      case "probe" if args.length > 1 => probe(spark, sfDir, named(args.lift(1)))
      case "explain" if args.length > 1 =>
        explain(spark, sfDir, args(1), named(args.lift(2)))
      case "cdc" =>
        cdc(spark, sfDir, args.lift(1).fold(8)(_.toInt), args.lift(2).fold(3)(_.toInt))
      case _ => sys.error(usage)
    } finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)], reps: Int): Unit = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    queries.foreach { case (name, fn) =>
      consume(fn(spark, sfDir)) // warm-up: JIT + codegen + FS cache
      System.gc()
      val samples = (1 to reps).map(_ => seconds(consume(fn(spark, sfDir))))
      val sorted = samples.sorted
      println(s"""{"query":"$name","reps":$reps,"cores":${Session.cores},""" +
        s""""samples":[${samples.map(fmt).mkString(",")}],""" +
        s""""min":${fmt(sorted.head)},"median":${fmt(median(sorted))},""" +
        s""""max":${fmt(sorted.last)},"sf":"$sfDir"}""")
    }
  }

  /** Empirical per-query breakdown without the UI: where the wall
    * clock goes — executor task time vs scheduling/planning gaps. The
    * fixture-scale gate queries are frequently JOB-COUNT bound (plan +
    * codegen + schedule ~100-300 ms per stage), which per-stage task
    * metrics alone cannot show. */
  private def probe(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Unit = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val stageRows = new ConcurrentLinkedQueue[String]
    val stageTaskMs = new ConcurrentHashMap[Int, java.lang.Long]
    val stageGcMs = new ConcurrentHashMap[Int, java.lang.Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = s.stageInfo
        val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        // per-stage executor task time + GC: the wall column alone
        // cannot split "32 concurrent heavy tasks" from "32 cheap
        // tasks behind one straggler" (r14: needed to localize a
        // 38 s task-time query whose stage names are all lambdas)
        val tt: Long = Option(stageTaskMs.remove(i.stageId)).fold(0L)(_.longValue)
        val gc: Long = Option(stageGcMs.remove(i.stageId)).fold(0L)(_.longValue)
        stageRows.add(f"$ms%6d ms  stage ${i.stageId}%4d " +
          f"tasks=${i.numTasks}%3d taskTime=$tt%6d gc=$gc%5d  " +
          i.name.take(60))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          stageTaskMs.merge(t.stageId, t.taskMetrics.executorRunTime, _ + _)
          stageGcMs.merge(t.stageId, t.taskMetrics.jvmGCTime, _ + _)
        }
      }
    })
    queries.foreach { case (name, fn) =>
      consume(fn(spark, sfDir)) // warm-up: JIT + catalog
      // let the warm-up's events drain before the reset
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      stageRows.clear()
      val wall = seconds(consume(fn(spark, sfDir)))
      // settle listener delivery (the bus is async; its drain hook is
      // private API, so just give it a beat)
      Thread.sleep(300)
      println(f"PROBE $name wall=$wall%.2fs jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=${taskMs.get / 1000.0}%.2fs " +
        f"(parallel ${taskMs.get / 1000.0 / wall}%.1fx)")
      stageRows.toArray(Array.empty[String]).sorted.reverse.take(12)
        .foreach(r => println("  " + r))
    }
  }

  /** Plan dumps for plan-shape claims (Exchange counts, join
    * strategies, PushedFilters) that can be checked without running
    * Spark — the evidence files under plans/. */
  private def explain(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, Query)]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      // iterative queries (connected components) and kernel compiles
      // run Spark actions while BUILDING the frame — the dumped plan
      // is the final consumed query, like the bench times it
      val plan = fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"$name.txt"), plan.getBytes("UTF-8"))
      println(s"explained $name")
    }
  }

  /** The CDC drain alone, in about a minute: inside the full Bench
    * sweep its number rides whatever load the query run left behind
    * (an r12 full-sweep sample read 31% under the clean number). */
  private def cdc(spark: SparkSession, sfDir: String, shards: Int, runs: Int): Unit = {
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val fixture = new CdcDrain(spark, sfDir, shards)
    def drain(tag: String): Double =
      fixture.drain(tag).getOrElse(sys.error(s"drain $tag timed out"))
    drain("warmup") // streaming-engine init + FS cache, paid once
    val rates = (1 to runs).map(i => fixture.rows / drain(s"m$i")).sorted
    rates.zipWithIndex.foreach { case (r, i) => println(f"drain ${i + 1}: $r%.0f rows/s") }
    println(f"""{"rows":${fixture.rows},"shards":$shards,"runs":$runs,""" +
      f""""min":${rates.head}%.0f,"median":${median(rates)}%.0f,""" +
      f""""max":${rates.last}%.0f,"load_start":$loadAtStart%.2f}""")
  }
}
