package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `query_mix`: a closed loop with one client making repeated passes
  * over a fixed list of gate queries, each consumed in full. */
object QueryMix {

  /** One query per operator family, including the ANN chain and the
    * connected-components loop the roadmap targets. */
  val Queries: Seq[String] = Seq(
    "ann_ivfpq_topk", "cdc_compact_agg", "cdc_table_checksum",
    "dedup_group_resolve_star", "multimodal_meta", "q18_large_orders",
    "q1_pricing_summary", "q_asof_join")

  /** Consume every row the way graft.Bench does — over the InternalRow
    * RDD, with no rows collected — folding the row count and an
    * order-insensitive sum of row hashes for the output check. */
  def consume(df: DataFrame): (Long, Long) =
    df.queryExecution.toRdd.map(r => (1L, r.hashCode.toLong))
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }

  def run(spark: SparkSession, args: RunArgs, res: Result, sessionS: Double): Unit = {
    val data = args.data.getOrElse(throw new IllegalArgumentException("query_mix needs --data"))
    val fns = SparkEntry.queries
    val missing = Queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown gate queries: ${missing.mkString(", ")}")

    // the first consume pass fixes each query's reference hash; every
    // later pass must reproduce it
    val reference = mutable.Map.empty[String, (Long, Long)]
    def runQuery(q: String, trace: Option[Trace], unit: String): Unit = {
      res.attempted += 1
      try {
        val h = trace match {
          case None => consume(fns(q)(spark, data))
          case Some(t) => t.tracer.span(unit, s"queries.$q") {
            val df = fns(q)(spark, data)
            val out = consume(df)
            t.plans.add(df.queryExecution)
            out
          }
        }
        reference.get(q) match {
          case None => reference(q) = h
          case Some(want) if want != h =>
            res.fail(s"$q: rows/hash $h differ from the first pass's $want")
          case _ =>
        }
      } catch { case e: Exception => res.fail(s"$q failed: $e") }
    }
    val queryMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def pass(order: Seq[String], trace: Option[Trace], unit: String,
        perQueryMs: mutable.ArrayBuffer[Double]): Double = {
      val t0 = System.nanoTime()
      order.foreach { q =>
        val q0 = System.nanoTime()
        runQuery(q, trace, unit)
        perQueryMs += (System.nanoTime() - q0) / 1e6
        queryMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += perQueryMs.last
      }
      (System.nanoTime() - t0) / 1e9
    }

    val w0 = System.nanoTime()
    val (warm, levelled) = Harness.warmUp(4, 5) {
      Seq(pass(Queries, None, "warmup", mutable.ArrayBuffer.empty))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    res.details("warmup") = Map("unit" -> "pass", "pass_s" -> warm, "levelled" -> levelled)
    val genS = Stats.median(args.genSeconds)
    val setupS = sessionS + genS + warmS
    res.details("setup_parts_s") = Map("session" -> sessionS, "generate_median" -> genS,
      "warmup" -> warmS)

    // passes for `seconds`, each in its own seeded order; a traced run
    // measures twice as long, alternating untraced and traced passes
    final case class Pass(unit: String, ms: Double, queryMs: Seq[Double], traced: Boolean)
    val trace = if (args.trace) Some(new Trace(spark)) else None
    trace.foreach(_.arm())
    val passes = mutable.ArrayBuffer.empty[Pass]
    try Harness.measureFor(args.seconds, trace.isDefined) {
      val k = passes.size + 1
      val traced = trace.isDefined && k % 2 == 0
      val order = new scala.util.Random(args.seed * 7919 + k).shuffle(Queries)
      val perQueryMs = mutable.ArrayBuffer.empty[Double]
      val secs = pass(order, if (traced) trace else None, s"p$k", perQueryMs)
      passes += Pass(s"p$k", secs * 1000, perQueryMs.toSeq, traced)
      secs
    } finally trace.foreach(_.disarm())
    val heapMb = LiveHeap.mb()

    // the result pass, after the window and outside every timing: each
    // answer written once for the DuckDB oracle check run.py makes after
    // this process ends
    val results = args.work.resolve("results")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Queries.foreach { q =>
      res.attempted += 1
      try fns(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(q).toString)
      catch { case e: Exception => res.fail(s"$q failed in the result pass: $e") }
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.write(results.resolve("oracle_sql.json"),
      Json.write(oracle).getBytes(UTF_8))

    def window(ps: Seq[Pass]) = {
      val secs = ps.map(_.ms / 1000)
      Window(ps.size * Queries.size / secs.sum, secs, ps.flatMap(_.queryMs), heapMb)
    }
    val (traced, plain) = passes.toSeq.partition(_.traced)
    val w1 = window(plain)
    res.metrics ++= w1.toMap(setupS)
    res.details("passes") = plain.size
    res.details("query_ms") = queryMs.map { case (q, ms) => q -> ms.toSeq }.toMap
    trace.foreach { t =>
      val w2 = window(traced)
      res.layers ++= Layers.mix(traced.map(p => p.unit -> p.ms), t.tracer.all,
        t.counters.snapshot, t.plans.phases, w2.p50 / w1.p50)
      res.details("traced_e2e") = w2.toMap(setupS).toMap
      res.spans ++= t.tracer.all
    }
  }
}
