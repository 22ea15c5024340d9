package graft.bench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.Pipeline

/** `cdc_upsert`: catch-up drains of a multi-table log over a bounded,
  * heavily reused key space, in 10,240-event micro-batches, into the
  * parquet-upsert sink. Set-up inserts every key into a base target
  * once; each timed drain then applies updates, ~10% deletes and
  * re-inserts to a fresh copy of it, so every measured batch merges
  * against existing rows. */
object CdcUpsert {
  val BatchEvents = 10240 // the reference's batch size (its channel capacity)
  val DeleteShare = 0.1
  /** Event-time stamp of the log: its events all exist when a drain
    * starts, so their freshness runs from the drain's start. */
  val BaseTs = 1700000000000L
  val KeysPerTable = 2048
  /** Change events per drain: two full micro-batches. */
  val ChangeEvents = 2 * BatchEvents
  val Shards = 4

  final case class Drain(n: Int, secs: Double, startMs: Long,
      batches: Vector[BatchRecord], sinkDir: Path, ckpt: Path) {
    def units: Seq[(String, BatchRecord)] = batches.map(b => s"d$n-${b.batchId}" -> b)
  }

  /** Median seconds of three runs of a set-up step. */
  def median3(f: => Unit): Double =
    Stats.median((1 to 3).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    })

  def run(spark: SparkSession, args: RunArgs, res: Result, sessionS: Double): Unit = {
    val tables = Changelog.Tables
    val baseLog = args.work.resolve("base-log")
    val logDir = args.work.resolve("log")
    var gen: ChangeGen = null
    val genS = median3 {
      Harness.deleteTree(baseLog)
      Harness.deleteTree(logDir)
      gen = new ChangeGen(args.seed, tables, KeysPerTable, DeleteShare)
      LogFiles.writeSharded(baseLog, gen.insertAll(BaseTs), tables, Shards)
      LogFiles.writeSharded(logDir, Vector.fill(ChangeEvents)(gen.next(BaseTs)), tables, Shards)
    }
    val firstSeq = (tables.size * KeysPerTable).toLong
    val lastSeq = gen.seqsIssued - 1
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    /** Drain `log` from `startSeq` into `a`'s sink until `endSeq` commits. */
    def drainLog(a: Harness.Assembled, ckpt: Path, endSeq: Long,
        body: Option[(DataFrame, Long) => Unit]): (Double, Long, Vector[BatchRecord]) = {
      progress.clear()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val q = body match {
        case None => Pipeline.start(a.source, a.routes, a.sink, ckpt.toString,
          trigger = Trigger.AvailableNow())
        case Some(f) => a.source.writeStream
          .queryName("graft-cdc-bench")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) => f(b, id) }
          .start()
      }
      val done = q.awaitTermination(120000)
      val secs = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(e => throw e)
      if (!done) { q.stop(); throw new IllegalStateException(s"drain into $ckpt timed out") }
      if (!awaitOffset(progress, endSeq, 10000, q))
        throw new IllegalStateException(s"drain into $ckpt ended short of seq $endSeq")
      (secs, startMs, progress.batches)
    }

    // the base target: every key inserted, drained once at set-up
    val base = args.work.resolve("base-target")
    val baseS = {
      val t0 = System.nanoTime()
      val a = Harness.assemble(spark, baseLog, base, Some(BatchEvents), None)
      drainLog(a, args.work.resolve("base-ckpt"), firstSeq - 1, None)
      (System.nanoTime() - t0) / 1e9
    }

    var n = 0
    def drain(trace: Option[Trace]): Drain = {
      n += 1
      val sinkDir = args.work.resolve(s"sink-$n")
      val ckpt = args.work.resolve(s"ckpt-$n")
      Harness.copyTree(base, sinkDir)
      val a = Harness.assemble(spark, logDir, sinkDir, Some(BatchEvents), Some(firstSeq - 1))
      val (secs, startMs, batches) =
        drainLog(a, ckpt, lastSeq, trace.map(_.body(a, sinkDir, s"d$n")))
      Drain(n, secs, startMs, batches, sinkDir, ckpt)
    }
    def discard(d: Drain): Unit = { Harness.deleteTree(d.sinkDir); Harness.deleteTree(d.ckpt) }

    val w0 = System.nanoTime()
    val (warm, levelled) = Harness.warmUp(4, 5) {
      val d = drain(None); discard(d); d.batches.map(_.triggerMs / 1000.0)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    res.details("warmup") = Map("unit" -> "drain", "batch_s" -> warm, "levelled" -> levelled)
    val setupS = sessionS + genS + baseS + warmS
    res.details("setup_parts_s") = Map("session" -> sessionS, "generate_median" -> genS,
      "base_load" -> baseS, "warmup" -> warmS)

    val trace = if (args.trace) Some(new Trace(spark)) else None
    trace.foreach(_.arm())
    val drains = mutable.ArrayBuffer.empty[(Drain, Boolean)]
    try Harness.measureFor(args.seconds, trace.isDefined) {
      val traced = trace.isDefined && drains.size % 2 == 1
      drains += drain(if (traced) trace else None) -> traced
      drains.last._1.secs
    } finally trace.foreach(_.disarm())
    val heapMb = LiveHeap.mb()
    // each drain's target is checked after the window, outside the timing
    drains.foreach { case (d, _) =>
      res.attempted += d.batches.size
      Harness.checkTarget(spark, d.sinkDir, gen.model).foreach { msg =>
        res.fail(s"drain ${d.n} target: $msg", d.batches.size)
      }
      discard(d)
    }
    def window(ds: Seq[Drain]) = Window(Stats.median(ds.map(d => ChangeEvents / d.secs)),
      ds.flatMap(_.batches.map(_.triggerMs / 1000.0)),
      ds.flatMap { d =>
        Stats.freshness(d.batches.map(b => Stats.BatchEnd(b.endOffset, b.endMs)),
          (firstSeq to lastSeq).map(s => (s, d.startMs)))._1
      }, heapMb)
    val (traced, plain) = drains.toSeq.partition(_._2)
    val w1 = window(plain.map(_._1))
    res.metrics ++= w1.toMap(setupS)
    res.details("drain_s") = plain.map(_._1.secs)
    res.details("batch_s") = plain.flatMap(_._1.batches.map(_.triggerMs / 1000.0))
    trace.foreach { t =>
      val w2 = window(traced.map(_._1))
      res.layers ++= Layers.cdc(traced.flatMap(_._1.units), t.tracer.all, t.counters.snapshot,
        t.plans.phases, t.ladder, w2.p50 / w1.p50)
      res.details("traced_e2e") = w2.toMap(setupS).toMap
      res.spans ++= t.tracer.all
    }
    spark.streams.removeListener(progress)
  }

  /** Wait until a committed batch covers `seq`. */
  def awaitOffset(progress: ProgressLog, seq: Long, timeoutMs: Long,
      q: StreamingQuery): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def covered = progress.batches.exists(_.endOffset >= seq)
    while (!covered && System.currentTimeMillis() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(50)
    }
    covered
  }
}
