package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meta.TableDef
import graft.streaming.Pipeline

/** One micro-batch as the engine reported it. */
final case class BatchRecord(batchId: Long, startMs: Long, triggerMs: Long,
    rows: Long, endOffset: Long, phasesMs: Map[String, Long]) {
  def endMs: Long = startMs + triggerMs
}

/** Collects `StreamingQueryProgress` events through the public
  * listener API; the measured run reads them only after it ends. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[BatchRecord]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      q.add(BatchRecord(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        phases.getOrElse("triggerExecution", 0L), p.numInputRows,
        p.sources.head.endOffset.trim.toLong, phases))
    }
  }

  def batches: Vector[BatchRecord] = q.asScala.toVector.sortBy(_.startMs)
  def clear(): Unit = q.clear()
}

/** Heap the run retains: occupancy right after a full collection,
  * taken once a measured window has ended. (The old generation's
  * post-GC peak inside a window depends on when G1's concurrent cycle
  * happens to run, and spread too widely between runs.) */
object LiveHeap {
  def mb(): Double = {
    // the second collection frees what the ContextCleaner released
    // after the first one cleared its weak references
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Task-level counters of the Spark scheduler and executors, split by
  * the span tag the benchmark sets as a job-local property. */
final class SparkCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, shuffleRead, shuffleWrite, spill, inputRecords, outputBytes = 0L
  }
  private val byTag = mutable.Map.empty[String, C]
  private val stageTag = mutable.Map.empty[Int, String]
  @volatile private var jobsOpen = 0

  private def c(tag: String) = byTag.getOrElseUpdate(tag, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.Tag)))
      .getOrElse("untagged")
    c(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
    jobsOpen += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsOpen -= 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val x = c(stageTag.getOrElse(e.stageId, "untagged"))
    x.tasks += 1
    if (m != null) {
      x.taskMs += m.executorRunTime
      x.gcMs += m.jvmGCTime
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.inputRecords += m.inputMetrics.recordsRead
      x.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait (bounded) for the asynchronous listener bus to deliver the
    * end of every job it reported starting. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(200)
    while (jobsOpen > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def snapshot: Map[String, C] = synchronized(byTag.toMap)
}

object SparkCounters {
  val Tag = "graft.bench.span"
}

/** One planning phase of one action: name, start (epoch ms), duration. */
final case class Phase(name: String, startMs: Long, durMs: Long)

/** Planning phases (`QueryExecution.tracker`) of every action the
  * program runs while registered; they are attributed to traced units
  * by their start time. */
final class PlanPhases extends QueryExecutionListener {
  private val all = new ConcurrentLinkedQueue[Phase]()

  def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (k, p) => all.add(Phase(k, p.startTimeMs, p.durationMs)) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def phases: Seq[Phase] = all.asScala.toVector
}

/** A span: one timed call into a layer, with the unit (batch or pass)
  * it belongs to and the span that caused it. */
final case class Span(id: Int, parent: Int, unit: String, name: String,
    startMs: Double, durMs: Double, attrs: Map[String, Any])

/** In-memory span recorder; spans are written out once the run ends. */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** Time `body` as span `name` of `unit`, child of the innermost open
    * span on this thread. Spark jobs it starts carry the span's tag,
    * so task counters split by layer. */
  def span[T](unit: String, name: String,
      attrs: => Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(0)
    val prev = sc.getLocalProperty(SparkCounters.Tag)
    sc.setLocalProperty(SparkCounters.Tag, s"$unit|$name")
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    try body
    finally {
      val dur = (System.nanoTime() - t0) / 1e6
      open.set(open.get.tail)
      sc.setLocalProperty(SparkCounters.Tag, prev)
      spans.add(Span(id, parent, unit, name, wall0.toDouble, dur, attrs))
    }
  }

  def all: Vector[Span] = spans.asScala.toVector
}

/** The cut ladder of a traced micro-batch. The batch is forced at every
  * layer boundary — after decode, after `Pipeline.routed` (route and
  * typed cast), after `Pipeline.compacted` — and then handed to the
  * real sink, so each layer's span holds that layer's own work. It
  * drives the program's own `Pipeline.processBatch`: route/cast is cut
  * by a trailing route transform, compaction and the sink by a
  * decorating `BatchSink`. */
final class CutLadder(tracer: Tracer, real: Pipeline.BatchSink,
    routes: Seq[Pipeline.Route], sinkRoot: java.nio.file.Path) {

  private val rowsIn = new java.util.concurrent.atomic.AtomicLong
  private val rowsOut = new java.util.concurrent.atomic.AtomicLong
  @volatile private var files = 0L
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  private def force(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    cached += p
    (p, p.count())
  }

  private def decorated(unit: String) = new Pipeline.BatchSink {
    def write(batch: DataFrame, t: TableDef, id: Long): Unit = {
      val (compact, n) = tracer.span(unit, "operators.compact",
        attrs = Map("table" -> t.name))(force(batch))
      rowsOut.addAndGet(n)
      tracer.span(unit, "sinks.write", attrs = Map("table" -> t.name)) {
        real.write(compact, t, id)
      }
      val dir = sinkRoot.resolve(s"${t.schema}.${t.name}")
      if (java.nio.file.Files.isDirectory(dir)) {
        val s = java.nio.file.Files.list(dir)
        try files += s.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally s.close()
      }
    }
  }

  /** Run one traced batch as span unit `unit`. */
  def process(batch: DataFrame, batchId: Long, unit: String): Layers.LadderBatch = {
    rowsIn.set(0); rowsOut.set(0); files = 0
    tracer.span(unit, "streaming.process_batch") {
      val (raw, _) = tracer.span(unit, "sources.decode")(force(batch))
      val cut = routes.map(r => r.copy(transforms = r.transforms :+ { (df: DataFrame) =>
        val (typed, n) = tracer.span(unit, "streaming.route_cast",
          attrs = Map("table" -> r.table))(force(df))
        rowsIn.addAndGet(n)
        typed
      }))
      try Pipeline.processBatch(raw, cut, decorated(unit), batchId)
      finally { cached.foreach(_.unpersist()); cached.clear() }
    }
    Layers.LadderBatch(rowsIn.get, rowsOut.get, files)
  }
}

/** What a traced window collects: spans (the cut ladder's, for CDC),
  * scheduler/executor counters and planning phases. */
final class Trace(spark: SparkSession) {
  val tracer = new Tracer(spark.sparkContext)
  val counters = new SparkCounters
  val plans = new PlanPhases
  private val perUnit = new java.util.concurrent.ConcurrentHashMap[String, Layers.LadderBatch]()

  /** A foreachBatch body that runs the cut ladder over `a`'s routes
    * and sink; each batch is span unit `prefix-<batchId>`. */
  def body(a: Harness.Assembled, sinkDir: java.nio.file.Path, prefix: String): (DataFrame, Long) => Unit = {
    val ladder = new CutLadder(tracer, a.sink, a.routes, sinkDir)
    (b, id) => { perUnit.put(s"$prefix-$id", ladder.process(b, id, s"$prefix-$id")) }
  }

  def arm(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)
  }

  def disarm(): Unit = {
    counters.settle()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(plans)
  }

  def ladder: Map[String, Layers.LadderBatch] = perUnit.asScala.toMap
}
