package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException,
  ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.meta.TableDef
import graft.operators.{Compactor, Transforms}

/** CDC pipeline assembly ≙ `app/server.go:26-92,158-166`:
  * source → transforms → route → (compact → sink) per table, as one
  * Structured Streaming query with `foreachBatch`.
  *
  * Semantics vs the reference:
  *  - batching: Spark's trigger replaces the size-OR-interval flush
  *    loops (`outputs/starrocks/starrocks.go:64-134`); default
  *    trigger 3s ≙ the reference's `batch-interval-ms` 3000.
  *  - ordering: per-key last-event compaction on the monotone `seq`
  *    replaces order-preserving run-splitting (SURVEY §7.5.1).
  *  - delivery: at-least-once; offsets/commits live in the
  *    checkpoint dir (≙ GTID bbolt persistence,
  *    `inputs/mysql/mysql_position.go:150-170`); sinks must be
  *    idempotent by PK, which compacted upserts are.
  *  - DDL: a registry-refresh callback; the streaming query restarts
  *    per schema version (SURVEY §3.2) — orchestrated outside the
  *    query itself.
  *  - concurrency: the reference runs one writer goroutine per sink
  *    (SURVEY §3.1, `parallel-workers`). Here a batch's routes are
  *    grouped by target table; groups write concurrently, the routes
  *    of one group run in declaration order, and the batch's offsets
  *    commit only after every group has finished ([[inParallel]]).
  */
object Pipeline {

  /** One route: (db, table) → target table meta + column transforms
    * (≙ a `[[routers]]` TOML entry + its transform list).
    *
    * `source` is the SOURCE table's schema when it differs from the
    * target (rename/mapper configs): the envelope is projected onto
    * the source's columns first, transforms then rename/drop/remap,
    * and the result must land on the target's shape — the
    * reference's order (transforms rewrite the column list BEFORE
    * the mapper zips it, `transforms/transforms.go:22-55` →
    * `core/meta.go:78-104`). When None, source shape = target shape. */
  final case class Route(
      db: String,
      table: String,
      target: TableDef,
      transforms: Seq[DataFrame => DataFrame] = Nil,
      source: Option[TableDef] = None)

  /** Per-table batch sink (JDBC upsert / stream-load / Kafka /
    * parquet). Receives a routed, typed, compacted batch. */
  trait BatchSink extends Serializable {
    def write(batch: DataFrame, target: TableDef, batchId: Long): Unit
  }

  /** Project the generic Map-envelope onto a typed per-table frame:
    * after[name] cast to the column's Spark type, plus the envelope's
    * op/seq/pos/ts metadata (ts = source event time, which the Kafka
    * sink's envelope re-emits and lake sinks keep as provenance).
    * The filter sits on the scan; the cast is a narrow projection. */
  def routed(envelope: DataFrame, r: Route): DataFrame = {
    val shape = r.source.getOrElse(r.target)
    val typedCols = shape.columns.map { c =>
      col("after").getItem(c.name).cast(c.sparkType).as(c.name)
    }
    envelope
      .filter(col("db") === r.db && col("table") === r.table)
      .select(typedCols ++ Seq(col("op"), col("seq"), col("pos"),
        col("ts")): _*)
  }

  /** Compact a routed batch to last-event-per-key on `seq`
    * (hash-agg variant — map-side partial combine; see Compactor). */
  def compacted(batch: DataFrame, t: TableDef): DataFrame = {
    val pks = t.pkColumns.map(_.name)
    if (pks.isEmpty) batch
    else Compactor.lastEventPerKeyAgg(pks, "seq")(batch)
  }

  /** Assemble and start the streaming query. */
  def start(
      envelope: DataFrame,
      routes: Seq[Route],
      sink: BatchSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds")): StreamingQuery = {
    envelope.writeStream
      .queryName("graft-cdc")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, routes, sink, batchId)
      }
      .start()
  }

  /** One micro-batch: route → transform → compact → sink, per route.
    * The batch is persisted once so N routes don't rescan the
    * source. Routes sharing a target form one group and run in order
    * (two merges into one table would both read its pre-batch state);
    * distinct targets run concurrently. */
  def processBatch(batch: DataFrame, routes: Seq[Route], sink: BatchSink,
      batchId: Long): Unit = {
    if (routes.size > 1) batch.persist()
    try {
      val groups = byTarget(routes)(r => (r.target.schema, r.target.name))
      inParallel(batch.sparkSession, groups.map { group => () =>
        group.foreach { r =>
          val typed = Transforms.chain(r.transforms: _*)(routed(batch, r))
          val compact = compacted(typed, r.target)
          sink.write(compact, r.target, batchId)
        }
      })
    } finally {
      if (routes.size > 1) batch.unpersist()
    }
  }

  /** `items` grouped by `key`, groups and members in declaration
    * order. */
  private[streaming] def byTarget[A](items: Seq[A])(
      key: A => (String, String)): Seq[Seq[A]] =
    items.map(key).distinct.map(k => items.filter(key(_) == k))

  /** Daemon threads shared by every query's batches; idle ones expire.
    * They inherit no thread-locals from the batch that created them,
    * so an idle thread pins no stream's session or local properties;
    * [[inParallel]] sets both for each task. */
  private lazy val routePool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(null, r, s"graft-route-${n.getAndIncrement()}",
          0, false)
        t.setDaemon(true)
        t
      }
    })
  }

  /** Run `tasks` concurrently, at most `defaultParallelism` at a time;
    * a single task runs inline on the calling thread.
    *
    * Each worker carries the caller's Spark thread-locals
    * (`SQLExecution.withThreadLocalCaptured`): job group and streaming
    * query id (so `query.stop()` cancels its jobs), active session and
    * SQL conf. The caller's `spark.sql.execution.id` is dropped, so
    * every action starts its own execution as it would inline.
    *
    * Returns or throws only after every task has finished — also when
    * the calling thread is interrupted, which interrupts the workers
    * and starts no further task. Throws the first failure, the others
    * attached as suppressed. */
  private[streaming] def inParallel(session: SparkSession,
      tasks: Seq[() => Unit]): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val sc = session.sparkContext
    val queue = new ConcurrentLinkedQueue[() => Unit](tasks.asJava)
    val failures = new ConcurrentLinkedQueue[Throwable]
    val halted = new AtomicBoolean(false)
    // guarded by itself: a worker leaves it (and clears any interrupt
    // aimed at it) atomically, so a pooled thread never carries an
    // interrupt into another batch
    val running = mutable.Set.empty[Thread]
    def work(): Unit = {
      sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
      val me = Thread.currentThread()
      running.synchronized(running += me)
      try {
        var task: () => Unit = null
        while (!halted.get && { task = queue.poll(); task != null }) task()
      } catch {
        case e: Throwable => halted.set(true); failures.add(e)
      } finally running.synchronized { running -= me; Thread.interrupted() }
    }
    val width = math.min(tasks.size, sc.defaultParallelism)
    val workers = (1 to width).map(_ =>
      SQLExecution.withThreadLocalCaptured(
        session.asInstanceOf[classic.SparkSession], routePool)(work()))
    var interrupted: Option[InterruptedException] = None
    workers.foreach { w =>
      var done = false
      while (!done) {
        try { w.get(); done = true }
        catch {
          case e: InterruptedException => if (interrupted.isEmpty) {
            interrupted = Some(e)
            halted.set(true)
            running.synchronized(running.foreach(_.interrupt()))
          }
          case e: ExecutionException =>
            failures.add(Option(e.getCause).getOrElse(e)); done = true
        }
      }
    }
    val all = interrupted.toSeq ++ failures.asScala
    all.headOption.foreach { first =>
      all.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Retry with linear backoff ≙ `outputs/starrocks/starrocks.go:
    * 147-160` (3 tries, 5s·attempt). Wraps sink RPCs. */
  def retry[T](tries: Int = 3, backoffMs: Long = 5000)(f: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < tries) {
      try return f
      catch {
        // NonFatal only: retrying InterruptedException would delay
        // streaming shutdown and re-run sink side effects after
        // cancellation; VM errors must propagate immediately.
        case scala.util.control.NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt < tries) Thread.sleep(backoffMs * attempt)
      }
    }
    throw last
  }
}
