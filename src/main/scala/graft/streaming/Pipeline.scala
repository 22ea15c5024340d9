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

import graft.meta.{DdlStatement, SchemaRegistry, TableDef}
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
  *    replaces order-preserving run-splitting (SURVEY §7.5.1). It
  *    runs once per table per batch: inside the sink's own merge when
  *    the sink [[BatchSink.mergesByKey]], else here before the write.
  *  - delivery: at-least-once; offsets/commits live in the
  *    checkpoint dir (≙ GTID bbolt persistence,
  *    `inputs/mysql/mysql_position.go:150-170`); sinks must be
  *    idempotent by PK, which upserts keyed on `seq` are.
  *  - DDL: one batch body for both modes. Given an [[Evolution]],
  *    each batch first applies its in-stream DDL to the registry and
  *    forwards it to the routes' targets, then types every route
  *    through the schema version its rows are pinned to — no restart
  *    per schema version (SURVEY §3.2; see [[SchemaEvolution]]).
  *    Without one, routes type through their fixed `TableDef`s and
  *    DDL events are dropped.
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
    * parquet). Receives a routed, typed batch, compacted to the last
    * event per key unless the sink [[mergesByKey]]. */
  trait BatchSink extends Serializable {
    def write(batch: DataFrame, target: TableDef, batchId: Long): Unit

    /** True when `write` itself merges the batch to the last event per
      * key on the monotone `seq` (pk-less tables append-only, as in
      * [[compacted]]): the sink then receives the batch uncompacted,
      * and its merge is the batch's only compaction. */
    def mergesByKey: Boolean = false
  }

  /** Project the generic Map-envelope onto a typed per-table frame:
    * after[name] cast to the column's Spark type, plus the envelope's
    * op/seq/pos/ts metadata (ts = source event time, which the Kafka
    * sink's envelope re-emits and lake sinks keep as provenance).
    * DDL events are not rows. The filter sits on the scan; the cast is
    * a narrow projection. */
  def routed(envelope: DataFrame, r: Route): DataFrame = {
    val shape = r.source.getOrElse(r.target)
    val typedCols = shape.columns.map { c =>
      col("after").getItem(c.name).cast(c.sparkType).as(c.name)
    }
    envelope
      .filter(col("db") === r.db && col("table") === r.table &&
        col("op") =!= SchemaEvolution.DdlOp)
      .select(typedCols ++ Seq(col("op"), col("seq"), col("pos"),
        col("ts")): _*)
  }

  /** Compact a routed batch to last-event-per-key on `seq`
    * (hash-agg variant — map-side partial combine; see Compactor).
    * pk-less tables have no upsert identity and pass through
    * append-only (a groupBy over zero keys would collapse the whole
    * batch to one row). */
  def compacted(batch: DataFrame, t: TableDef): DataFrame = {
    val pks = t.pkColumns.map(_.name)
    if (pks.isEmpty) batch
    else Compactor.lastEventPerKeyAgg(pks, "seq")(batch)
  }

  /** Schema evolution for a pipeline's batches: in-stream DDL updates
    * `registry`, and `forward` receives each applied statement once per
    * route whose source it alters, with that route's target — the
    * shape of [[graft.sinks.JdbcDdlForwarder.forward]]. `false` means
    * the target dialect cannot express it; the registry is updated
    * anyway. Evolving routes type through the registry, so they carry
    * no transforms or column mappers. */
  final case class Evolution(registry: SchemaRegistry,
      forward: (DdlStatement, TableDef) => Boolean = (_, _) => true)

  /** Assemble and start the streaming query. */
  def start(
      envelope: DataFrame,
      routes: Seq[Route],
      sink: BatchSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      evolution: Option[Evolution] = None): StreamingQuery = {
    require(evolution.isEmpty || routes.forall(_.transforms.isEmpty),
      "schema evolution does not compose with transforms/column mappers " +
        "yet — evolving routes project through the registry")
    envelope.writeStream
      .queryName("graft-cdc")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, routes, sink, batchId, evolution)
      }
      .start()
  }

  /** One micro-batch: route → transform → compact → sink, per route
    * (the sink compacts when it [[BatchSink.mergesByKey]]).
    * With an [[Evolution]], the batch's DDL is applied and forwarded
    * first, on the calling thread, so it lands before any DML write.
    * The batch is persisted when it is read more than once. Routes
    * sharing a target form one group and run in order (two merges into
    * one table would both read its pre-batch state); distinct targets
    * run concurrently. */
  def processBatch(batch: DataFrame, routes: Seq[Route], sink: BatchSink,
      batchId: Long, evolution: Option[Evolution] = None): Unit = {
    val reused = routes.size > 1 || evolution.isDefined
    if (reused) batch.persist()
    try {
      evolution.foreach { e =>
        SchemaEvolution.applyDdl(batch, e.registry, (db, stmt) =>
          routes.filter(r => r.db == db && r.table == stmt.table).foreach { r =>
            if (!e.forward(stmt, r.target)) System.err.println(
              s"[graft] DDL on ${r.target.schema}.${r.target.name} not " +
                "expressible in the target dialect — registry updated; " +
                "apply the target ALTER via the per-version restart runbook")
          })
      }
      val groups = byTarget(routes)(r => (r.target.schema, r.target.name))
      inParallel(batch.sparkSession, groups.map { group => () =>
        group.foreach { r =>
          // an evolving route whose source DDL dropped or renamed
          // writes nothing
          val typed = evolution match {
            case None => Some(r.target -> routed(batch, r))
            case Some(e) => e.registry.current(r.db, r.table).map(t =>
              t.copy(schema = r.target.schema, name = r.target.name) ->
                SchemaEvolution.routedVersioned(batch, r.db, r.table, e.registry))
          }
          typed.foreach { case (target, df) =>
            val out = Transforms.chain(r.transforms: _*)(df)
            sink.write(if (sink.mergesByKey) out else compacted(out, target),
              target, batchId)
          }
        }
      })
    } finally {
      if (reused) batch.unpersist()
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
