package graft.streaming

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pipeline observability ≙ `metrics/metrics.go:8-41` (Prometheus
  * read/write counters + delay gauges on :7716).
  *
  * Spark-native shape: `df.observe()` puts named aggregates on the
  * data path (computed inside the running plan — no second scan) and
  * a StreamingQueryListener harvests them per micro-batch alongside
  * the engine's own progress (rows/s, batch duration, watermark).
  * Export to Prometheus is then Spark's metrics sink config, not
  * engine code.
  */
object Metrics {

  /** Counter names (read side ≙ reference's read processed counter;
    * deletes broken out because sinks route them differently). */
  val RowsObserved = "rows"
  val DeletesObserved = "deletes"
  val MaxTsObserved = "max_ts"

  /** Attach observation metrics to the envelope stream. The max
    * event-time rides along so the listener can derive READ DELAY
    * (wall clock − newest event read, ≙ DelayReadTime gauge,
    * `metrics/metrics.go:25-30`) without a second scan. */
  def observed(envelope: DataFrame): DataFrame =
    envelope.observe("graft",
      count(lit(1)).as(RowsObserved),
      sum(when(col("op") === "delete", 1L).otherwise(0L)).as(DeletesObserved),
      max(col("ts")).as(MaxTsObserved))

  /** Accumulates totals across batches; snapshot() for scraping. */
  final class Collector extends StreamingQueryListener {
    val rowsRead = new LongAdder
    val deletesRead = new LongAdder
    val batches = new LongAdder
    @volatile var lastBatchDurationMs: Long = 0
    @volatile var lastInputRowsPerSecond: Double = 0.0
    // ≙ DelayReadTime / DelayWriteTime gauges (metrics/metrics.go:
    // 25-37): read delay = wall clock − newest event time in the
    // batch (how far the tail lags the source); write delay = the
    // sink's addBatch duration (how long the destination write took).
    // A batch's target tables write concurrently, so that is the
    // slowest target's route→compact→write chain, not the sum of the
    // sink writes.
    @volatile var lastReadDelaySeconds: Double = 0.0
    @volatile var lastWriteDelaySeconds: Double = 0.0

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      batches.increment()
      lastBatchDurationMs = p.batchDuration
      lastInputRowsPerSecond =
        if (p.inputRowsPerSecond.isNaN) 0.0 else p.inputRowsPerSecond
      val obs = p.observedMetrics.get("graft")
      if (obs != null) {
        rowsRead.add(obs.getAs[Long](RowsObserved))
        val d = obs.getAs[Any](DeletesObserved)
        if (d != null) deletesRead.add(d.asInstanceOf[Long])
        val maxTs = obs.getAs[Any](MaxTsObserved)
        if (maxTs != null) lastReadDelaySeconds = math.max(0.0,
          (System.currentTimeMillis() -
            maxTs.asInstanceOf[java.sql.Timestamp].getTime) / 1000.0)
      }
      val add = p.durationMs.get("addBatch")
      if (add != null) lastWriteDelaySeconds = add.toDouble / 1000.0
    }

    def snapshot: Map[String, Any] = Map(
      "rows_read_total" -> rowsRead.sum(),
      "deletes_read_total" -> deletesRead.sum(),
      "batches_total" -> batches.sum(),
      "last_batch_duration_ms" -> lastBatchDurationMs,
      "last_input_rows_per_second" -> lastInputRowsPerSecond,
      "read_delay_time_seconds" -> lastReadDelaySeconds,
      "write_delay_time_seconds" -> lastWriteDelaySeconds)
  }
}
