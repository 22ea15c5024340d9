package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.sinks.Swap

/** Persisted ledger of [[TableChecksum.incrementalChecksums]] deltas
  * — the pipeline-side half of continuous verification: each
  * micro-batch's signed per-chunk deltas land as a `__batch` ledger
  * partition, and the maintained table checksum is their running sum.
  * Verifying a 100 TB replica then costs ONE scan of the TARGET
  * (fresh [[TableChecksum.chunkChecksums]]) plus a ledger sum bounded
  * by #chunks × #batches — the source side is never rescanned, and
  * [[compact]] keeps the ledger at #chunks rows.
  *
  * Replay safety (foreachBatch is at-least-once) comes from the
  * partition layout, the same rule as the curation funnel's batch
  * keying: deltas write under `__batch=<id>` with DYNAMIC partition
  * overwrite, so a replayed batch OVERWRITES its own partition with
  * identical rows — never double-counts — and batches never touch
  * each other's partitions.
  */
object ChecksumLedger {

  private val schema = StructType(Seq(
    StructField("chunk", LongType),
    StructField("d_rows", LongType),
    StructField("d_sum", DecimalType(38, 0)),
    StructField("__batch", LongType)))

  /** Name of the watermark file carrying the highest batch id folded
    * by [[compact]]. */
  private val CompactedThrough = "_graft_compacted_through"

  private def compactedThrough(hfs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    val m = new org.apache.hadoop.fs.Path(p, CompactedThrough)
    if (!hfs.exists(m)) Long.MinValue
    else {
      val in = hfs.open(m)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** Record one batch's deltas (a [[TableChecksum.incrementalChecksums]]
    * output). Overwrites only this batch's own partition — replay-
    * idempotent, concurrent-batch-safe. A batch at or below the
    * [[compact]] watermark is a NO-OP: its deltas are already folded
    * into the compacted row, and re-writing its partition would
    * count them twice (sums, unlike the dedup indexes' min/max, are
    * not replay-idempotent on their own). */
  def record(spark: SparkSession, deltas: DataFrame, stateDir: String,
      batchId: Long): Unit = {
    val (hfs, p) = Swap.open(spark, stateDir)
    if (hfs.exists(p) && batchId <= compactedThrough(hfs, p)) return
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try deltas
      .select(col("chunk"), col("d_rows"),
        col("d_sum").cast(DecimalType(38, 0)), lit(batchId).as("__batch"))
      .write.mode("overwrite").partitionBy("__batch").parquet(stateDir)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** The maintained checksums: per-chunk running sum of every
    * recorded delta. Shape-compatible with
    * [[TableChecksum.chunkChecksums]] minus the pk range (a ledger
    * of deltas has no surviving pk extremes), so
    * [[TableChecksum.diff]] applies directly against a fresh target
    * checksum. Chunks whose deltas cancelled to zero rows AND zero
    * sum (every row inserted was deleted) are dropped — a fresh
    * checksum of the target has no row for an empty chunk either. */
  def current(spark: SparkSession, stateDir: String): DataFrame = {
    val (hfs, p) = Swap.open(spark, stateDir)
    val ledger =
      if (hfs.exists(p)) spark.read.schema(schema).parquet(stateDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    ledger.groupBy(col("chunk"))
      .agg(sum(col("d_rows")).as("n_rows"),
        sum(col("d_sum")).cast(DecimalType(38, 0)).as("checksum"))
      .filter(col("n_rows") =!= 0 || col("checksum") =!= 0)
  }

  /** Divergence report: maintained ledger vs a fresh
    * [[TableChecksum.chunkChecksums]] of the target — empty iff the
    * target holds exactly the changes the pipeline shipped. */
  def verify(spark: SparkSession, stateDir: String,
      target: DataFrame): DataFrame =
    TableChecksum.diff(current(spark, stateDir), target)

  /** Streaming maintenance: run a changelog stream's per-batch
    * deltas into the ledger. One `foreachBatch` — compute the
    * batch's [[TableChecksum.incrementalChecksums]] and [[record]]
    * it under the batch id, which is exactly what makes replays
    * safe (same id → same partition → overwrite, and post-compact
    * replays no-op at the watermark). The returned query runs until
    * stopped; verification stays a separate [[verify]] call at
    * whatever cadence the operator wants.
    *
    * @param changes   STREAMING frame carrying the changelog
    * @param mkDeltas  batch → deltas, typically a closure over
    *                  [[TableChecksum.incrementalChecksums]] with the
    *                  table's op/pk/rendering columns
    */
  def maintain(changes: DataFrame, stateDir: String,
      checkpointDir: String,
      mkDeltas: DataFrame => DataFrame):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        record(batch.sparkSession, mkDeltas(batch), stateDir, batchId)
      }
      .start()

  /** Collapse the ledger to one row per chunk (replaced through
    * [[Swap]]; every entry point recovers a torn swap first, as a torn
    * swap read as an empty ledger would lose its history): keeps
    * [[current]]'s input at #chunks rows however many batches have
    * run. The compacted rows land under one reserved partition; later
    * batches append their own partitions beside it. Run OFFLINE —
    * with the maintenance query stopped — like the dedup-index
    * compaction: the directory swap would race an in-flight
    * [[record]]. The watermark it leaves behind is what keeps REPLAYS
    * safe after the restart; the offline requirement is only about
    * concurrent writes. */
  def compact(spark: SparkSession, stateDir: String): Unit = {
    val (hfs, p) = Swap.open(spark, stateDir)
    if (!hfs.exists(p)) return
    val ledger = spark.read.schema(schema).parquet(stateDir)
    if (ledger.isEmpty) return
    // the watermark must cover every batch being folded, and fold
    // monotonically past any previous compaction's marker
    val maxBatch = math.max(
      ledger.agg(max(col("__batch"))).head.getLong(0),
      compactedThrough(hfs, p))
    Swap(hfs, p) { staged =>
      ledger
        .groupBy(col("chunk"))
        .agg(sum(col("d_rows")).as("d_rows"),
          sum(col("d_sum")).cast(DecimalType(38, 0)).as("d_sum"))
        .filter(col("d_rows") =!= 0 || col("d_sum") =!= 0)
        // reserved partition id: a real batch never writes -1 (Spark
        // batch ids start at 0), so compaction output can coexist
        // with post-compaction batch partitions
        .withColumn("__batch", lit(-1L))
        .write.partitionBy("__batch").parquet(staged.toString)
      val out = hfs.create(
        new org.apache.hadoop.fs.Path(staged, CompactedThrough), true)
      try out.write(maxBatch.toString.getBytes("UTF-8")) finally out.close()
    }
  }
}
