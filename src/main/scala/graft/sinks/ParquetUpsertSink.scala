package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.meta.TableDef
import graft.streaming.Pipeline
import graft.streaming.Pipeline.BatchSink

/** Parquet-backed upsert/delete sink — the test/file-lake stand-in
  * for the JDBC and stream-load sinks (same merge semantics as
  * `INSERT … ON DUPLICATE KEY UPDATE` + `DELETE`,
  * `outputs/mysql/mysql.go:129-202`).
  *
  * Merge = union(existing state, batch) → last-event-per-key →
  * drop deletes; the first batch into an absent target is compacted
  * alone. The merge is the batch's only compaction: the sink
  * [[mergesByKey]], so the pipeline hands it the batch uncompacted.
  * pk-less tables are append-only ([[Pipeline.compacted]]).
  * Idempotent under at-least-once replay because compaction keys on
  * the monotone `seq`.
  *
  * At 100 TB this shape is exactly a Delta/Iceberg MERGE INTO; the
  * read-union-rewrite here is the dependency-free equivalent for a
  * plain parquet dir. [[BucketedUpsertSink]] is the same contract
  * with touched-bucket-only rewrites (batch-proportional cost) —
  * prefer it for large tables; this sink rewrites the whole table
  * per batch but never materializes it on the driver.
  */
final class ParquetUpsertSink(rootDir: String) extends BatchSink {

  private def path(t: TableDef) = s"$rootDir/${t.schema}.${t.name}"

  override def mergesByKey: Boolean = true

  override def write(batch: DataFrame, t: TableDef, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (hfs, live) = Swap.open(spark, path(t))
    rejectBucketedLayout(hfs, live, t)
    val unioned =
      if (hfs.exists(live)) spark.read.parquet(live.toString)
        .unionByName(batch, allowMissingColumns = true)
      else batch
    val finalState = Pipeline.compacted(unioned, t)
      .filter(col("op") =!= "delete")
    // Distributed write to the staging dir (executors write in
    // parallel; nothing flows through the driver), then the swap: the
    // dir still being read is never overwritten in place, and
    // pre-batch state survives until its replacement is in position.
    Swap(hfs, live)(staged =>
      finalState.write.mode(SaveMode.Overwrite).parquet(staged.toString))
  }

  /** A target dir holding bucket=&lt;b&gt;/ subdirs is state from the
    * BUCKETED [[BucketedUpsertSink]] layout. This sink's
    * `spark.read.parquet` would partition-discover those dirs, inject
    * a spurious `bucket` column into the merged schema, and rewrite
    * the table flat — silent layout/schema corruption. Fail loudly
    * instead (the exact mirror of BucketedUpsertSink's
    * rejectFlatLayout guard). */
  private def rejectBucketedLayout(hfs: FileSystem, dir: Path,
      t: TableDef): Unit =
    if (hfs.exists(dir) && hfs.listStatus(dir).exists(f =>
        f.isDirectory && f.getPath.getName.startsWith("bucket=")))
      throw new IllegalStateException(
        s"${t.schema}.${t.name}: $dir holds bucketed (BucketedUpsertSink) " +
          "state; merging it flat would inject a spurious 'bucket' column and " +
          "corrupt the layout. Keep the table on the 'bucketed-upsert' sink, " +
          "or migrate once: read the bucketed dir (dropping 'bucket') and " +
          "re-write it through ParquetUpsertSink into a fresh directory.")

  def read(t: TableDef): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.read.parquet(Swap.open(spark, path(t))._2.toString)
  }
}
