package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.meta.TableDef
import graft.operators.Compactor
import graft.streaming.Pipeline.BatchSink

/** Bucket-partitioned parquet upsert sink — the 100 TB shape of
  * [[ParquetUpsertSink]]. State lives under
  * `dir/<db.table>/bucket=<b>/` with `b = pmod(xxhash64(pks), n)`.
  * A micro-batch:
  *
  *   1. assigns each event its bucket (narrow projection),
  *   2. determines the TOUCHED bucket set (distinct over the batch —
  *      bounded by n),
  *   3. reads ONLY those buckets' existing state, merges
  *      (last-event-per-key over state ∪ batch, or over the batch
  *      alone when no touched bucket holds state), and rewrites ONLY
  *      those directories.
  *
  * The merge is the batch's only compaction: the sink
  * [[mergesByKey]], so the pipeline hands it the batch uncompacted.
  *
  * Untouched state is never read or written, so batch cost scales
  * with the batch's key spread, not the table size: a 10k-row batch
  * against a 10^11-row table reads/rewrites at most `buckets`
  * partitions. This is MERGE-INTO-on-plain-parquet; swapping in
  * Delta/Iceberg replaces steps 2-3 with the format's own
  * copy-on-write (same plan shape, file-level granularity).
  */
final class BucketedUpsertSink(rootDir: String, buckets: Int = 64)
  extends BatchSink {

  private def tableDir(t: TableDef) = s"$rootDir/${t.schema}.${t.name}"

  private def withBucket(df: DataFrame, t: TableDef): DataFrame =
    df.withColumn("bucket",
      pmod(xxhash64(t.pkColumns.map(c => col(c.name)): _*), lit(buckets)))

  override def mergesByKey: Boolean = true

  override def write(batch: DataFrame, t: TableDef, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (hfs, dir) = Swap.fs(spark, tableDir(t))
    val pks = t.pkColumns.map(_.name)
    require(pks.nonEmpty,
      s"${t.schema}.${t.name}: BucketedUpsertSink requires primary keys " +
        "(pk-less tables have no upsert identity — use an append sink)")
    rejectFlatLayout(recoverBuckets(hfs, dir), dir, t)
    val bucketed = withBucket(batch, t).persist()
    try {
      val touched = bucketed.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).sorted
      if (touched.isEmpty) return
      def bucketDir(b: Long) = new Path(dir, s"bucket=$b")
      val existingTouched = touched.filter(b => hfs.exists(bucketDir(b)))
      val unioned =
        if (existingTouched.isEmpty) bucketed
        else spark.read // partition-pruned read: only the touched buckets
          .option("basePath", dir.toString)
          .parquet(existingTouched.toSeq.map(bucketDir(_).toString): _*)
          .unionByName(bucketed, allowMissingColumns = true)
      val finalState = Compactor.lastEventPerKeyAgg(pks, "seq")(unioned)
        .filter(col("op") =!= "delete")
      // distributed write to the table's staging dir (never through
      // the driver), then a swap of ONLY the touched bucket dirs. A
      // touched bucket with no surviving rows has no staged dir and
      // its live dir is removed — deletes can't resurrect.
      Swap.withStaging(hfs, dir) { staged =>
        finalState.write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(staged.toString)
        touched.foreach(b =>
          Swap.commit(hfs, bucketDir(b), new Path(staged, s"bucket=$b")))
      }
    } finally bucketed.unpersist()
  }

  /** Recover any torn bucket swap (its aside copy is a dot-hidden
    * child of the table dir, invisible to partition discovery);
    * returns the table dir's listing. */
  private def recoverBuckets(hfs: FileSystem, dir: Path): Seq[FileStatus] = {
    if (!hfs.exists(dir)) return Nil
    val listing = hfs.listStatus(dir).toSeq
    Swap.recoverChildren(hfs, dir, listing.map(_.getPath))
    listing
  }

  /** A target dir holding top-level parquet files is state from the
    * FLAT [[ParquetUpsertSink]] layout. Merging over it would silently
    * ignore every pre-existing row (this sink only reads bucket=&lt;b&gt;/
    * subdirs) — wrong table state with no error — so fail loudly and
    * name the migration path instead. */
  private def rejectFlatLayout(listing: Seq[FileStatus], dir: Path,
      t: TableDef): Unit =
    if (listing.exists(f => !f.isDirectory && f.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"${t.schema}.${t.name}: $dir holds non-bucketed (flat ParquetUpsertSink) " +
          "state, which this sink's bucket=<b>/ reads would silently ignore. " +
          "Either keep the table on the 'parquet-upsert' sink, or migrate once: " +
          "read the flat dir and re-write it through BucketedUpsertSink into a " +
          "fresh directory.")

  def read(t: TableDef): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (hfs, dir) = Swap.fs(spark, tableDir(t))
    recoverBuckets(hfs, dir)
    spark.read.parquet(dir.toString).drop("bucket")
  }
}
