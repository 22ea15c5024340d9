package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout control for the parquet lake — the write-side half of
  * the 100 TB read-performance story. The reference engine streams
  * rows into OLTP/OLAP stores that manage their own layout
  * (StarRocks/Doris tablets); on a plain-parquet lake the writer has
  * to do that job itself:
  *
  *  - '''Hive partitioning''' on low-cardinality columns (dates,
  *    tenants) → partition PRUNING: a filtered scan never opens
  *    non-matching directories.
  *  - '''Sort clustering''' within files → parquet row-group min/max
  *    stats become selective, so pushed predicates skip row groups
  *    (and whole files) instead of just filtering rows post-read.
  *  - '''Z-value interleaving''' when two+ columns share the filter
  *    load — a single sort key can only cluster one dimension.
  *  - '''Compaction''' — streaming sinks emit a file per
  *    micro-batch per partition; a 3-second trigger over a day is
  *    28k files/partition. Scan cost at 100 TB is dominated by file
  *    OPENS, not bytes, once this goes unmanaged.
  *
  * All operations are distributed writes (no driver materialization);
  * [[compact]] replaces the table through [[Swap]], and [[write]] and
  * [[compact]] recover a torn swap before touching the table.
  */
object LakeLayout {

  /** Write `df` as a Hive-partitioned, sort-clustered parquet layout.
    *
    * The shuffle is ONE repartition on the partition columns (plus an
    * optional file-splitting salt); each task then sorts its slice by
    * (partCols ++ sortCols) — partition columns first, so the dynamic
    * partition writer streams one open file at a time instead of
    * thrashing a writer per value. `maxRecordsPerFile` splits a
    * task's sorted run into consecutive files, which is what makes
    * per-FILE key ranges disjoint — the property file-skipping needs.
    *
    * @param filesPerPartition >1 adds a deterministic hash salt so a
    *        hot partition's data spreads over that many parallel
    *        writers (and files) instead of one straggler task
    */
  def write(df: DataFrame, path: String, partCols: Seq[String],
      sortCols: Seq[String], filesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 0L, mode: String = "overwrite"): Unit = {
    // an append must land beside the pre-swap rows, not start a fresh
    // table while they sit in the aside copy
    Swap.open(df.sparkSession, path)
    layout(df, path, partCols, sortCols, filesPerPartition,
      maxRecordsPerFile, mode)
  }

  /** [[write]] without the recovery, for [[compact]]'s staged write:
    * a staging dir never has a torn swap of its own. */
  private def layout(df: DataFrame, path: String, partCols: Seq[String],
      sortCols: Seq[String], filesPerPartition: Int,
      maxRecordsPerFile: Long, mode: String): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    val keys: Seq[Column] =
      if (filesPerPartition <= 1) partCols.map(col)
      else partCols.map(col) :+
        pmod(xxhash64(sortCols.map(col): _*), lit(filesPerPartition))
    df.repartition(keys: _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** Register `df` as an EXTERNAL hash-bucketed table (`buckets`
    * buckets on `bucketCols`, optionally sorted by `sortCols` within
    * each bucket file).
    *
    * Bucketing is the amortized pre-shuffle: two tables bucketed the
    * same way (same columns, same bucket count) join with NO Exchange
    * on either side — the scan's output partitioning already matches
    * the join keys. At 100 TB the recurring fact-fact join (lineitem
    * ⋈ orders) is THE dominant shuffle; bucketing pays it once at
    * write time instead of on every query. The reference has no
    * storage-layout control at all; this is the Spark-native path
    * (DataFrameWriter.bucketBy + the catalog's bucket-aware scan
    * planning — plain parquet files, no table-format dependency).
    * BucketedJoinSpec proves the exchange-free plan.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      buckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    require(buckets > 0, "need a positive bucket count")
    val w = df.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).format("parquet").saveAsTable(table)
  }

  /** Bit-interleaved z-value over non-negative integral columns: bit
    * b of column i lands at position b·n+i, so a sort by the result
    * clusters ALL dimensions at once (Morton order) — range filters
    * on any input column map to bounded z-ranges, keeping row-group
    * min/max stats selective for every column instead of only the
    * leading sort key.
    *
    * Plain shift/mask arithmetic — stays inside whole-stage codegen.
    * Production z-ordering rank-normalizes values first (percent_rank
    * → fixed-width int) so skewed domains interleave evenly; callers
    * with already-bounded ints (ids, bucketed amounts, day numbers)
    * can feed them directly.
    */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits must fit in a signed long")
    val n = cols.size
    val terms = for {
      b <- 0 until bits
      i <- 0 until n
    } yield shiftleft(
      shiftright(cols(i).cast("long"), b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Compact a partitioned parquet dir written by [[write]] (or by a
    * streaming sink) down to `filesPerPartition` files per partition,
    * preserving the sort clustering. The rewrite is fully
    * distributed: read → repartition → staged write → [[Swap]], so a
    * crash anywhere leaves a table the next [[write]] or [[compact]]
    * recovers.
    */
  def compact(spark: SparkSession, path: String, partCols: Seq[String],
      sortCols: Seq[String], filesPerPartition: Int = 1): Unit = {
    val (hfs, live) = Swap.open(spark, path)
    Swap(hfs, live)(staged => layout(spark.read.parquet(live.toString),
      staged.toString, partCols, sortCols, filesPerPartition, 0L,
      "overwrite"))
  }
}
