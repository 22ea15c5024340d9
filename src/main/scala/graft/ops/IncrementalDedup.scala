package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions.fingerprint
import graft.sinks.Swap

/** Incremental (historical) exact dedup — the continuous-ingestion
  * shape: each arriving batch is checked against a PERSISTED
  * fingerprint index of everything ever accepted, novel documents
  * pass through, and their fingerprints append to the index. "Never
  * train on a document twice", across runs, across years of data.
  *
  * Index layout: parquet partitioned by `bucket = pmod(xxhash64(fp),
  * nBuckets)`. Both sides of the membership check hash the same way,
  * so the anti-join co-locates per bucket, and — because the batch's
  * fingerprints usually touch a SUBSET of buckets — the index scan
  * prunes to those partition dirs (a small batch against a 100 TB
  * index reads only its own buckets, not the index). The index rows
  * are (fp, keep_id): 48 bytes/doc — a trillion-doc index is ~50 TB
  * of parquet but each batch touches only its bucket slice.
  *
  * The bucket count is PART OF THE LAYOUT: a `_graft_buckets` marker
  * is written on first create and later calls must pass the same
  * value (a different nBuckets would hash fingerprints into other
  * buckets and silently disable dedup — fail loudly instead).
  *
  * All filesystem access goes through the Hadoop FS of the path, so
  * hdfs:///s3a:// index dirs work the same as local ones.
  *
  * Null/absent text fingerprints as the empty string (all such docs
  * are mutual duplicates) — a null fp would never equal itself in
  * the anti-join and null-text docs would be re-accepted forever.
  *
  * Replay safety: accepting a batch twice appends duplicate index
  * rows — harmless for membership (anti-join semantics) and bounded
  * by the replay count; [[compactIndex]] dedupes the index offline.
  * The novel-doc OUTPUT is replay-stable: a replayed batch returns
  * zero novel docs because its fingerprints are already indexed.
  */
object IncrementalDedup {

  private val indexSchema = StructType(Seq(
    StructField("fp", StringType),
    StructField("keep_id", LongType),
    StructField("bucket", LongType)))

  private def checkOrWriteBucketMarker(spark: SparkSession, dir: String,
      nBuckets: Int): Unit = {
    val (hfs, p) = Swap.fs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(p, "_graft_buckets")
    if (hfs.exists(marker)) {
      val in = hfs.open(marker)
      val stored = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      require(stored == nBuckets.toString,
        s"index at $dir was bucketed with nBuckets=$stored; " +
          s"called with $nBuckets — a mismatch silently disables dedup")
    } else {
      hfs.mkdirs(p)
      val out = hfs.create(marker, true)
      try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The `_graft_buckets` discipline generalized to any layout
    * identity a caller must not silently vary: stamped on first use,
    * a later mismatch refuses loudly. The dedup-near curation stage
    * stamps its tokenizer identity this way (`_graft_neartok`) —
    * band hashes over word shingles and char grams live in DIFFERENT
    * spaces, so re-running an existing index under another tokenizer
    * would silently mix band spaces (membership probes that never
    * match ⇒ dedup quietly off), the same corruption class
    * [[ModelStore.open]]'s parameter check turns into a config
    * error. */
  def checkOrWriteIdentityMarker(spark: SparkSession, dir: String,
      name: String, content: String): Unit = {
    val (hfs, p) = Swap.open(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(p, name)
    if (hfs.exists(marker)) {
      val in = hfs.open(marker)
      val stored = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      require(stored == content.trim,
        s"index at $dir does not match this stage's configuration —\n" +
          s"stored ($name):\n$stored\nexpected:\n${content.trim}\n" +
          "point the stage at a fresh index dir or restore the " +
          "original options")
    } else {
      hfs.mkdirs(p)
      val out = hfs.create(marker, true)
      try out.write(content.trim.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Check `batch` against the index at `indexDir` WITHOUT mutating
    * it: returns the batch's novel docs (first-id winner per
    * fingerprint within the batch, then anti-join on the index).
    * The returned frame is MATERIALIZED (localCheckpoint) — safe to
    * consume after a subsequent index append, and the internal
    * working checkpoint is released before returning (a streaming
    * caller invokes this once per micro-batch; leaked blocks would
    * otherwise pin executor storage for the session lifetime).
    * `materialize = false` returns the LAZY membership plan instead
    * (plan inspection / diagnostics): the caller must consume it
    * before any index append, and the working checkpoint stays
    * pinned. */
  def novel(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, nBuckets: Int = 64,
      materialize: Boolean = true): DataFrame = {
    val (hfs, p) = Swap.open(spark, indexDir)
    if (hfs.exists(p)) checkOrWriteBucketMarker(spark, indexDir, nBuckets)
    val fps = batch
      .withColumn("fp", fingerprint(coalesce(col(textCol), lit(""))))
      .withColumn("bucket", pmod(xxhash64(col("fp")), lit(nBuckets.toLong)))
    // within-batch winner: lowest id per fingerprint. localCheckpoint:
    // the frame feeds BOTH the touched-bucket collect and the
    // anti-join — without it the whole batch lineage runs twice.
    val winners = fps.withColumn("__min",
        min(col(idCol)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))))
      .filter(col(idCol) === col("__min")).drop("__min")
      .localCheckpoint()
    if (!hfs.exists(p)) winners
    else {
      // explicit schema: an index dir holding only _SUCCESS (created
      // by an empty first batch) must read as empty, not throw
      val idx = spark.read.schema(indexSchema).parquet(indexDir)
      // restrict the index scan to the buckets this batch touches:
      // partition pruning keeps the membership check batch-
      // proportional, not index-proportional
      val touched = winners.select(col("bucket")).distinct()
        .collect().map(_.getLong(0))
      val joined = winners.join(
        idx.filter(col("bucket").isin(touched.toIndexedSeq: _*))
          .select(col("fp"), col("bucket")),
        Seq("bucket", "fp"), "left_anti")
      if (!materialize) joined
      else {
        val out = joined.localCheckpoint()
        CheckpointRelease.release(winners)
        out
      }
    }
  }

  /** Append accepted fingerprint rows (`fp`, `bucket`, `keep_id`) to
    * the index. Split out so callers with their OWN commit point —
    * the curation CLI appends only after its output write lands —
    * can defer the index mutation past it (≙ [[appendBandRows]]). */
  def appendFpRows(spark: SparkSession, rows: DataFrame,
      indexDir: String, nBuckets: Int = 64): Unit = {
    Swap.open(spark, indexDir)
    rows.select(col("fp"), col("bucket"), col("keep_id"))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(indexDir)
    checkOrWriteBucketMarker(spark, indexDir, nBuckets)
  }

  /** [[novel]] + append the accepted fingerprints to the index.
    * Returns the novel docs (WITHOUT the fp/bucket helper columns).
    * `novel` already returns a materialized frame, so the append
    * cannot make the result anti-join against its own fingerprints. */
  def acceptNovel(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, nBuckets: Int = 64): DataFrame = {
    val n = novel(spark, batch, textCol, idCol, indexDir, nBuckets)
    appendFpRows(spark,
      n.select(col("fp"), col("bucket"), col(idCol).as("keep_id")),
      indexDir, nBuckets)
    n.drop("fp", "bucket")
  }

  // ---------------------------------------------------------------
  // NEAR-dup variant: the same persisted-index shape, with MinHash
  // LSH band signatures in place of exact fingerprints — "never
  // train on a near-copy twice", across runs. A document matches
  // the index when ANY of its 4 band signatures has been seen; a
  // paraphrased/lightly-edited re-crawl shares bands with the
  // original with the usual LSH probability, where the exact fp
  // never would.
  // ---------------------------------------------------------------

  private val bandIndexSchema = StructType(Seq(
    StructField("band", org.apache.spark.sql.types.IntegerType),
    StructField("x", LongType),
    StructField("y", LongType),
    StructField("keep_id", LongType),
    StructField("bucket", LongType)))

  /** (id-named, band, x, y, bucket) band rows for a batch. The
    * bucket hashes the WHOLE band signature, so index partition
    * pruning works exactly as in the exact variant. */
  private def bands(batch: DataFrame, textCol: String, idCol: String,
      nBuckets: Int): DataFrame =
    Dedup.minhashBands(
        batch.withColumn("__t", coalesce(col(textCol), lit(""))),
        "__t", idCol)
      .withColumn("bucket",
        pmod(xxhash64(col("band"), col("x"), col("y")), lit(nBuckets.toLong)))

  /** Near-dup novelty check against the band index at `indexDir`,
    * without mutating it. Semantics, in order:
    *
    *  1. a doc with ANY band signature already indexed is dropped
    *     (near-dup of something accepted in an earlier batch);
    *  2. survivors sharing a band WITHIN the batch become candidate
    *     pairs, resolve to transitive dup-groups
    *     ([[Components.connectedComponents]] — micro-batches are
    *     bounded, so the iterative rounds are over batch-sized,
    *     not history-sized, frames), and only each group's min-id
    *     keeper is novel.
    *
    * Returns (novel doc rows, all-survivor band rows) — the second
    * frame is what [[acceptNovelNearDup]] appends: indexing EVERY
    * survivor's bands (keepers and absorbed members alike, keep_id =
    * the group keeper) is what makes a replayed batch return zero
    * novel docs even for members that share no band with their
    * keeper directly (near-dup is not transitive; the index must
    * remember the member, not just the keeper). */
  def novelNearDup(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, indexDir: String,
      nBuckets: Int = 64): (DataFrame, DataFrame) = {
    val (hfs, p) = Swap.open(spark, indexDir)
    if (hfs.exists(p)) checkOrWriteBucketMarker(spark, indexDir, nBuckets)
    // feeds the touched-bucket collect, the index probe, the pair
    // join and the append — one materialization instead of four
    // lineage replays
    val b = bands(batch, textCol, idCol, nBuckets).localCheckpoint()
    val survivorBands =
      if (!hfs.exists(p)) b
      else {
        val idx = spark.read.schema(bandIndexSchema).parquet(indexDir)
        val touched = b.select(col("bucket")).distinct()
          .collect().map(_.getLong(0))
        val idxF = idx.filter(col("bucket").isin(touched.toIndexedSeq: _*))
          .select(col("bucket"), col("band"), col("x"), col("y"))
        // doc-level drop: one indexed band condemns the whole doc
        val hit = b.join(idxF, Seq("bucket", "band", "x", "y"), "left_semi")
          .select(col(idCol)).distinct()
        b.join(hit, Seq(idCol), "left_anti")
      }
    val l = survivorBands.select(col(idCol).as("a"),
      col("band"), col("x"), col("y"))
    val r = survivorBands.select(col(idCol).as("bb"),
      col("band"), col("x"), col("y"))
    val pairs = l.join(r, Seq("band", "x", "y"))
      .filter(col("a") < col("bb"))
      .select(col("a"), col("bb")).distinct()
    val groups = Components.connectedComponents(pairs, "a", "bb")
    // keeper = group label (min id); docs in no pair are their own
    // keepers. keep_id rides along for index provenance.
    val survivors = batch.join(
      survivorBands.select(col(idCol)).distinct(), Seq(idCol))
    val labeled = survivors.join(
        groups.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("keep_id", coalesce(col("group_id"), col(idCol)))
      .drop("group_id")
    val novelDocs = labeled.filter(col("keep_id") === col(idCol))
      .drop("keep_id")
    val appendBands = survivorBands.join(
      labeled.select(col(idCol), col("keep_id")), Seq(idCol))
    // materialize the RESULTS and release the working checkpoint:
    // per-micro-batch callers would otherwise pin `b`'s blocks for
    // the session lifetime, and materialized returns are also what
    // makes "append after" safe for every caller
    val novelCp = novelDocs.localCheckpoint()
    val bandsCp = appendBands.localCheckpoint()
    CheckpointRelease.release(b)
    (novelCp, bandsCp)
  }

  /** Append band rows (the second frame of [[novelNearDup]]) to the
    * index. Split out so callers with their OWN commit point — the
    * curation CLI appends only after its output write lands, else a
    * failed run would permanently blacklist the batch's documents —
    * can defer the index mutation past it. */
  def appendBandRows(spark: SparkSession, appendBands: DataFrame,
      indexDir: String, nBuckets: Int = 64): Unit = {
    Swap.open(spark, indexDir)
    appendBands.select(col("band"), col("x"), col("y"),
        col("keep_id"), col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(indexDir)
    checkOrWriteBucketMarker(spark, indexDir, nBuckets)
  }

  /** Offline index compaction — the maintenance pass the scaladoc
    * above promises: at-least-once replays append DUPLICATE index
    * rows (harmless for membership — the anti-join only asks "is
    * this key present" — but they accumulate forever). Rewrites the
    * index with one row per key (min `keep_id`, deterministic),
    * preserving the bucket-partitioned layout, its pruning, and the
    * `_graft_buckets` marker. Works on BOTH layouts (exact-fp and
    * near-dup bands: the key is every column except `keep_id`).
    *
    * The rewrite replaces the index through [[Swap]]; every entry
    * point recovers a torn swap first ([[Swap.open]]) — a torn swap
    * read as an empty index would re-admit every indexed doc.
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit = {
    val (hfs, p) = Swap.open(spark, indexDir)
    if (!hfs.exists(p)) return
    // an index created by an empty first batch holds only the marker
    // and _SUCCESS — nothing to compact, and schema inference over
    // zero data files would throw (novel() defends the same case
    // with an explicit schema; here the layout could be either)
    val it = hfs.listFiles(p, true)
    var hasData = false
    while (!hasData && it.hasNext)
      hasData = it.next().getPath.getName.endsWith(".parquet")
    if (!hasData) return
    val idx = spark.read.parquet(indexDir)
    val keyCols = idx.columns.filterNot(_ == "keep_id").toSeq
    require(keyCols.contains("bucket"),
      s"$indexDir does not look like a graft dedup index (no bucket column)")
    Swap(hfs, p) { staged =>
      idx.groupBy(keyCols.map(col): _*)
        .agg(min(col("keep_id")).as("keep_id"))
        .write.partitionBy("bucket").parquet(staged.toString)
      // carry the layout markers into the staged copy before the swap
      // (_graft_buckets; _graft_neartok when the dedup-near stage
      // stamped a tokenizer identity)
      for (name <- Seq("_graft_buckets", "_graft_neartok")) {
        val marker = new org.apache.hadoop.fs.Path(p, name)
        if (hfs.exists(marker))
          org.apache.hadoop.fs.FileUtil.copy(hfs, marker, hfs,
            new org.apache.hadoop.fs.Path(staged, name),
            false, spark.sessionState.newHadoopConf())
      }
    }
  }

  /** [[novelNearDup]] + append every survivor's band rows to the
    * index. Returns the novel (keeper) docs (already materialized by
    * novelNearDup, so the append cannot re-evaluate them). */
  def acceptNovelNearDup(spark: SparkSession, batch: DataFrame,
      textCol: String, idCol: String, indexDir: String,
      nBuckets: Int = 64): DataFrame = {
    val (novelDocs, appendBands) =
      novelNearDup(spark, batch, textCol, idCol, indexDir, nBuckets)
    appendBandRows(spark, appendBands, indexDir, nBuckets)
    CheckpointRelease.release(appendBands)
    novelDocs
  }
}
