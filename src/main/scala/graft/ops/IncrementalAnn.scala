package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sinks.Swap

import Similarity.{dot, norm}

/** Incremental (persisted) IVF index — the ANN counterpart of
  * [[IncrementalDedup]]: train once, then keep serving as data
  * arrives, with a measured signal for when the trained geometry has
  * gone stale.
  *
  * Layout at `dir`:
  *  - `centroids/` — the trained cell centroids (tiny; broadcast on
  *    every use);
  *  - `vectors/` — (id, vec, nrm, cell) PARTITIONED BY cell, so a
  *    probe of p of n cells READS p/n of the index (Hive partition
  *    pruning — the same touched-slice economics as the dedup
  *    index's fingerprint buckets; spec-pinned on scan numFiles);
  *  - `_graft_cells` — the cell count is part of the layout: a
  *    mismatched re-open fails loudly instead of silently probing
  *    the wrong geometry.
  *
  * [[appendBatch]] assigns new vectors against the STORED centroids
  * (one broadcast pass over the batch — no corpus read, no retrain)
  * and appends their cell partitions. Ingestion therefore never
  * reshuffles the existing index; the price is drift: centroids
  * trained yesterday describe yesterday's distribution.
  * [[staleness]] measures exactly that — each cell's current member
  * mean (decimal-exact sums, so the answer is partitioning-
  * independent) compared by cosine against its stored centroid. A
  * cell whose members drifted reports low centroid-to-mean cosine;
  * retraining is then a deliberate operator action (re-run
  * [[create]]), not something the ingest path does implicitly.
  *
  * [[searchTopK]] serves straight from the index files: queries rank
  * the broadcast centroids, the union of probed cells prunes the
  * vectors read, and the per-query selection is the bounded-heap
  * `topk_pairs` — the same (cos DESC, id ASC) contract as the whole
  * ANN family, so results are identical to
  * [[Similarity.ivfTopKMultiProbe]] over the same corpus and
  * centroids (spec-pinned).
  *
  * Replay safety matches the dedup index: re-appending a batch
  * duplicates rows (bounded by the replay count) — membership-style
  * consumers are unaffected, and [[compact]] is the offline
  * maintenance pass that rewrites the index back to one row per
  * (id, cell) (search over an uncompacted replay would report a
  * duplicated neighbor id twice, so run compact after any replay, or
  * use exactly-once appends — foreachBatch + checkpoint — as the
  * streaming contract).
  *
  * When this index runs NEXT TO the dedup fingerprint index in one
  * ingest pipeline, append THIS index first and the dedup ledger
  * last: the ledger is the admission commit point, so a crash
  * between the two appends replays as "still novel" (bounded ANN
  * duplicate, fixed by [[compact]]) instead of "already admitted"
  * (vectors lost forever). IndexSoakSpec pins the protocol with an
  * interleaved crash + replay.
  */
object IncrementalAnn {

  /** Unconditional marker (over)write — [[create]] is the declared
    * retrain/retune action, so a DIFFERENT nCells on an existing
    * index is legitimate there (it rewrites centroids and vectors
    * anyway); the geometry-mismatch check lives in [[readCells]],
    * guarding the paths that CONSUME an existing layout
    * (appendBatch/searchTopK/staleness/compact). */
  private def writeCellMarker(spark: SparkSession, dir: String,
      nCells: Int): Unit = {
    val (hfs, p) = Swap.fs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(p, "_graft_cells")
    hfs.mkdirs(p)
    val out = hfs.create(marker, true)
    try out.write(nCells.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Every consumer opens the index here: a torn [[compact]] swap is
    * recovered ([[Swap.open]]) on ANY open, not only the next
    * compact(), so it never surfaces as a missing-dir read error. */
  private def readCells(spark: SparkSession, dir: String): Int = {
    Swap.open(spark, s"$dir/vectors")
    val (hfs, p) = Swap.fs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(p, "_graft_cells")
    require(hfs.exists(marker), s"no IVF index at $dir (missing _graft_cells)")
    val in = hfs.open(marker)
    try scala.io.Source.fromInputStream(in).mkString.trim.toInt
    finally in.close()
  }

  /** Train centroids on `corpus` (Lloyd rounds over deterministic
    * seeds — [[Similarity.kmeansRefine]]) and write the index.
    * This IS the retrain/retune action: on an existing index it
    * overwrites centroids, vectors, AND the cell-count marker (so
    * retuning nCells needs no manual `_graft_cells` surgery). The
    * marker is deleted FIRST and committed LAST: a create() that
    * dies anywhere in between — fresh dir OR re-create over an
    * existing index — leaves no marker, so readCells() refuses the
    * torn state loudly instead of silently probing new centroids
    * against old cell-partitioned vectors. */
  def create(spark: SparkSession, corpus: DataFrame, vecCol: String,
      idCol: String, dir: String, nCells: Int = 16,
      rounds: Int = 1): Unit = {
    val (hfs, p) = Swap.fs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(p, "_graft_cells")
    if (hfs.exists(marker)) hfs.delete(marker, false)
    val cents = Similarity.kmeansRefine(corpus, vecCol, idCol,
      nCells, rounds)
    cents.write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    val assigned = Similarity.cellAssign(corpus, vecCol, idCol, nCells,
      centroids = Some(spark.read.parquet(s"$dir/centroids")))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col("nrm"), col("cell"))
    assigned.write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$dir/vectors")
    writeCellMarker(spark, dir, nCells)
  }

  /** Assign a new batch against the STORED centroids and append its
    * cell partitions — one broadcast pass, the existing index is
    * never read or rewritten. Returns the batch's assignments. */
  def appendBatch(spark: SparkSession, batch: DataFrame, vecCol: String,
      idCol: String, dir: String): DataFrame = {
    val nCells = readCells(spark, dir)
    val assigned = Similarity.cellAssign(batch, vecCol, idCol, nCells,
      centroids = Some(spark.read.parquet(s"$dir/centroids")))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col("nrm"), col("cell"))
    assigned.write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(s"$dir/vectors")
    assigned
  }

  /** Per-cell drift meter: cosine between the stored centroid and
    * the cell's CURRENT decimal-exact member mean. 1.0 = the trained
    * geometry still describes the members; a drop marks the cells
    * whose ingest outran the training. */
  def staleness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    readCells(spark, dir) // marker check + torn-swap self-heal
    val vectors = spark.read.parquet(s"$dir/vectors")
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("cvec"), norm(col("cvec")).as("cn"))
    val means = vectors
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("x").cast(DecimalType(28, 12))) /
        count(lit(1))).cast("double").as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m").cast("float")).as("mvec"),
        count(lit(1)).as("__d"))
      .drop("__d")
    val sizes = vectors.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    means.join(sizes, Seq("cell"))
      .join(broadcast(cents), col("cell") === col("cid"))
      .select(col("cell"), col("n_vecs"),
        (dot(col("mvec"), col("cvec")) /
          (norm(col("mvec")) * col("cn"))).as("centroid_mean_cos"))
  }

  /** Offline index compaction — closes the replay caveat in the
    * class doc: at-least-once re-appends duplicate (id, cell) rows,
    * and a duplicated id would surface TWICE in searchTopK's
    * neighbor list. Rewrites `vectors/` with one row per (id, cell)
    * (deterministic representative: min (vec, nrm) struct — replay
    * duplicates are byte-identical so this is a no-op choice, and a
    * conflicting re-ingest of the same id resolves reproducibly),
    * preserving the cell-partitioned layout, its pruning, and the
    * `_graft_cells` marker. Reference analogue: at-least-once replay
    * idempotence around position commits
    * (`inputs/mysql/mysql_position.go:150-170` — the reference
    * replays from the last committed GTID and relies on sink
    * idempotence; here the index IS the sink).
    *
    * The rewrite replaces `vectors/` through [[Swap]]; every open
    * of the index recovers a torn swap first. */
  def compact(spark: SparkSession, dir: String): Unit = {
    readCells(spark, dir) // recovers; fails loudly on a half-built index
    val (hfs, vec) = Swap.fs(spark, s"$dir/vectors")
    if (!hfs.exists(vec)) return
    Swap(hfs, vec)(staged => spark.read.parquet(vec.toString)
      .groupBy(col("cell"), col("id"))
      .agg(min(struct(col("vec"), col("nrm"))).as("v"))
      .select(col("id"), col("v.vec").as("vec"),
        col("v.nrm").as("nrm"), col("cell"))
      .write.partitionBy("cell").parquet(staged.toString))
  }

  /** Serve top-k from the index files: rank the broadcast centroids
    * per query, read ONLY the probed cells' partitions, select via
    * the bounded-heap aggregate. `queries` supplies (idCol, vecCol);
    * query ids that also live in the index exclude their self-pair. */
  def searchTopK(spark: SparkSession, queries: DataFrame, vecCol: String,
      idCol: String, dir: String, k: Int, nProbe: Int = 2): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    readCells(spark, dir) // marker check + torn-swap self-heal
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("cvec"), norm(col("cvec")).as("cn"))
    val qprobe = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("qv"), col("cvec")) / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))))
      .filter(col("crank") <= nProbe)
      .select(col("qid"), col("qv"), col("qn"), col("cid").as("cell"))
    // the probed-cell union is bounded by min(|Q|·nProbe, nCells) —
    // an isin literal keeps the vectors read partition-PRUNED
    val probed = qprobe.select(col("cell")).distinct()
      .collect().map(_.get(0).asInstanceOf[Number].longValue())
    val vecs = spark.read.parquet(s"$dir/vectors")
      .filter(col("cell").isin(probed: _*))
      .select(col("id").as("nid"), col("vec").as("nv"),
        col("nrm").as("nn"), col("cell"))
    Similarity.topKByScore(
      qprobe.join(vecs, Seq("cell")).filter(col("qid") =!= col("nid"))
        .withColumn("cos",
          dot(col("qv"), col("nv")) / (col("qn") * col("nn"))),
      col("cos"), k)
  }
}
