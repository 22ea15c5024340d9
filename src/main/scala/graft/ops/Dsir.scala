package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
  * distribution looks like a TARGET corpus, by weighting each
  * document with the likelihood ratio of two bag-of-hashed-n-grams
  * models. The published recipe at a glance: features are unigrams +
  * bigrams hashed into a fixed bucket space; both corpora fit bucket
  * unigram-style count models; a document's importance weight is the
  * product of per-feature probability ratios; resampling keeps the
  * top-weighted (or Gumbel-sampled) documents.
  *
  * This engine's rendition keeps every arithmetic op IEEE-exact
  * (correctly-rounded ÷ and ×, position-ordered folds — the
  * NbClassifier/Bm25 discipline), so weights are bit-identical
  * across partitionings and against the DuckDB oracle. The md5
  * bucket hash is the same cross-engine construction as
  * [[TextFunctions.hashBucket]]. Per-document cost is bounded by a
  * feature-prefix cap (same rationale as the NB prefix: overflow
  * guard + O(prefix) per doc at 100 TB).
  *
  * Scale shape: the bucket-count models are B rows each (B fixed,
  * e.g. 2^10-2^16) — broadcast-sized by construction; the corpus
  * explodes to (doc, feature-bucket) once and regroups by doc once.
  */
object Dsir {

  // feature bucket = md5_hash60(feature) % B (cross-engine: DuckDB
  // mirrors with CAST(concat('0x', substring(md5(f),1,15)) AS
  // BIGINT) % B) — computed inside the one-pass
  // [[graft.functions.DsirFeatureBuckets]] kernel since r14

  /** Hashed n-gram feature array of a document, in canonical order:
    * unigram buckets in position order, then bigram buckets in
    * position order. The bigram strings are space-joined
    * ([[TextFunctions.shingles]]), so the hash input is identical in
    * any engine. */
  def features(text: Column, buckets: Int): Column =
    featuresToks(TextFunctions.tokens(text), buckets)

  /** [[features]] from an already-tokenized array — the char-gram
    * callers hand [[TextFunctions.charNgrams]] output directly, so
    * the ~6×-inflated re-spaced gram STRING never materializes only
    * to be re-split (measured as the dominant cost of the relational
    * char-gram DSIR path). Value-identical to `features(text)` when
    * `toks = tokens(text)`: unigram buckets in position order, then
    * space-joined adjacent-pair buckets in position order.
    *
    * Native one-pass kernel ([[graft.functions.DsirFeatureBuckets]])
    * — the composed `transform(md5…) ++ transform(concat_ws pairs,
    * md5…)` form walked the array through two interpreted
    * higher-order transforms and allocated a joined pair string per
    * bigram; spec-pinned value-identical (DsirSpec), same DuckDB
    * oracle. */
  def featuresToks(toks: Column, buckets: Int): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.DsirFeatureBuckets(
        org.apache.spark.sql.graftbridge.GraftColumnBridge
          .expression(toks),
        org.apache.spark.sql.catalyst.expressions.Literal(buckets)))

  /** Bucket count model of a corpus: (bucket, cnt), one hash
    * aggregate over at most B distinct keys. */
  def bucketCounts(corpus: DataFrame, textCol: String, buckets: Int)
  : DataFrame = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    corpus.select(explode(features(col(textCol), buckets)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** [[bucketCounts]] over a token-array column. */
  def bucketCountsToks(corpus: DataFrame, toks: Column, buckets: Int)
  : DataFrame = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    corpus.select(explode(featuresToks(toks, buckets)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Both bucket models in ONE featurize + aggregate pass, for the
    * common case where the target is a FLAGGED SUBSET of the raw
    * corpus (e.g. "docs in the target language/domain"): the corpus
    * explodes once and a conditional aggregate splits the counts —
    * half the featurization cost of two [[bucketCounts]] calls, and
    * the ratio table needs no full-outer join.
    *
    * @return (bucket, c_t, c_r) — target and raw counts per bucket
    */
  def bucketCountsSplit(corpus: DataFrame, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    corpus.select(isTarget.as("__t"),
      features(col(textCol), buckets).as("__f"))
      .select(col("__t"), explode(col("__f")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_r"))
  }

  /** [[bucketCountsSplit]] over a token-array column. */
  def bucketCountsSplitToks(corpus: DataFrame, toks: Column,
      isTarget: Column, buckets: Int): DataFrame = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    corpus.select(isTarget.as("__t"),
      featuresToks(toks, buckets).as("__f"))
      .select(col("__t"), explode(col("__f")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_r"))
  }

  /** [[weights]] over a joint split model from [[bucketCountsSplit]]
    * — same smoothing, same fold, identical values. */
  def weightsSplit(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, buckets: Int, prefix: Int = 40): DataFrame =
    weightsSplitToks(docs, idCol,
      TextFunctions.tokens(col(textCol)), model, buckets, prefix)

  /** [[weightsSplit]] over a token-array column — identical scoring
    * tail (the token array IS what the text form's tokenizer
    * produces). */
  def weightsSplitToks(docs: DataFrame, idCol: String, toks: Column,
      model: DataFrame, buckets: Int, prefix: Int = 40): DataFrame =
    weightsFrom(docs, idCol, toks,
      model.agg(sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r")),
      model.select(col("bucket"), col("c_t"), col("c_r")),
      buckets, prefix)

  /** [[weightsSplitToks]] for the SELF-CORPUS case — the scored docs
    * ARE the model corpus (every `model_dsir_*` gate and the
    * in-query train+score shape). The backoff scalars are, by
    * construction, total feature counts: n_r = Σ_b c_r(b) = the
    * number of features the corpus explodes to, and n_t the same
    * over target rows — every feature lands in exactly one bucket.
    * So they come from a cheap tokenize-and-count pass
    * (`size(toks) + max(size(toks)−1, 0)` per doc; no hashing, no
    * bucket aggregate) collected at assembly and inlined as
    * literals, and the expensive featurize+aggregate subtree under
    * the model is evaluated exactly ONCE (the ratios join) instead
    * of twice (r14: a probe breakdown measured the second evaluation as a full
    * ~2 s training stage of `model_dsir_chargram`). Literal scalars
    * keep the plan STABLE across invocations — unlike a checkpoint
    * of the model, which embeds a per-invocation RDD and defeats
    * downstream plan-keyed caching (the reverted r14 experiment).
    * Values are bit-identical to the two-call composition
    * (spec-pinned, including null/empty/1-token docs where the
    * count formula must mirror the featurizer's branches).
    *
    * The general [[weightsSplitToks]] stays for callers whose model
    * corpus is NOT the scored frame (persisted ModelStore models,
    * foreign eval sets). */
  def weightsSplitSelfToks(corpus: DataFrame, idCol: String,
      toks: Column, isTarget: Column, buckets: Int,
      prefix: Int = 40): DataFrame = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    val model = bucketCountsSplitToks(corpus, toks, isTarget, buckets)
    // exact feature count of one doc: size unigrams + (size-1)
    // bigrams (0 under 2 tokens); null toks featurize to null and
    // drop from the explode — count 0
    val nf = graft.functions.Exprs.bind(toks) { ts =>
      when(ts.isNull, lit(0L))
        .otherwise(size(ts).cast("long") +
          greatest(size(ts) - 1, lit(0)).cast("long"))
    }
    val row = corpus.agg(
      sum(when(isTarget, nf).otherwise(0L)).as("n_t"),
      sum(nf).as("n_r")).head()
    val nT = if (row.isNullAt(0)) 0L else row.getLong(0)
    val nR = if (row.isNullAt(1)) 0L else row.getLong(1)
    // literal LOCAL relation (not range(1)+project): one row by
    // construction, visible as such to the broadcast-boundedness
    // plan audit
    val scalars = corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(nT, nR)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_t",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_r",
          org.apache.spark.sql.types.LongType, nullable = false))))
    weightsFrom(corpus, idCol, toks, scalars,
      model.select(col("bucket"), col("c_t"), col("c_r")),
      buckets, prefix)
  }

  /** [[weightsSplitSelfToks]] over a text column (word tokens). */
  def weightsSplitSelf(corpus: DataFrame, idCol: String,
      textCol: String, isTarget: Column, buckets: Int,
      prefix: Int = 40): DataFrame =
    weightsSplitSelfToks(corpus, idCol,
      TextFunctions.tokens(col(textCol)), isTarget, buckets, prefix)

  /** Importance weights against a target/raw model pair.
    *
    * w(doc) = Π over the first `prefix` features of
    *   ((cT(b)+1)/(NT+B)) / ((cR(b)+1)/(NR+B))
    * — add-one smoothing over the bucket space on both sides, folded
    * in feature order from 1.0.
    *
    * @return (doc_id, n_feat, weight): n_feat = features scored
    *         (prefix-capped)
    */
  def weights(docs: DataFrame, idCol: String, textCol: String,
              target: DataFrame, raw: DataFrame, buckets: Int,
              prefix: Int = 40): DataFrame =
    weightsFrom(docs, idCol, TextFunctions.tokens(col(textCol)),
      target.agg(sum(col("cnt")).as("n_t"))
        .crossJoin(broadcast(raw.agg(sum(col("cnt")).as("n_r")))),
      target.select(col("bucket"), col("cnt").as("c_t"))
        .join(raw.select(col("bucket"), col("cnt").as("c_r")),
          Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("c_t"), lit(0L)).as("c_t"),
          coalesce(col("c_r"), lit(0L)).as("c_r")),
      buckets, prefix)

  /** Shared scoring tail: smoothed per-bucket ratios from a joint
    * (bucket, c_t, c_r) model, then the position-ordered fold. */
  private def weightsFrom(docs: DataFrame, idCol: String,
      toks: Column, scalars: DataFrame, joint: DataFrame,
      buckets: Int, prefix: Int): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    val ratios = joint
      .crossJoin(broadcast(scalars))
      .select(col("bucket"),
        (((col("c_t") + lit(1L)).cast("double") /
          (col("n_t") + lit(buckets.toLong)).cast("double")) /
          ((col("c_r") + lit(1L)).cast("double") /
            (col("n_r") + lit(buckets.toLong)).cast("double"))).as("r"))

    // featurize only a token PREFIX on the scoring side: the first
    // `prefix` features (unigrams first, then bigrams) can only
    // involve the first prefix+1 tokens, and per-feature md5 is the
    // dominant scoring cost — full-document featurization here
    // measured ~2× the whole query at sf1. The outer slice then
    // caps the feature list, so featurizing the prefix+1-token
    // window with the full kernel is value-identical to the former
    // capped-unigram composed form (unigrams come first; spec-pinned)
    val prefFeats = featuresToks(slice(toks, 1, prefix + 1), buckets)
    val pos = docs
      .select(col(idCol).cast("long").as("doc_id"),
        slice(prefFeats, 1, prefix).as("__f"))
      .select(col("doc_id"),
        posexplode(col("__f")).as(Seq("pos", "bucket")))
    // every feature bucket exists in raw when docs ⊆ raw corpus; a
    // foreign doc's unseen bucket still scores via the smoothed
    // ratio with zero counts on both sides
    val dflt = (lit(1.0) / (col("n_t") + lit(buckets.toLong))
      .cast("double")) /
      (lit(1.0) / (col("n_r") + lit(buckets.toLong)).cast("double"))
    pos.join(ratios, Seq("bucket"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"), col("pos"), coalesce(col("r"), dflt).as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        sort_array(collect_list(struct(col("pos"), col("r")))).as("rs"))
      .select(col("doc_id"), col("n_feat"),
        aggregate(transform(col("rs"), x => x.getField("r")),
          lit(1.0), (acc, x) => acc * x).as("weight"))
  }

  /** Collect a split model into the kernel's dense per-bucket ratio
    * array — B doubles, engine-evaluated from the same ratio plan
    * the relational scorer uses; empty buckets carry the smoothed
    * default. B is fixed and small (2^16 buckets is 512 KB), so
    * there is no oversized-model case. */
  def compileSplit(model: DataFrame, buckets: Int): Array[Double] = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"dsir kernel: bucket space $buckets out of range")
    graft.GraftExtensions.ensure(model.sparkSession)
    // ONE driver action: ratio rows ∪ the default-scalar row (tagged
    // by bucket = -1, outside the valid bucket space) — the
    // two-action form paid query planning + codegen per action (the
    // dominant fixture-scale cost, r14). Cache for the duration of
    // the compile only; a cache THIS call created is released before
    // returning (the dense array carries everything).
    // repartition(1) pre-cache: the bucket model is ≤ B rows by
    // construction; cached at the session shuffle partition count
    // its three reads inside the one compile plan would each launch
    // that many near-empty tasks (see NbClassifier.compileVotes)
    val (cached, fresh) = Caching.cacheOnceTracked(model.repartition(1))
    try {
      val scalars = cached.agg(sum(col("c_t")).as("n_t"),
        sum(col("c_r")).as("n_r"))
      val rows = cached.crossJoin(broadcast(scalars))
        .select(col("bucket"),
          (((col("c_t") + lit(1L)).cast("double") /
            (col("n_t") + lit(buckets.toLong)).cast("double")) /
            ((col("c_r") + lit(1L)).cast("double") /
              (col("n_r") + lit(buckets.toLong)).cast("double"))).as("r"))
        .unionAll(scalars.select(lit(-1L).as("bucket"),
          ((lit(1.0) / (col("n_t") + lit(buckets.toLong)).cast("double")) /
            (lit(1.0) / (col("n_r") + lit(buckets.toLong)).cast("double")))
            .as("r")))
        .collect()
      val dflt = rows.find(_.getLong(0) == -1L).get.getDouble(1)
      val arr = Array.fill(buckets)(dflt)
      rows.foreach(r =>
        if (r.getLong(0) >= 0L) arr(r.getLong(0).toInt) = r.getDouble(1))
      arr
    } finally if (fresh) cached.unpersist(blocking = false)
  }

  /** Broadcast a compiled ratio array for the serve path (prefix
    * bakes into the broadcast kernel object). The serve-many-batches
    * callers (the `dsir-filter` curation stage) broadcast ONCE at
    * assembly and reuse the handle across micro-batches. */
  def broadcastSplit(spark: org.apache.spark.sql.SparkSession,
      ratios: Array[Double], prefix: Int = 40)
  : org.apache.spark.broadcast.Broadcast[graft.functions.DsirRatios] =
    spark.sparkContext.broadcast(
      new graft.functions.DsirRatios(ratios, prefix))

  /** Scan-stage kernel twin of [[weightsSplit]] — one native call
    * per document over the dense compiled ratio array; no explode,
    * no join, no doc-keyed regroup. Docs with NULL text drop, as
    * they do from the relational explode. Broadcasts the array once
    * and scores through the broadcast transport
    * ([[graft.functions.DsirScoreBc]]). */
  def weightsSplitCompiled(docs: DataFrame, idCol: String,
      textCol: String, ratios: Array[Double], prefix: Int = 40)
  : DataFrame =
    weightsSplitCompiled(docs, idCol, textCol,
      broadcastSplit(docs.sparkSession, ratios, prefix))

  /** [[weightsSplitCompiled]] over an already-broadcast model — the
    * per-micro-batch form (no per-call broadcast). */
  def weightsSplitCompiled(docs: DataFrame, idCol: String,
      textCol: String,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.DsirRatios])
  : DataFrame = {
    val kernel = graft.functions.BroadcastScore.dsir(col(textCol), bc)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), kernel.as("__r"))
      .select(col("doc_id"), col("__r.n_feat").as("n_feat"),
        col("__r.weight").as("weight"))
  }

  /** Deterministic resampling: global top-k by (weight DESC, doc_id)
    * — TakeOrderedAndProject, never a full sort. */
  def resampleTopK(weighted: DataFrame, k: Int): DataFrame =
    weighted.orderBy(col("weight").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("weight").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("weight"))
}
