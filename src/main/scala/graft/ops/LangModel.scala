package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language model with stupid backoff (Brants et
  * al. 2007, "Large Language Models in Machine Translation") — the
  * distributed-counts LM that CCNet-style pipelines use to score
  * corpus fluency when a full Kneser-Ney/KenLM model is overkill:
  * training is nothing but n-gram counting (embarrassingly parallel,
  * the reason the paper proposed it at terabyte scale), and scoring
  * is a per-token table lookup.
  *
  * Per-transition score of token w following v:
  *   S(w|v) = cnt(v w) / cnt(v)        when the bigram survives the
  *                                      minCount prune and v is in
  *                                      the unigram table,
  *          = 0.4 · (cnt(w)+1)/(N+V)   otherwise (backoff to the
  *                                      add-one-smoothed unigram,
  *                                      0.4 the paper's constant).
  * A document's score is the MEAN transition score — every op is a
  * correctly-rounded IEEE ÷, × or ordered +, so the double is
  * bit-identical across engines and partitionings (the per-doc sum
  * folds in transition order, the Bm25/rolling-fp discipline; no
  * log(), same rationale as Bm25's rational idf).
  *
  * Scale shape: training is two hash aggregates (unigrams, bigrams)
  * with map-side partial combine; the minCount prune bounds the
  * bigram table (the paper's own device for web-scale counts), so
  * scoring joins a corpus-proportional exploded stream against
  * model-bounded tables — AQE picks broadcast when the model fits,
  * hash join otherwise. The per-doc regroup is one shuffle keyed by
  * doc id carrying (pos, p) pairs, never text.
  */
object LangModel {

  /** Unigram counts (token, cnt) — no prune: the unigram table is
    * vocabulary-sized, already bounded. */
  def unigrams(ref: DataFrame, toks: Column): DataFrame =
    ref.select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** Bigram counts (w1, w2, cnt) with cnt >= minCount. */
  def bigrams(ref: DataFrame, toks: Column, minCount: Int = 2): DataFrame =
    ref.select(explode(transitionPairs(toks)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** (w1, w2) transition structs for positions 1..n-1; empty for
    * docs under 2 tokens. Built by zipping the token array against
    * itself shifted by one — a narrow expression, no join. The input
    * is let-bound ([[graft.functions.Exprs.bind]]) because it is
    * referenced four times (two sizes, two slices) and may be a
    * regex split. */
  def transitionPairs(toks: Column): Column =
    graft.functions.Exprs.bind(toks) { t =>
      when(size(t) < 2, array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(arrays_zip(
          slice(t, lit(1), size(t) - 1).as("w1"),
          slice(t, lit(2), size(t) - 1).as("w2"))
          .cast("array<struct<w1:string,w2:string>>"))
    }

  /** Per-group unigram counts (g, token, cnt) — the true-CCNet form:
    * one model PER LANGUAGE, all trained in ONE hash aggregate keyed
    * by (group, token). The group expression materializes below the
    * Generate (the explode re-evaluation discipline). */
  def unigramsBy(ref: DataFrame, g: Column, toks: Column): DataFrame =
    ref.select(g.as("g"), toks.as("__t"))
      // null-group training rows drop: they could never train a
      // servable model (relational joins skip null keys) and a null
      // bank key would NPE broadcastBank's sort — both scorer paths
      // agree that a null-group DOC restores as (0, 0, 0.0)
      .filter(col("g").isNotNull)
      .select(col("g"), explode(col("__t")).as("token"))
      .groupBy(col("g"), col("token")).agg(count(lit(1)).as("cnt"))

  /** Per-group bigram counts (g, w1, w2, cnt) with cnt >= minCount —
    * the prune is per group, as CCNet prunes each language's model
    * independently. */
  def bigramsBy(ref: DataFrame, g: Column, toks: Column,
      minCount: Int = 2): DataFrame =
    ref.select(g.as("g"), toks.as("__t"))
      .filter(col("g").isNotNull) // see unigramsBy
      .select(col("g"), explode(transitionPairs(col("__t"))).as("bg"))
      .select(col("g"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("g"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Score each document against ITS OWN group's model (the CCNet
    * recipe: per-language perplexity, never one global model) — the
    * [[score]] algebra with every model join keyed by (g, ngram) and
    * the backoff scalars (N_g, V_g) a one-row-per-group broadcast.
    * Documents whose group has no model rows restore as the defined
    * (0, 0, 0.0) row, like under-2-token docs.
    *
    * Scale shape identical to [[score]]: one corpus explode, joins
    * against group-keyed model-bounded tables, one doc-keyed regroup
    * carrying (pos, p) pairs — adding the group key costs nothing
    * (it rides the same shuffle keys).
    *
    * @return (doc_id, g, n_trans, n_hits, mean_p)
    */
  def scoreBy(docs: DataFrame, idCol: String, g: Column, toks: Column,
      uni: DataFrame, big: DataFrame, alpha: Double = 0.4): DataFrame = {
    val scalars = uni.groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("v"))

    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      g.as("g"), toks.as("__t"))
    val trans = base
      .select(col("doc_id"), col("g"),
        posexplode(transitionPairs(col("__t"))).as(Seq("pos", "bg")))
      .select(col("doc_id"), col("g"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val scored = trans
      .join(big.select(col("g"), col("w1"), col("w2"),
        col("cnt").as("c_big")), Seq("g", "w1", "w2"), "left")
      .join(uni.select(col("g"), col("token").as("w1"),
        col("cnt").as("c_prev")), Seq("g", "w1"), "left")
      .join(uni.select(col("g"), col("token").as("w2"),
        col("cnt").as("c_cur")), Seq("g", "w2"), "left")
      .join(broadcast(scalars), Seq("g"))
      .select(col("doc_id"), col("g"), col("pos"),
        col("c_big").isNotNull.and(col("c_prev").isNotNull)
          .cast("long").as("hit"),
        when(col("c_big").isNotNull && col("c_prev").isNotNull,
          col("c_big").cast("double") / col("c_prev").cast("double"))
          .otherwise(lit(alpha) *
            ((coalesce(col("c_cur"), lit(0L)) + lit(1L)).cast("double") /
              (col("n_total") + col("v")).cast("double"))).as("p"))

    val perDoc = scored
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n_trans"), sum(col("hit")).as("n_hits"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("g"), col("n_trans"), col("n_hits"),
        (aggregate(transform(col("ps"), x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x) /
          col("n_trans").cast("double")).as("mean_p"))
    base.select(col("doc_id"), col("g"))
      .join(perDoc, Seq("doc_id", "g"), "left")
      .select(col("doc_id"), col("g"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Per-group trigram counts (g, w1, w2, w3, cnt) with
    * cnt >= minCount — the per-language prune, like [[bigramsBy]]. */
  def trigramsBy(ref: DataFrame, g: Column, toks: Column,
      minCount: Int = 2): DataFrame =
    ref.select(g.as("g"), toks.as("__t"))
      .filter(col("g").isNotNull) // see unigramsBy
      .select(col("g"), explode(windowTriples(col("__t"))).as("tg"))
      .select(col("g"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .groupBy(col("g"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Per-group trigram scoring with the two-level backoff ladder —
    * [[scoreTrigram]] with every model join keyed by (g, ngram) and
    * per-group backoff scalars; restore semantics as in [[scoreBy]].
    *
    * @return (doc_id, g, n_win, n_tri_hits, n_big_hits, mean_p)
    */
  def scoreTrigramBy(docs: DataFrame, idCol: String, g: Column,
      toks: Column, uni: DataFrame, big: DataFrame, tri: DataFrame,
      alpha: Double = 0.4): DataFrame = {
    val scalars = uni.groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("v"))

    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      g.as("g"), toks.as("__t"))
    val wins = base
      .select(col("doc_id"), col("g"),
        posexplode(windowTriples(col("__t"))).as(Seq("pos", "tg")))
      .select(col("doc_id"), col("g"), col("pos"),
        col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val scored = wins
      .join(tri.select(col("g"), col("w1"), col("w2"), col("w3"),
        col("cnt").as("c_tri")), Seq("g", "w1", "w2", "w3"), "left")
      .join(big.select(col("g"), col("w1"), col("w2"),
        col("cnt").as("c_ctx")), Seq("g", "w1", "w2"), "left")
      .join(big.select(col("g"), col("w1").as("w2"),
        col("w2").as("w3"), col("cnt").as("c_bg")),
        Seq("g", "w2", "w3"), "left")
      .join(uni.select(col("g"), col("token").as("w2"),
        col("cnt").as("c_mid")), Seq("g", "w2"), "left")
      .join(uni.select(col("g"), col("token").as("w3"),
        col("cnt").as("c_last")), Seq("g", "w3"), "left")
      .join(broadcast(scalars), Seq("g"))
      .select(col("doc_id"), col("g"), col("pos"),
        (col("c_tri").isNotNull && col("c_ctx").isNotNull)
          .cast("long").as("tri_hit"),
        (col("c_tri").isNull || col("c_ctx").isNull)
          .and(col("c_bg").isNotNull && col("c_mid").isNotNull)
          .cast("long").as("big_hit"),
        when(col("c_tri").isNotNull && col("c_ctx").isNotNull,
          col("c_tri").cast("double") / col("c_ctx").cast("double"))
          .when(col("c_bg").isNotNull && col("c_mid").isNotNull,
            lit(alpha) *
              (col("c_bg").cast("double") / col("c_mid").cast("double")))
          .otherwise(lit(alpha) * lit(alpha) *
            ((coalesce(col("c_last"), lit(0L)) + lit(1L)).cast("double") /
              (col("n_total") + col("v")).cast("double"))).as("p"))

    val perDoc = scored
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n_win"),
        sum(col("tri_hit")).as("n_tri_hits"),
        sum(col("big_hit")).as("n_big_hits"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("g"), col("n_win"),
        col("n_tri_hits"), col("n_big_hits"),
        (aggregate(transform(col("ps"), x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x) /
          col("n_win").cast("double")).as("mean_p"))
    base.select(col("doc_id"), col("g"))
      .join(perDoc, Seq("doc_id", "g"), "left")
      .select(col("doc_id"), col("g"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_tri_hits"), lit(0L)).as("n_tri_hits"),
        coalesce(col("n_big_hits"), lit(0L)).as("n_big_hits"),
        coalesce(col("mean_p"), lit(0.0)).as("mean_p"))
  }

  // NOTE (r14): a one-pass fused trainer (explode every order's keys
  // in one aggregate) was built, spec-pinned identical, and REVERTED
  // after a quiet-box paired A/B: the three separate aggregates run
  // as CONCURRENT stages under the one compile action, so fusing them
  // into a single stage 3× as heavy per task LOSES wall on any box
  // with idle cores (model_lm_chargram_kernel 2.21 → 3.87 s median,
  // auto 1.75 → 3.19, perlang3 2.37 → 2.95). See OPTIMIZATION_r14.md
  // entry 7 before re-deriving it.

  /** Collect a per-group model into per-group (keys, counts) arrays —
    * [[compileModel]] keyed by group, same driver-memory gate (over
    * ALL groups' rows together), same loud space-free tokenizer
    * validation; trigram tables merge in when supplied.
    *
    * @throws ModelTooLargeException over the row gate */
  def compileModelBy(uni: DataFrame, big: DataFrame,
      tri: Option[DataFrame] = None,
      maxModelRows: Long = 5000000L)
  : Map[String, (Array[String], Array[Long])] =
    compileModelByKeyed(
      uni.select(col("g"), col("token").as("k"), col("cnt"),
        lit(1).as("ord")) unionAll
        big.select(col("g"), concat_ws(" ", col("w1"), col("w2")).as("k"),
          col("cnt"), lit(2).as("ord")) unionAll
        tri.map(_.select(col("g"),
          concat_ws(" ", col("w1"), col("w2"), col("w3")).as("k"),
          col("cnt"), lit(3).as("ord")))
          .getOrElse(uni.sparkSession.emptyDataFrame
            .select(lit("").as("g"), lit("").as("k"), lit(0L).as("cnt"),
              lit(0).as("ord")).limit(0)),
      maxModelRows)

  /** [[compileModelBy]] over an already-keyed (g, k, cnt, ord) count
    * table — the [[ngramCountsBy]] one-pass form. Same gate, same
    * validation, same deterministic per-group sort. */
  def compileModelByKeyed(keyed: DataFrame,
      maxModelRows: Long = 5000000L)
  : Map[String, (Array[String], Array[Long])] = {
    require(maxModelRows < Int.MaxValue, s"bad gate $maxModelRows")
    val rows = keyed.limit(maxModelRows.toInt + 1).collect()
    if (rows.length > maxModelRows)
      throw new ModelTooLargeException(
        s"lm bank: per-group models exceed $maxModelRows total rows — " +
          "use the relational LangModel.scoreBy path for unbounded " +
          "models, or raise maxModelRows")
    rows.foreach { r =>
      // a null group key can't serve (bank lookup is by string; the
      // training aggregates drop null-g rows) — reject a hand-built
      // table loudly instead of NPE-ing in broadcastBank's sort
      require(!r.isNullAt(0),
        "lm bank: null group key in model tables — train with " +
          "LangModel.unigramsBy/bigramsBy (null-group rows drop)")
      val k = r.getString(1)
      val spaces = k.count(_ == ' ')
      if (spaces != r.getInt(3) - 1)
        throw new IllegalArgumentException(
          s"lm bank: ${r.getInt(3)}-gram key '$k' has $spaces " +
            "space(s) — tokens must be space-free (train with " +
            "TextFunctions.tokens), or score through the relational " +
            "LangModel.scoreBy path")
    }
    rows.groupBy(_.getString(0)).map { case (g, rs) =>
      val sorted = rs.sortBy(_.getString(1))
      g -> (sorted.map(_.getString(1)), sorted.map(_.getLong(2)))
    }
  }

  /** Broadcast a compiled per-group model bank for the serve path —
    * ONE broadcast value holding every language's [[graft.functions
    * .LmModel]]; serve-many-batches callers broadcast once at
    * assembly. */
  def broadcastBank(spark: org.apache.spark.sql.SparkSession,
      models: Map[String, (Array[String], Array[Long])],
      alpha: Double = 0.4)
  : org.apache.spark.broadcast.Broadcast[graft.functions.LmModelBank] = {
    val sorted = models.toSeq.sortBy(_._1)
    spark.sparkContext.broadcast(new graft.functions.LmModelBank(
      sorted.map(_._1).toArray,
      sorted.map { case (_, (ks, cs)) =>
        new graft.functions.LmModel(ks, cs, alpha) }.toArray))
  }

  /** Scan-stage kernel twin of [[scoreBy]] over an already-broadcast
    * model bank: one native call per document against its OWN
    * group's model — no explode, no group-keyed model joins, no
    * doc-keyed regroup. Untrained groups and null text/group restore
    * as the defined (0, 0, 0.0) row, exactly like the relational
    * form's left-join restore. */
  def scoreByCompiled(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.LmModelBank])
  : DataFrame = {
    val kernel = graft.functions.BroadcastScore.lmBy(
      col(textCol), col(groupCol), bc)
    docs.select(col(idCol).cast("long").as("doc_id"),
      col(groupCol).as("g"), kernel.as("__r"))
      .select(col("doc_id"), col("g"),
        coalesce(col("__r.n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("__r.n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("__r.mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Trigram twin of [[scoreByCompiled]] — the bank kernel walking
    * each document's OWN group's two-level backoff ladder. */
  def scoreTrigramByCompiled(docs: DataFrame, idCol: String,
      textCol: String, groupCol: String,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.LmModelBank])
  : DataFrame = {
    val kernel = graft.functions.BroadcastScore.lm3By(
      col(textCol), col(groupCol), bc)
    docs.select(col(idCol).cast("long").as("doc_id"),
      col(groupCol).as("g"), kernel.as("__r"))
      .select(col("doc_id"), col("g"),
        coalesce(col("__r.n_win"), lit(0L)).as("n_win"),
        coalesce(col("__r.n_tri_hits"), lit(0L)).as("n_tri_hits"),
        coalesce(col("__r.n_big_hits"), lit(0L)).as("n_big_hits"),
        coalesce(col("__r.mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Trigram counts (w1, w2, w3, cnt) with cnt >= minCount. */
  def trigrams(ref: DataFrame, toks: Column, minCount: Int = 2): DataFrame =
    ref.select(explode(windowTriples(toks)).as("tg"))
      .select(col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** (w1, w2, w3) window structs for positions 2..n-1; empty for
    * docs under 3 tokens. Let-bound like [[transitionPairs]]. */
  def windowTriples(toks: Column): Column =
    graft.functions.Exprs.bind(toks) { t =>
      when(size(t) < 3,
        array().cast("array<struct<w1:string,w2:string,w3:string>>"))
        .otherwise(arrays_zip(
          slice(t, lit(1), size(t) - 2).as("w1"),
          slice(t, lit(2), size(t) - 2).as("w2"),
          slice(t, lit(3), size(t) - 2).as("w3"))
          .cast("array<struct<w1:string,w2:string,w3:string>>"))
    }

  /** Trigram scoring with TWO-level stupid backoff:
    *   S(w3|w1 w2) = cnt(w1 w2 w3)/cnt(w1 w2)  when both the trigram
    *                                            and its context
    *                                            bigram survive the
    *                                            prune,
    *               = 0.4 · cnt(w2 w3)/cnt(w2)  else, when the (w2 w3)
    *                                            bigram and w2 survive,
    *               = 0.4² · (cnt(w3)+1)/(N+V)  else.
    * Denominators come from the SAME pruned tables the model ships
    * (the deployable form — a scorer has only the model, never the
    * raw corpus). Per-doc output is the mean over trigram windows
    * (docs under 3 tokens score 0.0 with n_win = 0); determinism
    * discipline identical to [[score]].
    *
    * @return (doc_id, n_win, n_tri_hits, n_big_hits, mean_p)
    */
  def scoreTrigram(docs: DataFrame, idCol: String, toks: Column,
                   uni: DataFrame, big: DataFrame, tri: DataFrame,
                   alpha: Double = 0.4): DataFrame = {
    val scalars = uni.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("v"))

    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      toks.as("__t"))
    val wins = base
      .select(col("doc_id"),
        posexplode(windowTriples(col("__t"))).as(Seq("pos", "tg")))
      .select(col("doc_id"), col("pos"),
        col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val scored = wins
      .join(tri.select(col("w1"), col("w2"), col("w3"),
        col("cnt").as("c_tri")), Seq("w1", "w2", "w3"), "left")
      .join(big.select(col("w1"), col("w2"), col("cnt").as("c_ctx")),
        Seq("w1", "w2"), "left")
      .join(big.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cnt").as("c_bg")), Seq("w2", "w3"), "left")
      .join(uni.select(col("token").as("w2"), col("cnt").as("c_mid")),
        Seq("w2"), "left")
      .join(uni.select(col("token").as("w3"), col("cnt").as("c_last")),
        Seq("w3"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"), col("pos"),
        (col("c_tri").isNotNull && col("c_ctx").isNotNull)
          .cast("long").as("tri_hit"),
        (col("c_tri").isNull || col("c_ctx").isNull)
          .and(col("c_bg").isNotNull && col("c_mid").isNotNull)
          .cast("long").as("big_hit"),
        when(col("c_tri").isNotNull && col("c_ctx").isNotNull,
          col("c_tri").cast("double") / col("c_ctx").cast("double"))
          .when(col("c_bg").isNotNull && col("c_mid").isNotNull,
            lit(alpha) *
              (col("c_bg").cast("double") / col("c_mid").cast("double")))
          .otherwise(lit(alpha) * lit(alpha) *
            ((coalesce(col("c_last"), lit(0L)) + lit(1L)).cast("double") /
              (col("n_total") + col("v")).cast("double"))).as("p"))

    val perDoc = scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(col("tri_hit")).as("n_tri_hits"),
        sum(col("big_hit")).as("n_big_hits"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_win"), col("n_tri_hits"),
        col("n_big_hits"),
        (aggregate(transform(col("ps"), x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x) /
          col("n_win").cast("double")).as("mean_p"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_tri_hits"), lit(0L)).as("n_tri_hits"),
        coalesce(col("n_big_hits"), lit(0L)).as("n_big_hits"),
        coalesce(col("mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Collect a pruned model into the kernel's (keys, counts) pair —
    * size-gated (driver memory: the collect materializes the model on
    * the driver before it broadcasts). N-gram order is carried by
    * each key's space count, so compile VALIDATES the tokenizer
    * contract: a unigram containing a space (a tokenizer other than
    * [[graft.functions.TextFunctions.tokens]]) would silently compile
    * into the wrong order table — that fails loudly here instead.
    * Arrays sort by key so the compiled model is deterministic.
    *
    * @throws ModelTooLargeException when the pruned model exceeds
    *         `maxModelRows` — callers with a relational fallback
    *         catch exactly this; any other failure propagates
    */
  def compileModel(uni: DataFrame, big: DataFrame,
      tri: Option[DataFrame] = None,
      maxModelRows: Long = 5000000L): (Array[String], Array[Long]) =
    compileModelKeyed(
      uni.select(col("token").as("k"), col("cnt"),
        lit(1).as("ord")) unionAll
        big.select(concat_ws(" ", col("w1"), col("w2")).as("k"),
          col("cnt"), lit(2).as("ord")) unionAll
        tri.map(_.select(
          concat_ws(" ", col("w1"), col("w2"), col("w3")).as("k"),
          col("cnt"), lit(3).as("ord")))
          .getOrElse(uni.sparkSession.emptyDataFrame
            .select(lit("").as("k"), lit(0L).as("cnt"), lit(0).as("ord"))
            .limit(0)),
      maxModelRows)

  /** [[compileModel]] over an already-keyed (k, cnt, ord) count
    * table — the [[ngramCounts]] one-pass form. Same gate, same
    * validation, same deterministic sort. */
  def compileModelKeyed(keyed: DataFrame,
      maxModelRows: Long = 5000000L): (Array[String], Array[Long]) = {
    // ONE training pass: pull at most gate+1 rows (the limit bounds
    // driver memory BEFORE the size check — a count-then-collect
    // would run the training aggregates twice)
    require(maxModelRows < Int.MaxValue, s"bad gate $maxModelRows")
    val rows = keyed.limit(maxModelRows.toInt + 1).collect()
    if (rows.length > maxModelRows)
      throw new ModelTooLargeException(
        s"lm kernel: model exceeds $maxModelRows rows — use the " +
          "relational LangModel.score/scoreTrigram path for unbounded " +
          "models, or raise maxModelRows")
    rows.foreach { r =>
      val k = r.getString(0)
      val spaces = k.count(_ == ' ')
      if (spaces != r.getInt(2) - 1)
        throw new IllegalArgumentException(
          s"lm kernel: ${r.getInt(2)}-gram key '$k' has $spaces " +
            "space(s) — tokens must be space-free (train with " +
            "TextFunctions.tokens), or score through the relational " +
            "LangModel.score/scoreTrigram path")
    }
    val sorted = rows.sortBy(_.getString(0))
    (sorted.map(_.getString(0)), sorted.map(_.getLong(1)))
  }

  /** Broadcast a compiled (keys, counts) model for the serve path:
    * one torrent distribution per executor instead of a model-sized
    * literal re-serialized with every task binary; alpha bakes into
    * the broadcast kernel object. The serve-many-batches callers
    * (the `lm-filter` curation stage) broadcast ONCE at assembly and
    * reuse the handle across micro-batches. */
  def broadcastModel(spark: org.apache.spark.sql.SparkSession,
      model: (Array[String], Array[Long]), alpha: Double = 0.4)
  : org.apache.spark.broadcast.Broadcast[graft.functions.LmModel] =
    spark.sparkContext.broadcast(
      new graft.functions.LmModel(model._1, model._2, alpha))

  /** Scan-stage kernel twin of [[score]] for BOUNDED models: the
    * compiled table ships inside the expression, scoring is one
    * native call per document — no explode, no joins, no doc-keyed
    * shuffle. Value-identical to the relational form when that form
    * tokenizes with [[graft.functions.TextFunctions.tokens]] — the
    * kernel hard-codes that contract (spec-pinned bit-for-bit; same
    * DuckDB oracle). */
  def scoreCompiled(docs: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, big: DataFrame, alpha: Double = 0.4,
      maxModelRows: Long = 5000000L): DataFrame = {
    val model = compileModel(uni, big, None, maxModelRows)
    scoreCompiledModel(docs, idCol, textCol, model, alpha)
  }

  /** Scan-stage kernel twin of [[scoreTrigram]] (see
    * [[scoreCompiled]]). */
  def scoreTrigramCompiled(docs: DataFrame, idCol: String,
      textCol: String, uni: DataFrame, big: DataFrame, tri: DataFrame,
      alpha: Double = 0.4, maxModelRows: Long = 5000000L): DataFrame = {
    val model = compileModel(uni, big, Some(tri), maxModelRows)
    scoreTrigramCompiledModel(docs, idCol, textCol, model, alpha)
  }

  /** Apply an already-compiled (keys, counts) model through the
    * bigram kernel — broadcasts once and scores through the
    * broadcast transport ([[graft.functions.LmScore2Bc]]). */
  def scoreCompiledModel(docs: DataFrame, idCol: String, textCol: String,
      model: (Array[String], Array[Long]), alpha: Double = 0.4)
  : DataFrame =
    scoreCompiledModel(docs, idCol, textCol,
      broadcastModel(docs.sparkSession, model, alpha))

  /** [[scoreCompiledModel]] over an already-broadcast model — the
    * per-micro-batch form (no per-call broadcast). */
  def scoreCompiledModel(docs: DataFrame, idCol: String, textCol: String,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.LmModel])
  : DataFrame = {
    val kernel = graft.functions.BroadcastScore.lm2(col(textCol), bc)
    docs.select(col(idCol).cast("long").as("doc_id"), kernel.as("__r"))
      // null text scores as the relational form's restored row
      .select(col("doc_id"),
        coalesce(col("__r.n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("__r.n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("__r.mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Trigram twin of [[scoreCompiledModel]]. */
  def scoreTrigramCompiledModel(docs: DataFrame, idCol: String,
      textCol: String, model: (Array[String], Array[Long]),
      alpha: Double = 0.4): DataFrame =
    scoreTrigramCompiledModel(docs, idCol, textCol,
      broadcastModel(docs.sparkSession, model, alpha))

  /** [[scoreTrigramCompiledModel]] over an already-broadcast model. */
  def scoreTrigramCompiledModel(docs: DataFrame, idCol: String,
      textCol: String,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.LmModel])
  : DataFrame = {
    val kernel = graft.functions.BroadcastScore.lm3(col(textCol), bc)
    docs.select(col(idCol).cast("long").as("doc_id"), kernel.as("__r"))
      .select(col("doc_id"),
        coalesce(col("__r.n_win"), lit(0L)).as("n_win"),
        coalesce(col("__r.n_tri_hits"), lit(0L)).as("n_tri_hits"),
        coalesce(col("__r.n_big_hits"), lit(0L)).as("n_big_hits"),
        coalesce(col("__r.mean_p"), lit(0.0)).as("mean_p"))
  }

  /** Score a corpus against a trained model.
    *
    * @param docs corpus to score
    * @param uni  unigram counts from [[unigrams]] (train corpus)
    * @param big  pruned bigram counts from [[bigrams]]
    * @return (doc_id, n_trans, n_hits, mean_p): n_trans = token
    *         transitions in the doc (0 for docs under 2 tokens, with
    *         mean_p = 0.0), n_hits = transitions scored on the
    *         bigram path, mean_p = mean stupid-backoff score folded
    *         in transition order.
    */
  def score(docs: DataFrame, idCol: String, toks: Column,
            uni: DataFrame, big: DataFrame, alpha: Double = 0.4)
  : DataFrame = {
    // 1-row scalars: total token count N and vocabulary size V of
    // the unigram table (for the smoothed backoff)
    val scalars = uni.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("v"))

    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      toks.as("__t"))
    val trans = base
      .select(col("doc_id"),
        posexplode(transitionPairs(col("__t"))).as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val scored = trans
      .join(big.select(col("w1"), col("w2"), col("cnt").as("c_big")),
        Seq("w1", "w2"), "left")
      .join(uni.select(col("token").as("w1"), col("cnt").as("c_prev")),
        Seq("w1"), "left")
      .join(uni.select(col("token").as("w2"), col("cnt").as("c_cur")),
        Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"), col("pos"),
        col("c_big").isNotNull.and(col("c_prev").isNotNull)
          .cast("long").as("hit"),
        when(col("c_big").isNotNull && col("c_prev").isNotNull,
          col("c_big").cast("double") / col("c_prev").cast("double"))
          .otherwise(lit(alpha) *
            ((coalesce(col("c_cur"), lit(0L)) + lit(1L)).cast("double") /
              (col("n_total") + col("v")).cast("double"))).as("p"))

    val perDoc = scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), sum(col("hit")).as("n_hits"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_trans"), col("n_hits"),
        (aggregate(transform(col("ps"), x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x) /
          col("n_trans").cast("double")).as("mean_p"))
    // docs under 2 tokens emit no transitions — restore them with
    // the defined (0, 0, 0.0) row so output covers the corpus
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("mean_p"), lit(0.0)).as("mean_p"))
  }
}
