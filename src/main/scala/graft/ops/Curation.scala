package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Exprs, TextFunctions}

/** Config-assembled corpus-curation pipeline — the LLM-data
  * counterpart of the CDC `streaming/Pipeline`: a TOML `[[stages]]`
  * list compiles to the same `DataFrame ⇒ DataFrame` combinator
  * chain the reference uses for its CDC transforms
  * (`core/transform.go:3-6`), over the engine's §7.6 operators.
  *
  * Every stage is declarative — one plan, one pass where Catalyst can
  * fuse scan-stage stages (quality/lang/length/repetition filters all
  * collapse into the parquet scan's filter), shuffles only where the
  * operator inherently shuffles (dedup aggregates, near-dup bands).
  * Per-stage funnel counts ride the SAME action via `observe()`
  * (CollectMetrics): no extra count() jobs, exactly the funnel
  * observability `pipe_funnel_stats` states as a query.
  */
object Curation {

  /** Named rankings shared BETWEEN stages of one pipeline: retrieve
    * stages deposit their (query_id, doc_id, rnk) plan under a slot
    * name and pass the corpus through unchanged; fuse/hard-negatives
    * stages consume slots by name and REPLACE the flow with their
    * result. Purely plan-level (lazy DataFrames, no actions) — the
    * deposit happens when the earlier stage's combinator runs during
    * assembly, so declaration order in the TOML is the dependency
    * order, and a consumer naming a missing slot fails loudly at
    * assembly, not with an empty result. */
  final class RankingSlots {
    private val m =
      scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    def put(name: String, df: DataFrame): Unit = { m.put(name, df); () }
    def get(name: String): DataFrame = m.getOrElse(name,
      sys.error(s"no ranking slot '$name' — declare a retrieve stage " +
        s"""with as = "$name" BEFORE the stage that consumes it"""))
  }

  /** Compile a full `[[stages]]` list with ONE shared slot registry,
    * so retrieve stages can feed fuse/hard-negatives stages later in
    * the same pipeline. This is the entry [[graft.CurateMain]] uses.
    * `retrain = true` (the CLI's `--retrain`) makes every
    * model-backed stage with a `model-dir` train from its configured
    * corpora and commit the model tables ([[ModelStore]]) before
    * serving; default runs serve the committed model. */
  def compile(confs: Seq[Map[String, Any]], textCol: String,
      idCol: String, spark: SparkSession,
      retrain: Boolean = false): Seq[Stage] = {
    val slots = new RankingSlots
    confs.map(stage(_, textCol, idCol, spark, slots, retrain))
  }

  /** `postCommit` runs AFTER the caller's output write succeeds —
    * for stages with external side effects (the near-dup index
    * append) that must not land when the run fails downstream.
    * `streamable` marks stages whose semantics hold PER MICRO-BATCH:
    * row-local filters, deterministic split, decontaminate (the eval
    * set is fixed), and the index-backed dedups (history lives in
    * the persisted index, so "seen before" is global across batches
    * and runs), and the LEDGER-backed domain-cap / token-budget
    * (state-dir mode: [[IncrementalCuration]] keeps the cap/budget
    * global across batches and runs, first-come in arrival order).
    * Corpus-global stages (un-indexed dedup, span-scrub, un-ledgered
    * domain-cap/token-budget, validate-unique) are NOT — applied per
    * batch they would silently weaken to batch-local decisions, so
    * the streaming runner refuses them loudly.
    *
    * `replacesFlow` marks stages whose output is a NEW relation
    * (fuse, hard-negatives) rather than a filtered/augmented view of
    * the incoming corpus: [[assemble]] must complete the corpus-side
    * funnel observations before such a stage discards the flow —
    * otherwise a funnel reader blocks forever on observations no
    * action will ever execute. */
  final case class Stage(name: String, apply: DataFrame => DataFrame,
      postCommit: () => Unit = () => (), streamable: Boolean = false,
      replacesFlow: Boolean = false)

  /** Compile one TOML stage table into a combinator. `idCol`/
    * `textCol` name the corpus columns. Unknown types fail loudly —
    * a silently-skipped curation stage is corrupted training data.
    * This arity compiles the stage with a PRIVATE slot registry —
    * fine for every stage type except the retrieve/fuse family,
    * which needs [[compile]]'s shared registry to see each other. */
  def stage(conf: Map[String, Any], textCol: String, idCol: String,
      spark: SparkSession): Stage =
    stage(conf, textCol, idCol, spark, new RankingSlots)

  /** [[stage]] with an explicit slot registry (see [[compile]]). */
  def stage(conf: Map[String, Any], textCol: String, idCol: String,
      spark: SparkSession, slots: RankingSlots,
      retrain: Boolean = false): Stage = {
    def str(k: String): String = conf.get(k).map(_.toString)
      .getOrElse(sys.error(s"missing option $k"))
    def num(k: String, dflt: => Double) = conf.get(k) match {
      case Some(v: Long) => v.toDouble
      case Some(v: Double) => v
      case Some(v) => v.toString.toDouble
      case None => dflt
    }
    // integer-valued options (token budgets, caps): a TOML integer
    // must NOT round-trip through Double — above 2^53 that silently
    // loses precision before .toLong
    def lng(k: String, dflt: => Long) = conf.get(k) match {
      case Some(v: Long) => v
      case Some(v: Int) => v.toLong
      // a whole-valued TOML float (budget = 2.0) parses as Double —
      // accept it; a fractional one fails NAMING the option
      case Some(v: Double) if v.isWhole => v.toLong
      case Some(v) =>
        try v.toString.toLong
        catch { case _: NumberFormatException =>
          sys.error(s"option $k must be an integer, got '$v'")
        }
      case None => dflt
    }
    // column-list options: a TOML array parses to Seq — stringifying
    // one would yield a bogus "List(doc_id" column name (same hazard
    // the langid-filter branch guards); accept both array and
    // comma-separated string forms
    def cols(k: String): Seq[String] = conf.get(k) match {
      case Some(s: Seq[Any @unchecked]) =>
        s.map(_.toString.trim).filter(_.nonEmpty)
      case Some(v) =>
        v.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => Nil
    }
    val t = col(textCol)
    // tokenizer mode for the model-filter stages: "word" (whitespace,
    // the default) or "char" (character n-grams — the CCNet/fastText
    // fallback for space-free scripts; zh/ja/th have no whitespace
    // tokens, so word mode silently degrades to one giant token per
    // sentence). Char grams are space-free by the ▁ normalization, so
    // they ride the SAME compiled kernels: the kernel text is the
    // gram stream re-spaced (TextFunctions.charGramText).
    val tokMode = conf.get("tokenizer").map(_.toString)
      .getOrElse("word")
    require(tokMode == "word" || tokMode == "char" || tokMode == "auto",
      s"tokenizer must be 'word', 'char' or 'auto', got '$tokMode'")
    val charN = num("char-n", 5).toInt
    require(charN > 0, s"char-n must be positive, got $charN")
    // "auto" = per-LANGUAGE routing (the complete CCNet recipe):
    // documents whose language is in char-langs tokenize as char
    // n-grams, the rest as words — one training pass, one model
    // bank, each language under its natural tokenization. Only
    // meaningful where a language key exists (lm-filter
    // lang-column); single-model stages reject it loudly.
    val charLangs = cols("char-langs") match {
      case Nil => Seq("ja", "km", "lo", "my", "th", "zh")
      case xs => xs.sorted
    }
    def toksOf(c: org.apache.spark.sql.Column) = {
      require(tokMode != "auto",
        "tokenizer = 'auto' needs a per-document language key — " +
          "only lm-filter with lang-column supports it")
      if (tokMode == "char") TextFunctions.charNgrams(c, charN)
      else TextFunctions.tokens(c)
    }
    // the per-language router (auto mode): space-free languages take
    // char n-grams, the rest word tokens — a single conditional
    // projection, so one training aggregate covers both regimes
    def autoToks(text: org.apache.spark.sql.Column,
        lang: org.apache.spark.sql.Column) =
      when(lang.isin(charLangs: _*),
        TextFunctions.charNgrams(text, charN))
        .otherwise(TextFunctions.tokens(text))
    // tokenizer identity params — part of every ModelStore marker a
    // tokenized model commits (serving a word-token model in a
    // char-gram stage is silent corruption)
    val tokParams = Map("tokenizer" -> tokMode) ++
      (if (tokMode != "word") Map("char-n" -> charN.toString)
       else Map()) ++
      (if (tokMode == "auto")
        Map("char-langs" -> charLangs.mkString(","))
       else Map())
    // compiled kernels tokenize their text input by whitespace; in
    // char mode hand them the re-spaced gram stream via a projected
    // column (returns the frame + the column to score)
    def kernelInput(df: DataFrame, textColName: String)
    : (DataFrame, String) =
      if (tokMode == "char")
        (df.withColumn("__graft_gt",
          TextFunctions.charGramText(col(textColName), charN)),
          "__graft_gt")
      else (df, textColName)
    str("type") match {
      case "quality-filter" =>
        val min = num("min-score", 0.5)
        Stage("quality-filter",
          _.filter(TextFunctions.qualityScore(t) >= min),
          streamable = true)
      case "langid-filter" =>
        val langs = cols("langs")
        // mode = "model": a TRAINED language classifier (the fastText
        // LID shape — NB argmax votes over char n-grams) replaces the
        // marker-word/script heuristics, so a real 100-language crawl
        // classifies every language the labeled seed covers, not just
        // the handful someone hand-coded markers for. The predicted
        // language can also be STAMPED (output-column) instead of or
        // in addition to filtering — that column is what lm-filter's
        // lang-column + tokenizer = "auto" routes on, completing the
        // CCNet recipe (LID → per-language LM) on UNLABELED text.
        val lidMode = conf.get("mode").map(_.toString)
          .getOrElse("heuristic")
        require(lidMode == "heuristic" || lidMode == "model",
          s"langid-filter: mode must be 'heuristic' or 'model', " +
            s"got '$lidMode'")
        if (lidMode == "model") {
          val outCol = conf.get("output-column").map(_.toString)
          require(langs.nonEmpty || outCol.isDefined,
            "langid-filter mode=model: need langs (filter) and/or " +
              "output-column (annotate)")
          val labelCol = conf.get("label-column")
            .map(_.toString).getOrElse("lang")
          // language ID is inherently char-gram (word markers don't
          // exist in space-free scripts) — trigrams by default, the
          // fastText LID feature shape; independent of the stage
          // family's tokenizer option
          val lidN = num("char-n", 3).toInt
          require(lidN > 0, s"char-n must be positive, got $lidN")
          val minCount = num("min-count", 2).toInt
          def trainLid() = {
            val seed = spark.read.parquet(str("ref-path"))
            NbClassifier.trainCounts(seed,
              TextFunctions.charNgrams(col(textCol), lidN),
              col(labelCol), minCount)
          }
          // model-dir lifecycle: see nb-filter
          val counts = conf.get("model-dir").map(_.toString) match {
            case Some(dir) =>
              val mparams = Map("char-n" -> lidN.toString,
                "min-count" -> minCount.toString,
                "label-column" -> labelCol)
              if (retrain)
                ModelStore.save(spark, dir, "langid", mparams,
                  Map("counts" -> trainLid()))
              val load = ModelStore.open(spark, dir, "langid", mparams)
              Caching.cacheOnce(load("counts"))
            case None => Caching.cacheOnce(trainLid())
          }
          // compile + broadcast once at assembly when the pruned
          // vocabulary fits the kernel gate; ONLY the size gate falls
          // back to the relational predictor (the nb-filter contract)
          val compiledLid = try Some(NbClassifier.broadcastVotes(spark,
            NbClassifier.compileVotes(counts)))
          catch { case _: ModelTooLargeException => None }
          if (compiledLid.isDefined) counts.unpersist(blocking = false)
          return Stage("langid-filter", df => {
            val tagged = compiledLid match {
              case Some(bc) =>
                // scan-stage annotation: LID over 100 TB is a pure
                // projection — no explode, no join, no shuffle. Empty
                // gram text predicts NULL, matching the relational
                // explode of an empty gram array (and NULL text stays
                // NULL through charGramText).
                val gt = TextFunctions.charGramText(t, lidN)
                df.withColumn("__graft_lid",
                  when(length(gt) > 0, graft.functions.BroadcastScore
                    .nbVote(gt, bc).getField("pred")))
              case None =>
                val preds = NbClassifier.predictVotes(df, idCol,
                  TextFunctions.charNgrams(t, lidN), counts)
                  .select(col("doc_id").as(idCol),
                    col("pred").as("__graft_lid"))
                df.join(preds, Seq(idCol), "left")
            }
            val kept = if (langs.nonEmpty)
              tagged.filter(col("__graft_lid").isin(langs: _*))
            else tagged
            outCol match {
              case Some(c) => kept.withColumnRenamed("__graft_lid", c)
              case None => kept.drop("__graft_lid")
            }
          }, streamable = true)
        }
        require(langs.nonEmpty, "langid-filter: missing/empty langs")
        // script = true layers character-block detection over the
        // marker-word chain, so zh/ja/th/ko corpora are classifiable
        // (word markers never fire on space-free scripts); default
        // stays the word-marker heuristic for config stability
        val useScript = conf.get("script").exists(_.toString == "true")
        val pred = if (useScript) TextFunctions.langIdScript(t)
          else TextFunctions.langId(t)
        Stage("langid-filter",
          _.filter(pred.isin(langs: _*)),
          streamable = true)
      case "length-filter" =>
        val lo = num("min-tokens", 1).toInt
        val hi = num("max-tokens", Int.MaxValue).toInt
        Stage("length-filter",
          _.filter(TextFunctions.tokenCount(t).between(lo, hi)),
          streamable = true)
      case "nfc-normalize" =>
        // canonical Unicode composition IN PLACE, before any
        // hash-based stage: composed vs decomposed accents are
        // byte-different render-identical strings, so an
        // un-normalized corpus under-deduplicates and blocklists
        // silently miss. ASCII rows take the identity fast path.
        Stage("nfc-normalize",
          df => {
            graft.GraftExtensions.ensure(df.sparkSession)
            df.withColumn(textCol, call_function("nfc_normalize", t))
          },
          streamable = true)
      case "blocklist-filter" =>
        // drop any document containing ANY blocklist phrase — the
        // native Aho-Corasick multi_match_any finds all patterns in
        // ONE early-exiting pass per doc (pattern-count-independent),
        // vs #patterns contains() scans. Byte-exact substring
        // semantics; scan-stage, streamable.
        val pats = cols("patterns")
        require(pats.nonEmpty, "blocklist-filter: missing/empty patterns")
        Stage("blocklist-filter",
          df => {
            graft.GraftExtensions.ensure(df.sparkSession)
            df.filter(!call_function("multi_match_any", t,
              array(pats.map(lit): _*)))
          },
          streamable = true)
      case "repetition-filter" =>
        val max = num("max-rep-ratio", 0.5)
        // counts via the native shingle_hash64 kernel (one byte pass,
        // no shingle strings) — the same swap as text_repetition:
        // distinct = kernel size, total = token-count arithmetic.
        // NULL text drops, as the pre-kernel composed form did (its
        // predicate evaluated to NULL): greatest() would otherwise
        // turn a null token count into total=0 and silently KEEP the
        // null doc, changing semantics under the kernel swap.
        Stage("repetition-filter", df => {
          graft.GraftExtensions.ensure(df.sparkSession)
          val total = greatest(size(TextFunctions.tokens(t)) - 2, lit(0))
          val uniq = size(call_function("shingle_hash64", t, lit(3)))
          df.filter(t.isNotNull && (total === 0 ||
            (lit(1.0) - uniq.cast("double") / total.cast("double")) <= max))
        }, streamable = true)
      case "html-extract" =>
        // strip markup IN PLACE before any tokenizing/hashing stage —
        // the boilerplate-removal step a web corpus needs first (tags
        // out, script/style/head content dropped, entities decoded,
        // whitespace collapsed). Scan-stage, streamable.
        Stage("html-extract",
          df => {
            graft.GraftExtensions.ensure(df.sparkSession)
            df.withColumn(textCol, call_function("html_text", t))
          },
          streamable = true)
      case "media-filter" =>
        // drop rows whose BLOB column does not decode as an accepted
        // image format within the dimension bounds — the image-corpus
        // analog of quality-filter, running the REAL codec kernels
        // (PNG/GIF/JPEG/BMP). Every kernel probes its magic bytes in
        // O(1) and bails, so per row only the matching format pays a
        // decode; NULL blobs and unrecognized formats drop. Scan-stage
        // only: blobs never shuffle (the Multimodal contract).
        val blobCol = conf.get("blob-col").map(_.toString)
          .getOrElse("payload")
        val minW = num("min-width", 1).toInt
        val minH = num("min-height", 1).toInt
        val fmts = { val f = cols("formats")
          if (f.isEmpty) Seq("png", "gif", "jpeg", "bmp") else f }
        val known = Map("png" -> "png_stats", "gif" -> "gif_stats",
          "jpeg" -> "jpeg_stats", "bmp" -> "bmp_stats")
        fmts.foreach(f => require(known.contains(f),
          s"media-filter: unknown format '$f' (know ${known.keys.mkString(",")})"))
        Stage("media-filter",
          df => {
            graft.GraftExtensions.ensure(df.sparkSession)
            val b = col(blobCol)
            def field(n: String) =
              coalesce(fmts.map(f =>
                call_function(known(f), b).getField(n)): _*)
            df.filter(field("width") >= minW && field("height") >= minH)
          },
          streamable = true)
      case "frame-features" =>
        // REPLACE the flow with one row per sampled frame carrying a
        // model feature — the multimodal feature-extraction stage.
        // The blob decodes for n_frames (real MP4/PNG/WAV metadata),
        // frames sample at `stride`, and features run through the
        // BatchInfer batched-model transport. `model-class` names a
        // deployment's [[FrameFeatureModel]] (no-arg constructor,
        // built once at assembly, serialized to executors); without
        // it the deterministic md5 fingerprint keeps the stage
        // oracle-checkable. Row-local either way ⇒ streamable.
        val blobCol = conf.get("blob-col").map(_.toString)
          .getOrElse("payload")
        val stride = num("stride", 4).toInt
        require(stride > 0, s"frame-features: stride must be > 0")
        val outCol = conf.get("output-column").map(_.toString)
          .getOrElse("frame_fp")
        val frameModel = conf.get("model-class").map(_.toString).map { cn =>
          val inst =
            try Class.forName(cn).getDeclaredConstructor().newInstance()
            catch { case e: ReflectiveOperationException =>
              sys.error(s"frame-features: cannot construct " +
                s"model-class '$cn' (${e.getMessage})")
            }
          inst match {
            case m: FrameFeatureModel => m
            case other => sys.error("frame-features: model-class " +
              s"'$cn' is not a graft.ops.FrameFeatureModel " +
              s"(got ${other.getClass.getName})")
          }
        }
        Stage("frame-features", df => {
          graft.GraftExtensions.ensure(df.sparkSession)
          // corpora without a blob column (text fixtures) take the
          // SYNTHETIC metadata generator (known frame counts over
          // text bytes — the withSyntheticMedia harness); a real
          // blob column gets the honest content-dispatch decode
          val hasBlob = df.columns.contains(blobCol)
          val withBlob =
            if (hasBlob) df
            else df.withColumn(blobCol, Multimodal.asBlob(t))
          val media = withBlob.withColumn("media",
            if (hasBlob) Multimodal.decode(col(blobCol))
            else Multimodal.syntheticMediaMeta(col(blobCol)))
          val frames = Multimodal.sampleFrames(media, stride)
          val featured = Multimodal.withFrameFeatures(frames, blobCol,
            "frame_idx", outCol,
            model = frameModel.map { m => (batch: Seq[org.apache.spark.sql.Row]) =>
              m.featureBatch(batch.map(r => (
                r.getAs[Array[Byte]](r.fieldIndex(blobCol)),
                r.getInt(r.fieldIndex("frame_idx")))))
            })
          featured.select(col(idCol), col("frame_idx"), col(outCol))
        }, streamable = true, replacesFlow = true)
      case "audio-filter" =>
        // drop rows whose BLOB column is not decodable audio inside
        // the RMS band — the silence/clipping filter audio corpora
        // run before training. wav_rms consumes EVERY sample (PCM or
        // G.711) in the scan stage; non-WAV blobs yield NULL and drop.
        val blobCol = conf.get("blob-col").map(_.toString)
          .getOrElse("payload")
        val lo = num("min-rms", 0.0)
        val hi = num("max-rms", 1.0)
        Stage("audio-filter",
          df => {
            graft.GraftExtensions.ensure(df.sparkSession)
            df.filter(call_function("wav_rms", col(blobCol))
              .between(lo, hi))
          },
          streamable = true)
      case "dedup-exact" =>
        conf.get("index-dir") match {
          case Some(dir) =>
            // incremental mode: the persisted fingerprint index
            // decides — "never train on a document twice" across
            // batches AND runs. Append deferred to postCommit, same
            // contract as the near-dup index stage.
            val pending =
              new java.util.concurrent.atomic.AtomicReference[DataFrame]()
            Stage("dedup-exact-index", df => {
              // novel() returns a MATERIALIZED frame; hold it so
              // postCommit can both append from it and release its
              // checkpoint blocks (a long streaming run calls this
              // once per micro-batch — leaked blocks would pin
              // executor storage for the session lifetime)
              val winners = IncrementalDedup
                .novel(spark, df, textCol, idCol, dir.toString)
              // a batch that failed after apply but before postCommit
              // leaves its frame in pending — release it rather than
              // leak its checkpoint blocks when the next batch
              // displaces it (the failed batch's index append is
              // correctly dropped: it never committed)
              Option(pending.getAndSet(winners)).foreach(CheckpointRelease.release)
              winners.drop("fp", "bucket")
            }, () => Option(pending.getAndSet(null)).foreach { w =>
              IncrementalDedup.appendFpRows(spark,
                w.select(col("fp"), col("bucket"), col(idCol).as("keep_id")),
                dir.toString)
              CheckpointRelease.release(w)
            }, streamable = true)
          case None =>
            Stage("dedup-exact", df => {
              val keep = Dedup.exactByFingerprint(df, textCol, idCol)
                .select(col("keep_id").as(idCol))
              df.join(keep, Seq(idCol), "left_semi")
            })
        }
      case "dedup-near" =>
        // tokenizer = "char": near-dup over char-gram shingles — the
        // CJK/Thai shape (word shingles are EMPTY on a space-free
        // script: one giant token per sentence shingles to nothing,
        // so word-mode near-dup silently finds nothing there).
        // charGramText is a projection, so the minhash/LSH plan and
        // the persisted index layout are unchanged; the projected
        // column is dropped before the flow continues.
        def nearText(df: DataFrame): (DataFrame, String) =
          if (tokMode == "char")
            (df.withColumn("__graft_gt",
              TextFunctions.charGramText(t, charN)), "__graft_gt")
          else { toksOf(t); (df, textCol) } // toksOf validates !auto
        conf.get("index-dir") match {
          case Some(dir) =>
            // incremental mode: the persisted LSH band index decides.
            // The index APPEND is deferred to postCommit (after the
            // output write lands): appending during assembly would
            // blacklist the batch's docs permanently even when the
            // run fails before producing output.
            //
            // The tokenizer is PART OF THE INDEX LAYOUT (like the
            // _graft_buckets count): word-shingle and char-gram band
            // hashes live in different spaces, so re-running an
            // existing index under another tokenizer/char-n would
            // silently mix them — membership probes that never match,
            // dedup quietly off. Stamped on first use, mismatch
            // refuses loudly (the ModelStore identity discipline).
            val tokIdentity = (s"tokenizer=$tokMode" +:
              (if (tokMode == "char") Seq(s"char-n=$charN") else Nil))
              .mkString("\n")
            val pending = new java.util.concurrent.atomic
              .AtomicReference[(DataFrame, DataFrame)]()
            Stage("dedup-near-index", df => {
              IncrementalDedup.checkOrWriteIdentityMarker(spark,
                dir.toString, "_graft_neartok", tokIdentity)
              val (ndf, ntc) = nearText(df)
              val (novel, bands) = IncrementalDedup
                .novelNearDup(spark, ndf, ntc, idCol, dir.toString)
              val novelDocs =
                if (ntc == textCol) novel else novel.drop(ntc)
              // release any frames a failed batch left behind (see
              // dedup-exact-index) before installing the new pair
              Option(pending.getAndSet((novelDocs, bands))).foreach {
                case (n, b) =>
                  CheckpointRelease.release(n); CheckpointRelease.release(b)
              }
              novelDocs
            }, () => Option(pending.getAndSet(null)).foreach {
              case (n, b) =>
                IncrementalDedup.appendBandRows(spark, b, dir.toString)
                // release both checkpoints — postCommit runs after
                // the output write, so nothing re-reads them; see
                // dedup-exact-index for the per-batch leak rationale
                CheckpointRelease.release(b); CheckpointRelease.release(n)
            }, streamable = true)
          case None =>
            // corpus mode: LSH candidates → components → keeper-only
            Stage("dedup-near", df => {
              val (ndf, ntc) = nearText(df)
              val groups = Components.connectedComponents(
                Dedup.minhashCandidates(ndf, ntc, idCol)
                  .select(col("a"), col("b")), "a", "b")
              val drop = groups.filter(col("id") =!= col("group_id"))
                .select(col("id").as(idCol))
              df.join(drop, Seq(idCol), "left_anti")
            })
        }
      case "span-scrub" =>
        val width = num("width", 10).toInt
        Stage("span-scrub", df => {
          val scrubbed = Dedup.spanScrub(df, textCol, idCol, width)
            .select(col("id").as(idCol), col("scrubbed"))
          df.join(scrubbed, Seq(idCol))
            .drop(textCol).withColumnRenamed("scrubbed", textCol)
        })
      case "decontaminate" =>
        // eval-set n-gram overlap drop: the test-set-leakage guard;
        // the eval side broadcasts (that is the use case), the corpus
        // is probed without a corpus-side shuffle.
        // tokenizer = "char": overlap in char-gram space — a zh/ja/th
        // eval set has NO word shingles, so word-mode decontamination
        // is blind to CJK leakage. Both sides project through
        // charGramText (a projection; same shingle plan), and the
        // effective overlap window covers char-n + ngram - 1
        // consecutive codepoints.
        val evalPath = str("eval-path")
        val n = num("ngram", 3).toInt
        def decontSide(df: DataFrame): (DataFrame, String) =
          if (tokMode == "char")
            (df.withColumn("__graft_gt",
              TextFunctions.charGramText(t, charN)), "__graft_gt")
          else { toksOf(t); (df, textCol) } // toksOf validates !auto
        Stage("decontaminate", df => {
          val (cdf, ctc) = decontSide(df)
          val (edf, _) = decontSide(spark.read.parquet(evalPath))
          val hits = Dedup.contamination(cdf, edf, ctc, idCol, n)
            .filter(col("contaminated")).select(col("id").as(idCol))
          df.join(hits, Seq(idCol), "left_anti")
        }, streamable = true)
      case "decontaminate-semantic" =>
        // embedding-cosine eval-set drop: catches PARAPHRASED eval
        // leakage sharing no n-gram. Corpus embeddings join on id
        // (stream-static, streamable); the eval embeddings broadcast
        // inside Similarity.semanticContamination. Docs without an
        // embedding row pass through (no silent drop on coverage
        // gaps — flag what you can score, keep the rest).
        val evalPath = str("eval-path")
        val embPath = str("embedding-path")
        val embCol = conf.get("embedding-column")
          .map(_.toString).getOrElse("embedding")
        val embId = conf.get("embedding-id-column")
          .map(_.toString).getOrElse("vec_id")
        val tau = num("tau", 0.9)
        Stage("decontaminate-semantic", df => {
          val corpusVecs = df.select(col(idCol)).join(
            spark.read.parquet(embPath).withColumnRenamed(embId, idCol),
            Seq(idCol))
          val hits = Similarity.semanticContaminationAgainst(
            corpusVecs, spark.read.parquet(evalPath),
            embCol, idCol, tau)
            .filter(col("contaminated")).select(col(idCol))
          df.join(hits, Seq(idCol), "left_anti")
        }, streamable = true)
      case "nb-filter" =>
        // trainable binary Naive-Bayes quality filter (the CCNet /
        // DCLM / FineWeb-Edu shape): a labeled seed set at ref-path
        // trains the token model ONCE at assembly (lazy frames,
        // cached on first batch); every incoming doc is scored by
        // the prefix likelihood ratio and kept when it clears
        // min-score. The model is fixed — independent of the
        // incoming batch — so the stage is streamable, same contract
        // as decontaminate's fixed eval set. Docs with NULL text
        // never reach the score table and drop (filter semantics).
        val labelCol = conf.get("label-column")
          .map(_.toString).getOrElse("label")
        val posLabel = str("pos-label")
        val minScore = num("min-score", 1.0)
        val minCount = num("min-count", 2).toInt
        val prefix = num("prefix", 40).toInt
        // model-dir = persisted train→save→load→serve lifecycle: a
        // --retrain run trains from ref-path and commits the count
        // tables (ModelStore marker discipline); a serve run loads
        // them WITHOUT ref-path or the training corpus existing, and
        // scores bit-identically (the kernel compiles from the same
        // relational tables either way)
        def trainNb() = {
          val refDocs = spark.read.parquet(str("ref-path"))
          (NbClassifier.trainCounts(refDocs,
            toksOf(col(textCol)), col(labelCol), minCount),
            NbClassifier.docPriors(refDocs, col(labelCol)))
        }
        val (counts, priors) = conf.get("model-dir").map(_.toString) match {
          case Some(dir) =>
            // label-column is part of the model's training identity:
            // retraining after the seed corpus's label column is
            // repointed must NOT serve under a marker that matches a
            // differently-configured stage
            val mparams = Map("pos-label" -> posLabel,
              "min-count" -> minCount.toString,
              "label-column" -> labelCol) ++ tokParams
            if (retrain) {
              val (c, p) = trainNb()
              ModelStore.save(spark, dir, "nb", mparams,
                Map("counts" -> c, "priors" -> p))
            }
            val load = ModelStore.open(spark, dir, "nb", mparams)
            (Caching.cacheOnce(load("counts")),
              Caching.cacheOnce(load("priors")))
          case None =>
            val (c, p) = trainNb()
            (Caching.cacheOnce(c), Caching.cacheOnce(p))
        }
        // compile + broadcast once at assembly when the pruned model
        // fits the kernel gate; ONLY the size gate falls back to the
        // relational scorer (same contract as lm-filter) — any other
        // failure is misconfiguration and propagates. On the compiled
        // path the training caches are released: the broadcast
        // carries the whole model
        val compiledNb = try Some(NbClassifier.broadcastBinary(spark,
          NbClassifier.compileBinary(counts, priors, posLabel), prefix))
        catch { case _: ModelTooLargeException => None }
        if (compiledNb.isDefined) {
          counts.unpersist(blocking = false)
          priors.unpersist(blocking = false)
        }
        Stage("nb-filter", df => {
          val scored = compiledNb match {
            case Some(bc) =>
              // char mode: drop empty gram text BEFORE the kernel —
              // relational charNgrams('') = [] explodes to zero rows
              // so the doc drops, while the kernel would tokenize ''
              // to [''] and score one OOV ratio; without this filter
              // the same config keeps or drops empty docs depending
              // on which path the model size gate chose (word mode
              // needs no guard: tokens('') = [''] on BOTH paths)
              val (kdf0, ktc) = kernelInput(df, textCol)
              val kdf = if (tokMode == "char")
                kdf0.filter(length(col(ktc)) > 0) else kdf0
              NbClassifier.scoreBinaryCompiled(kdf, idCol, ktc, bc)
            case None => NbClassifier.scoreBinary(df, idCol,
              toksOf(t), counts, priors, posLabel, prefix)
          }
          val keep = scored.filter(col("score") >= minScore)
            .select(col("doc_id").as(idCol))
          df.join(keep, Seq(idCol), "left_semi")
        }, streamable = true)
      case "lm-filter" =>
        // stupid-backoff LM fluency filter (Brants et al. 2007; the
        // CCNet perplexity-filter shape with distributed counts): a
        // reference corpus at ref-path trains unigram + pruned
        // bigram tables once at assembly; docs keep when their mean
        // transition score clears min-score. Fixed model ⇒
        // streamable.
        val minScore = num("min-score", 0.0)
        val minCount = num("min-count", 2).toInt
        val order = num("ngram", 2).toInt
        require(order == 2 || order == 3,
          s"lm-filter: ngram must be 2 or 3, got $order")
        // lang-column switches to the TRUE CCNet recipe: one model
        // per language, every doc scored against its own language's
        // model (compiled into one broadcast model bank when it fits
        // the gate), and — with min-quantile — a PER-LANGUAGE score
        // cutoff learned from the training corpus at assembly, so a
        // fluent-but-rare-language doc is judged against its peers.
        // Serve batches never recompute quantiles (per-batch
        // quantiles would weaken to batch-local decisions); the
        // cutoffs are part of the model and persist through
        // model-dir like the count tables.
        conf.get("lang-column").map(_.toString) match {
          case Some(langCol) =>
            // per-language tokenization: auto routes each language
            // to its natural regime; word/char apply uniformly
            def langToks =
              if (tokMode == "auto") autoToks(col(textCol), col(langCol))
              else toksOf(col(textCol))
            // bank kernels tokenize their text input by whitespace —
            // char and auto modes hand them re-spaced gram text
            // (per-language conditional under auto)
            def bankInput(df: DataFrame): (DataFrame, String) =
              tokMode match {
                case "word" => (df, textCol)
                case "char" => kernelInput(df, textCol)
                case _ => (df.withColumn("__graft_gt",
                  when(col(langCol).isin(charLangs: _*),
                    TextFunctions.charGramText(col(textCol), charN))
                    .otherwise(col(textCol))), "__graft_gt")
              }
            val minQ = conf.get("min-quantile").map(_.toString.toDouble)
            minQ.foreach(q => require(q >= 0.0 && q < 1.0,
              s"lm-filter: min-quantile must be in [0, 1), got $q"))
            def trainLmBy() = {
              val refDocs = spark.read.parquet(str("ref-path"))
              val et = langToks
              // cache the count tables HERE: they feed the cutoff
              // quantile actions, the ModelStore save, and the kernel
              // compile — uncached, training would re-aggregate per
              // consumer
              val u = Caching.cacheOnce(
                LangModel.unigramsBy(refDocs, col(langCol), et))
              val b = Caching.cacheOnce(
                LangModel.bigramsBy(refDocs, col(langCol), et, minCount))
              val tg = if (order == 3) Some(Caching.cacheOnce(
                LangModel.trigramsBy(refDocs, col(langCol), et,
                  minCount)))
              else None
              val cuts = minQ.map { q =>
                // the cutoff table is ≤ one row per language —
                // materialize it HERE (and release the scoring cache)
                // so nothing downstream re-executes the quantile
                // subtree
                val (scored, fresh) = Caching.cacheOnceTracked(
                  (tg match {
                    case Some(t3) => LangModel.scoreTrigramBy(refDocs,
                      idCol, col(langCol), et, u, b, t3)
                    case None => LangModel.scoreBy(refDocs, idCol,
                      col(langCol), et, u, b)
                  }).select(col("g"), col("mean_p")))
                try {
                  val proj = ExactQuantiles.percentiles(scored, "g",
                    Seq("mean_p" -> Seq(q)))
                    .select(col("g"), col("value").as("cut"))
                  spark.createDataFrame(
                    java.util.Arrays.asList(proj.collect(): _*),
                    proj.schema)
                } finally if (fresh) scored.unpersist(blocking = false)
              }
              (u, b, tg, cuts)
            }
            val mparams = Map("ngram" -> order.toString,
              "min-count" -> minCount.toString,
              "lang-column" -> langCol) ++ tokParams ++
              minQ.map("min-quantile" -> _.toString)
            val (uni, big, triBy, cuts) =
              conf.get("model-dir").map(_.toString) match {
                case Some(dir) =>
                  if (retrain) {
                    val (u, b, tg, c) = trainLmBy()
                    ModelStore.save(spark, dir, "lm-by-lang", mparams,
                      Map("unigrams" -> u, "bigrams" -> b) ++
                        tg.map("trigrams" -> _) ++
                        c.map("cutoffs" -> _))
                    // release the training-side caches before the
                    // store re-load below registers its own — left
                    // resident they'd outlive the stage assembly
                    // (the r11 cache-hygiene contract)
                    u.unpersist(blocking = false)
                    b.unpersist(blocking = false)
                    tg.foreach(_.unpersist(blocking = false))
                  }
                  val load = ModelStore.open(spark, dir, "lm-by-lang",
                    mparams)
                  (Caching.cacheOnce(load("unigrams")),
                    Caching.cacheOnce(load("bigrams")),
                    if (order == 3)
                      Some(Caching.cacheOnce(load("trigrams")))
                    else None,
                    minQ.map(_ => load("cutoffs")))
                case None => trainLmBy()
              }
            val bank = try Some(LangModel.broadcastBank(spark,
              LangModel.compileModelBy(uni, big, triBy)))
            catch { case _: ModelTooLargeException => None }
            if (bank.isDefined) {
              uni.unpersist(blocking = false)
              big.unpersist(blocking = false)
              triBy.foreach(_.unpersist(blocking = false))
            }
            // materialize the cutoffs ONCE at assembly (≤ one row per
            // language): left lazy, the quantile subtree — or the
            // store read — would re-execute under every micro-batch's
            // join
            val cutsLocal = cuts.map { c =>
              val rows = c.collect()
              spark.createDataFrame(
                java.util.Arrays.asList(rows: _*), c.schema)
            }
            return Stage("lm-filter", df => {
              val scored = (bank, triBy) match {
                case (Some(bk), Some(_)) =>
                  val (kdf, ktc) = bankInput(df)
                  LangModel.scoreTrigramByCompiled(
                    kdf, idCol, ktc, langCol, bk)
                case (Some(bk), None) =>
                  val (kdf, ktc) = bankInput(df)
                  LangModel.scoreByCompiled(kdf, idCol, ktc, langCol, bk)
                case (None, Some(t3)) => LangModel.scoreTrigramBy(df,
                  idCol, col(langCol), langToks, uni,
                  big, t3)
                case (None, None) => LangModel.scoreBy(df, idCol,
                  col(langCol), langToks, uni, big)
              }
              val keep = cutsLocal match {
                // per-language learned cutoff; docs whose language
                // has no trained cutoff cannot be assessed and drop
                case Some(c) => scored.join(broadcast(c), Seq("g"))
                  .filter(col("mean_p") >= col("cut"))
                case None => scored.filter(col("mean_p") >= minScore)
              }
              df.join(keep.select(col("doc_id").as(idCol)),
                Seq(idCol), "left_semi")
            }, streamable = true)
          case None => ()
        }
        // model-dir lifecycle: see nb-filter
        def trainLm() = {
          val refDocs = spark.read.parquet(str("ref-path"))
          (LangModel.unigrams(refDocs, toksOf(col(textCol))),
            LangModel.bigrams(refDocs, toksOf(col(textCol)), minCount),
            if (order == 3) Some(LangModel.trigrams(refDocs,
              toksOf(col(textCol)), minCount))
            else None)
        }
        val (uni, big, tri) = conf.get("model-dir").map(_.toString) match {
          case Some(dir) =>
            val mparams = Map("ngram" -> order.toString,
              "min-count" -> minCount.toString) ++ tokParams
            if (retrain) {
              val (u, b, tg) = trainLm()
              ModelStore.save(spark, dir, "lm", mparams,
                Map("unigrams" -> u, "bigrams" -> b) ++
                  tg.map("trigrams" -> _))
            }
            val load = ModelStore.open(spark, dir, "lm", mparams)
            (Caching.cacheOnce(load("unigrams")),
              Caching.cacheOnce(load("bigrams")),
              if (order == 3) Some(Caching.cacheOnce(load("trigrams")))
              else None)
          case None =>
            val (u, b, tg) = trainLm()
            (Caching.cacheOnce(u), Caching.cacheOnce(b),
              tg.map(Caching.cacheOnce))
        }
        // compile + broadcast ONCE at assembly when the pruned model
        // fits the kernel gate (then every batch scores scan-stage,
        // no joins, no per-batch broadcast); ONLY the size gate falls
        // back to the relational scorer — a contract violation (e.g.
        // space-bearing tokens) propagates as misconfiguration. On
        // the compiled path the training caches are released
        val compiled = try Some(LangModel.broadcastModel(spark,
          LangModel.compileModel(uni, big, tri)))
        catch { case _: ModelTooLargeException => None }
        if (compiled.isDefined) {
          uni.unpersist(blocking = false)
          big.unpersist(blocking = false)
          tri.foreach(_.unpersist(blocking = false))
        }
        Stage("lm-filter", df => {
          val scored = (compiled, tri) match {
            case (Some(bc), Some(_)) =>
              val (kdf, ktc) = kernelInput(df, textCol)
              LangModel.scoreTrigramCompiledModel(kdf, idCol, ktc, bc)
            case (Some(bc), None) =>
              val (kdf, ktc) = kernelInput(df, textCol)
              LangModel.scoreCompiledModel(kdf, idCol, ktc, bc)
            case (None, Some(tg)) => LangModel.scoreTrigram(df, idCol,
              toksOf(t), uni, big, tg)
            case (None, None) => LangModel.score(df, idCol,
              toksOf(t), uni, big)
          }
          val keep = scored.filter(col("mean_p") >= minScore)
            .select(col("doc_id").as(idCol))
          df.join(keep, Seq(idCol), "left_semi")
        }, streamable = true)
      case "dsir-filter" =>
        // DSIR importance filter (Xie et al. 2023): keep docs whose
        // hashed-n-gram likelihood ratio against a fixed target/raw
        // model pair clears min-weight. Both models train on
        // CONFIGURED corpora at assembly (not the batch), so the
        // stage is streamable. The corpus-global top-k resampling
        // variant is [[Dsir.resampleTopK]] — a threshold is the
        // per-batch-sound form.
        val buckets = num("buckets", 1024).toInt
        val minWeight = num("min-weight", 1.0)
        val prefix = num("prefix", 40).toInt
        // tokenizer = "char": hashed features over char grams + gram
        // transitions — DSIR toward a zh/ja/th target corpus (word
        // features don't exist there). The projection trick again:
        // weightsSplitCompiled's word walk over re-spaced gram text
        // IS the char featurizer, so kernel and model shapes are
        // untouched. Empty texts drop on both paths.
        def dsirText(df: DataFrame): (DataFrame, String) =
          if (tokMode == "char")
            (df.withColumn("__graft_gt",
              TextFunctions.charGramText(col(textCol), charN))
              .filter(length(col("__graft_gt")) > 0), "__graft_gt")
          else { toksOf(t); (df, textCol) } // toksOf validates !auto
        // model-dir lifecycle: see nb-filter. Training featurizes
        // char mode DIRECTLY from the charNgrams array (featuresToks)
        // — no re-spaced giant string to build and re-split; an empty
        // text's empty gram array contributes no features, exactly
        // what the serve path's empty filter admits
        def trainDsir() = {
          def counts(path: String) =
            if (tokMode == "char")
              Dsir.bucketCountsToks(spark.read.parquet(path),
                TextFunctions.charNgrams(col(textCol), charN), buckets)
            else { toksOf(t) // validates !auto
              Dsir.bucketCounts(spark.read.parquet(path), textCol,
                buckets)
            }
          (counts(str("target-path")), counts(str("raw-path")))
        }
        val (tc, rc) = conf.get("model-dir").map(_.toString) match {
          case Some(dir) =>
            val mparams = Map("buckets" -> buckets.toString) ++ tokParams
            if (retrain) {
              val (tcnt, rcnt) = trainDsir()
              ModelStore.save(spark, dir, "dsir", mparams,
                Map("target" -> tcnt, "raw" -> rcnt))
            }
            val load = ModelStore.open(spark, dir, "dsir", mparams)
            (Caching.cacheOnce(load("target")),
              Caching.cacheOnce(load("raw")))
          case None =>
            val (tcnt, rcnt) = trainDsir()
            (Caching.cacheOnce(tcnt), Caching.cacheOnce(rcnt))
        }
        // the joint (bucket, c_t, c_r) model compiles to the dense
        // kernel array and broadcasts ONCE at assembly — batches then
        // score scan-stage (the bucket space is fixed, so there is no
        // oversized-model fallback to need); the training caches are
        // released once the dense array exists
        val dsirModel = Dsir.broadcastSplit(spark, Dsir.compileSplit(
          tc.select(col("bucket"), col("cnt").as("c_t"))
            .join(rc.select(col("bucket"), col("cnt").as("c_r")),
              Seq("bucket"), "full_outer")
            .select(col("bucket"),
              coalesce(col("c_t"), lit(0L)).as("c_t"),
              coalesce(col("c_r"), lit(0L)).as("c_r")), buckets), prefix)
        tc.unpersist(blocking = false)
        rc.unpersist(blocking = false)
        Stage("dsir-filter", df => {
          val (sdf, stc) = dsirText(df)
          val keep = Dsir.weightsSplitCompiled(sdf, idCol, stc,
            dsirModel)
            .filter(col("weight") >= minWeight)
            .select(col("doc_id").as(idCol))
          df.join(keep, Seq(idCol), "left_semi")
        }, streamable = true)
      case "domain-cap" =>
        // at most K docs per source, deterministic hash order — the
        // C4/CCNet mega-domain guard; CappedSample bounds every
        // stage by K (a window rank would colocate the mega-domain
        // in one task — window partitions cannot split)
        val sourceCol = str("source-column")
        val k = num("max-per-source", 1000).toInt
        conf.get("state-dir") match {
          case Some(dir) =>
            // incremental mode: the persisted admission ledger makes
            // the cap global across batches AND runs (first-come in
            // arrival order, batch order within a batch) — the
            // streaming form of the stage. Ledger append deferred to
            // postCommit, same contract as the index-backed dedups.
            val pending =
              new java.util.concurrent.atomic.AtomicReference[DataFrame]()
            Stage("domain-cap-state", df => {
              val admitted = IncrementalCuration.admitDomainCap(
                spark, df, sourceCol, idCol, dir.toString, k)
              Option(pending.getAndSet(admitted)).foreach(CheckpointRelease.release)
              admitted
            }, () => Option(pending.getAndSet(null)).foreach { a =>
              IncrementalCuration.appendDomainRows(spark,
                a.select(col(idCol).as("doc_id"),
                  col(sourceCol).as("source")),
                dir.toString)
              CheckpointRelease.release(a)
            }, streamable = true)
          case None =>
            Stage("domain-cap", df => CappedSample.perKeyCap(df,
              Seq(sourceCol), TextFunctions.hashBucket(col(idCol), 1000000),
              col(idCol), k))
        }
      case "token-budget" =>
        // quality-ordered global token budget — BandedScan.budgetFilter
        // (the banded two-pass prefix sum; shared with the
        // pipe_token_budget query, which pins its plan shape).
        // With vocab-path the budget counts REAL tokenizer tokens
        // (the fused bpe_token_count kernel over the trained merge
        // table) instead of whitespace tokens — what a training-data
        // budget actually means.
        val budget = lng("budget", sys.error("missing option budget"))
        val tokCounter: Option[Column] =
          conf.get("vocab-path").map { vp =>
            graft.GraftExtensions.ensure(spark)
            val rules = spark.read.parquet(vp.toString)
              .orderBy(col("rank")).select(col("left"), col("right"))
              .collect().map(r => (r.getString(0), r.getString(1))).toSeq
            def litArr(xs: Seq[String]) =
              if (xs.isEmpty) array().cast("array<string>")
              else array(xs.map(lit): _*)
            call_function("bpe_token_count", t,
              litArr(rules.map(_._1)), litArr(rules.map(_._2)))
          }
        conf.get("state-dir") match {
          case Some(dir) =>
            // incremental mode: the ledger carries tokens already
            // admitted, so each batch spends only the REMAINING
            // budget — the streaming form (quality-ordered within a
            // batch, first-come across batches)
            val pending =
              new java.util.concurrent.atomic.AtomicReference[DataFrame]()
            Stage("token-budget-state", df => {
              val admitted = IncrementalCuration.admitTokenBudget(
                spark, df, textCol, idCol, dir.toString, budget,
                tokenCount = tokCounter)
              Option(pending.getAndSet(admitted)).foreach(CheckpointRelease.release)
              admitted.drop("__ntok")
            }, () => Option(pending.getAndSet(null)).foreach { a =>
              IncrementalCuration.appendBudgetRows(spark,
                a.select(col(idCol).as("doc_id"), col("__ntok").as("ntok")),
                dir.toString)
              CheckpointRelease.release(a)
            }, streamable = true)
          case None =>
            Stage("token-budget", df =>
              BandedScan.budgetFilter(
                df.withColumn("__ntok", tokCounter.getOrElse(
                  TextFunctions.tokenCount(t).cast("long")))
                  .withColumn("__q", TextFunctions.qualityScore(t)),
                qualityCol = "__q", weightCol = "__ntok", tieCol = idCol,
                budget = budget)
                .drop("__ntok", "__q"))
        }
      case "validate" =>
        // data-quality GATE (ops/Constraints): fail the run loudly if
        // the corpus at this point violates its contract — shipping a
        // known-bad corpus to training is the expensive failure. The
        // audit is its own action (eager, before the output write):
        // a gate that only fired lazily inside the write would let
        // partial output land first.
        val notNull = cols("not-null")
        val unique = cols("unique")
        val maxViol = lng("max-violations", 0L)
        require(notNull.nonEmpty || unique.nonEmpty,
          "validate stage needs not-null and/or unique options")
        Stage("validate", df => {
          // checkpoint first: the audit is an action, and without it
          // the output write would re-execute the entire upstream
          // pipeline a second time
          val cp = df.localCheckpoint()
          val checks = notNull.distinct.map(Constraints.NotNull(_)) ++
            (if (unique.nonEmpty) Seq(Constraints.Unique(unique)) else Nil)
          val bad = Constraints.audit(cp, checks)
            .filter(col("n_violations") > maxViol)
            .select(col("check"), col("n_violations"))
            .collect()
          if (bad.nonEmpty) sys.error(
            "corpus failed validation: " + bad.map(r =>
              s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
          cp
        })
      case "bpe-tokenize" =>
        // tokenize each doc with a TRAINED vocabulary (parquet merge
        // table from BpeTrain.train — rank/left/right): adds a
        // token-count column via the native bpe_encode kernel, whose
        // per-word cost is independent of the vocabulary size. The
        // vocabulary is fixed at compile time (a tokenizer mid-run is
        // a training-data bug), so the stage is row-local and
        // STREAMABLE; train with BpeTrain.train as a separate
        // deliberate action, like the ANN index's create().
        val outCol = conf.get("output-column").map(_.toString)
          .getOrElse("n_bpe_tokens")
        // model-dir = the ModelStore lifecycle (the r12 advice gap:
        // a bare vocab-path parquet has no marker, so a torn vocab
        // write or a merges-count mismatch would serve silently).
        // --retrain trains BpeTrain.train(merges) from ref-path and
        // commits; serve runs load the committed generation and
        // refuse torn/mismatched stores. vocab-path remains the
        // bring-your-own-table escape hatch (externally-trained
        // vocabularies), mutually exclusive with model-dir.
        val rulesDf = (conf.get("model-dir").map(_.toString),
            conf.get("vocab-path").map(_.toString)) match {
          case (Some(_), Some(_)) =>
            sys.error("bpe-tokenize: model-dir and vocab-path are " +
              "mutually exclusive (the store owns its tables)")
          case (Some(dir), None) =>
            val merges = num("merges", 200).toInt
            val mparams = Map("merges" -> merges.toString)
            if (retrain) {
              val vocab = BpeTrain.train(
                BpeTrain.wordCounts(
                  spark.read.parquet(str("ref-path")), textCol),
                merges)
              ModelStore.save(spark, dir, "bpe", mparams,
                Map("merges" -> vocab))
            }
            ModelStore.open(spark, dir, "bpe", mparams)("merges")
          case (None, Some(vp)) => spark.read.parquet(vp)
          case (None, None) =>
            sys.error("bpe-tokenize: need model-dir or vocab-path")
        }
        val rules = rulesDf
          .orderBy(col("rank")).select(col("left"), col("right"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        Stage("bpe-tokenize", df => {
          graft.GraftExtensions.ensure(df.sparkSession)
          // ONE fused kernel dispatch per document (tokenize +
          // encode + count; null text → null) — the composed
          // aggregate-over-tokens form pays an interpreted-lambda
          // dispatch per token on this scan path
          // an EMPTY vocab (all-unique corpus) still types the
          // literal arrays as array<string>
          def litArr(xs: Seq[String]) =
            if (xs.isEmpty) array().cast("array<string>")
            else array(xs.map(lit): _*)
          df.withColumn(outCol, call_function("bpe_token_count", t,
            litArr(rules.map(_._1)), litArr(rules.map(_._2))))
        }, streamable = true)
      case "bm25-retrieve" =>
        // lexical ranker over the corpus AS OF this pipeline point
        // (post-filter docs only): deposits top-k per query into a
        // named slot, corpus passes through. queries are TOML
        // strings "qid:term term ..."; rankings over the whole
        // corpus, so NOT streamable (per-batch BM25 stats would
        // silently change scores).
        val slotName = conf.get("as").map(_.toString).getOrElse("lex")
        val k = num("k", 20).toInt
        val qspecs = cols("queries")
        require(qspecs.nonEmpty, "bm25-retrieve: missing/empty queries")
        val parsed = qspecs.map { q =>
          val i = q.indexOf(':')
          require(i > 0, s"bm25-retrieve query '$q' is not 'qid:terms'")
          (q.substring(0, i).trim.toInt,
            q.substring(i + 1).split("\\s+").toSeq.filter(_.nonEmpty))
        }
        Stage("bm25-retrieve", df => {
          slots.put(slotName,
            Bm25.topK(df, idCol, TextFunctions.tokens(t), parsed, k)
              .select(col("query_id").cast("long").as("query_id"),
                col("doc_id"), col("rnk")))
          df
        })
      case "ann-retrieve" =>
        // semantic ranker: corpus ids join their embeddings, queries
        // are anchor ids sharing the embedding table's id space
        // (exact brute-force ranking — the slot is O(queries × k))
        val slotName = conf.get("as").map(_.toString).getOrElse("sem")
        val k = num("k", 20).toInt
        val embPath = str("embedding-path")
        val embCol = conf.get("embedding-column")
          .map(_.toString).getOrElse("embedding")
        val embId = conf.get("embedding-id-column")
          .map(_.toString).getOrElse("vec_id")
        val qids = cols("query-ids").map(_.toLong)
        require(qids.nonEmpty, "ann-retrieve: missing/empty query-ids")
        Stage("ann-retrieve", df => {
          val vecs = df.select(col(idCol)).join(
            spark.read.parquet(embPath)
              .withColumnRenamed(embId, idCol)
              .withColumnRenamed(embCol, "__emb"),
            Seq(idCol))
          slots.put(slotName,
            Similarity.bruteForceTopK(vecs, "__emb", idCol,
              queryPred = col(idCol).isin(qids: _*), k = k)
              .select(col("qid").cast("long").as("query_id"),
                col("nid").cast("long").as("doc_id"),
                col("rank").as("rnk")))
          df
        })
      case "ann-index-retrieve" =>
        // semantic ranker served from a PERSISTED IncrementalAnn
        // index (create/appendBatch/compact are the maintenance
        // actions): probes read only the ranked cells' partitions.
        // Query vectors come from query-path parquet, or — for
        // anchor ids that live in the index — from the index itself.
        // The ranking is over the INDEX's corpus as of its last
        // append, decoupled from this pipeline's flow (which passes
        // through unchanged).
        val slotName = conf.get("as").map(_.toString).getOrElse("sem")
        val k = num("k", 20).toInt
        val nProbe = num("n-probe", 2).toInt
        val indexDir = str("index-dir")
        val queryPath = conf.get("query-path").map(_.toString)
        val qids = cols("query-ids").map(_.toLong)
        require(queryPath.nonEmpty || qids.nonEmpty,
          "ann-index-retrieve: need query-path or query-ids")
        Stage("ann-index-retrieve", df => {
          val queries = queryPath match {
            case Some(p) =>
              val embCol2 = conf.get("embedding-column")
                .map(_.toString).getOrElse("embedding")
              val embId2 = conf.get("embedding-id-column")
                .map(_.toString).getOrElse("vec_id")
              spark.read.parquet(p)
                .select(col(embId2).as("__qid"), col(embCol2).as("__qv"))
            case None =>
              val (_, vectors) =
                graft.sinks.Swap.open(spark, s"$indexDir/vectors")
              spark.read.parquet(vectors.toString)
                .filter(col("id").isin(qids: _*))
                .select(col("id").as("__qid"), col("vec").as("__qv"))
          }
          slots.put(slotName,
            IncrementalAnn.searchTopK(spark, queries, "__qv", "__qid",
              indexDir, k = k, nProbe = nProbe)
              .select(col("qid").cast("long").as("query_id"),
                col("nid").cast("long").as("doc_id"),
                col("rank").as("rnk")))
          df
        })
      case "fuse" =>
        // RRF fusion of named ranking slots — REPLACES the flow with
        // (query_id, rnk, doc_id, score); the expensive candidate
        // generation already happened inside the retrieve stages, so
        // this fuses O(queries × k) relations only
        val inputs = cols("inputs")
        require(inputs.size >= 2,
          "fuse: need at least two input slots (inputs = [\"lex\", ...])")
        val k = num("k", 10).toInt
        val c = num("c", 60).toInt
        Stage("fuse", _ => Fusion.rrfTopK(inputs.map(slots.get), k, c),
          replacesFlow = true)
      case "hard-negatives" =>
        // docs the semantic ranker surfaces that the lexical one does
        // NOT — semantically close, lexically unmatched: the training
        // pairs a retrieval model learns most from. REPLACES the flow
        // with (query_id, doc_id, sem_rank); pure anti-join of two
        // already-top-k slots.
        val semName = conf.get("semantic").map(_.toString).getOrElse("sem")
        val lexName = conf.get("lexical").map(_.toString).getOrElse("lex")
        Stage("hard-negatives", _ => {
          val sem = slots.get(semName)
          val lex = slots.get(lexName)
          sem.select(col("query_id"), col("doc_id"),
              col("rnk").as("sem_rank"))
            .join(lex.select(col("query_id"), col("doc_id")),
              Seq("query_id", "doc_id"), "left_anti")
        }, replacesFlow = true)
      case "split" =>
        val train = num("train", 80).toInt
        val valid = num("valid", 10).toInt
        val test = num("test", 10).toInt
        require(train + valid + test == 100,
          s"split fractions must total 100, got $train/$valid/$test")
        Stage("split", df => {
          val b = TextFunctions.hashBucket(col(idCol), 100)
          df.withColumn("split",
            when(b < train, "train")
              .when(b < train + valid, "valid").otherwise("test"))
        }, streamable = true)
      case other => sys.error(
        s"unknown curation stage type '$other' — a silently skipped " +
          "stage would corrupt the corpus; fix the config")
    }
  }

  /** Chain `stages` over `corpus`, attaching one `observe()` counter
    * per stage boundary. Returns the final frame plus the
    * observations; their funnel counts become available after the
    * caller's ONE action (e.g. the output write). */
  def assemble(corpus: DataFrame, stages: Seq[Stage])
      : (DataFrame, Seq[(String, Observation)]) = {
    val obs0 = new Observation("stage_00_input")
    var df = corpus.observe(obs0, count(lit(1)).as("n"))
    val observations = Seq.newBuilder[(String, Observation)]
    // funnel keys = the stages' unique indexed names: a stage
    // type appearing twice (two quality-filters at different
    // thresholds) must not collapse into one JSON key downstream
    observations += ("stage_00_input" -> obs0)
    stages.zipWithIndex.foreach { case (s, i) =>
      if (s.replacesFlow) {
        // the stage is about to DISCARD the corpus flow (its output
        // is a new relation built from ranking slots): execute the
        // flow once so every observation attached so far completes —
        // without this a funnel reader blocks forever. Must be a
        // DATASET action (count goes through SQLExecution, firing the
        // CollectMetrics listeners; a raw toRdd.foreach would not).
        // One extra corpus pass, only in hybrid-retrieval pipelines
        // (replacing stages are batch-only, so an assembly-time
        // action is safe here, unlike in the streamable stages).
        df.count()
      }
      df = s.apply(df)
      val name = f"stage_${i + 1}%02d_${s.name}"
      val ob = new Observation(name)
      df = df.observe(ob, count(lit(1)).as("n"))
      observations += (name -> ob)
    }
    (df, observations.result())
  }

  /** Stream-path funnel assembly: the SAME stage chain, but the
    * intermediate frames are captured for EXPLICIT counting after
    * the batch's output write instead of `observe()` instrumentation.
    *
    * Why not observe() here like the batch path: inside one
    * streaming query's foreachBatch, stage-internal actions (the
    * index-backed dedups materialize their lookups) can execute a
    * plan that carries a later stage's CollectMetrics node without
    * reporting physical metrics for it — Spark's ObservationManager
    * then completes that Observation with Row.empty (its
    * optimized-away fallback), and the funnel read dies with
    * `key not found: n`. Found by the round-11 sf1 soak on the first
    * multi-micro-batch run; regression-pinned by
    * CurationMultiBatchSpec. Explicit counts re-execute only the
    * row-local filter segments (the index stages return MATERIALIZED
    * frames), so the cost is a couple of extra scans of one
    * micro-batch — and the numbers are the same deterministic counts
    * the observe() form reports in batch mode. */
  def assembleStaged(corpus: DataFrame, stages: Seq[Stage])
      : (DataFrame, Seq[(String, DataFrame)]) = {
    var df = corpus
    val taps = Seq.newBuilder[(String, DataFrame)]
    taps += ("stage_00_input" -> df)
    stages.zipWithIndex.foreach { case (s, i) =>
      df = s.apply(df)
      taps += (f"stage_${i + 1}%02d_${s.name}" -> df)
    }
    (df, taps.result())
  }
}
