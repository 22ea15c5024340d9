package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("novel docs pass, history filters, replay is a no-op") {
    val idx = Files.createTempDirectory("inc-dedup").toString + "/index"

    val b1 = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
      .toDF("doc_id", "text")
    val a1 = IncrementalDedup.acceptNovel(spark, b1, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    // within-batch dedup: doc 3 duplicates doc 1
    assert(a1 == Seq(1L, 2L))

    // second batch: one historical dup, one new doc
    val b2 = Seq((10L, "beta text"), (11L, "gamma text"))
      .toDF("doc_id", "text")
    val a2 = IncrementalDedup.acceptNovel(spark, b2, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().toSeq
    assert(a2 == Seq(11L))

    // replaying batch 2 yields nothing (replay-stable output)
    val a3 = IncrementalDedup.acceptNovel(spark, b2, "text", "doc_id", idx)
    assert(a3.count() == 0)

    // index holds exactly the accepted fingerprints
    assert(spark.read.parquet(idx).select($"keep_id").as[Long]
      .collect().toSet == Set(1L, 2L, 11L))
  }

  test("bucket-count mismatch fails loudly; empty first batch is safe") {
    val idx = Files.createTempDirectory("inc-guard").toString + "/index"
    // empty first batch: index dir gets created but holds no parquet —
    // later calls must read it as empty, not crash on schema inference
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(IncrementalDedup.acceptNovel(spark, empty, "text", "doc_id", idx)
      .count() == 0)
    val b = Seq((1L, "doc a")).toDF("doc_id", "text")
    assert(IncrementalDedup.acceptNovel(spark, b, "text", "doc_id", idx)
      .count() == 1)
    // a different nBuckets would hash fps elsewhere and silently
    // disable dedup — must be rejected
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.novel(spark, b, "text", "doc_id", idx, nBuckets = 128)
        .count()
    }
    assert(e.getMessage.contains("nBuckets"))
  }

  test("null-text docs fingerprint as empty string (replay-stable)") {
    val idx = Files.createTempDirectory("inc-null").toString + "/index"
    val b = Seq((5L, null.asInstanceOf[String]), (6L, ""))
      .toDF("doc_id", "text")
    // null and "" are mutual duplicates: one winner
    assert(IncrementalDedup.acceptNovel(spark, b, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().toSeq == Seq(5L))
    // replay returns nothing (a null fp would never equal itself and
    // re-accept forever)
    assert(IncrementalDedup.acceptNovel(spark, b, "text", "doc_id", idx)
      .count() == 0)
  }

  test("membership check prunes the index scan to touched buckets") {
    val idx = Files.createTempDirectory("inc-prune").toString + "/index"
    // seed an index spread over many buckets
    val seed = (0 until 200).map(i => (i.toLong, s"doc number $i"))
      .toDF("doc_id", "text")
    IncrementalDedup.acceptNovel(spark, seed, "text", "doc_id", idx)
    val totalFiles = spark.read.parquet(idx).inputFiles.length

    // a one-doc batch touches ONE bucket: the index scan must read
    // only that partition dir
    // materialize=false keeps the membership plan inspectable (the
    // default checkpoints the result, which would hide the scan)
    val one = Seq((999L, "a brand new doc")).toDF("doc_id", "text")
    val q = IncrementalDedup.novel(spark, one, "text", "doc_id", idx,
      materialize = false)
    q.collect()
    // descend through AQE wrappers: scans live inside query stages
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves)
    }
    val scans = leaves(q.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val idxScanFiles = scans.map(_.metrics("numFiles").value).max
    assert(idxScanFiles < totalFiles,
      s"expected bucket pruning: read $idxScanFiles of $totalFiles files")
  }

  // texts from DedupSpec's minhash test: near (one word changed, so
  // exact fps differ but LSH bands collide), and one unrelated
  private val near1 = "the quick brown fox jumps over the lazy dog again and again"
  private val near2 = "the quick brown fox jumps over the lazy cat again and again"
  private val other = "completely different content about spark query engines here now"

  test("near-dup index: cross-batch near-copies drop, unrelated docs pass") {
    val idx = Files.createTempDirectory("inc-near").toString + "/index"
    val b1 = Seq((1L, near1)).toDF("doc_id", "text")
    assert(IncrementalDedup.acceptNovelNearDup(spark, b1, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().toSeq == Seq(1L))
    // batch 2: a NEAR copy (different exact fingerprint!) + unrelated
    val b2 = Seq((10L, near2), (11L, other)).toDF("doc_id", "text")
    val a2 = IncrementalDedup.acceptNovelNearDup(spark, b2, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().toSeq
    assert(a2 == Seq(11L),
      s"near copy must match the band index, unrelated must pass: $a2")
  }

  test("near-dup index: within-batch group resolves to min-id keeper; replay is a no-op") {
    val idx = Files.createTempDirectory("inc-near2").toString + "/index"
    val b = Seq((7L, near2), (3L, near1), (9L, other)).toDF("doc_id", "text")
    val a = IncrementalDedup.acceptNovelNearDup(spark, b, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(3L, 9L), s"keeper 3 absorbs 7; 9 unrelated: $a")
    // replay: every doc — keeper, absorbed member, unrelated — must
    // match its OWN indexed bands and come back non-novel
    val replay = IncrementalDedup.acceptNovelNearDup(spark, b, "text", "doc_id", idx)
    assert(replay.count() == 0)
    // provenance: absorbed member's band rows carry the keeper id
    val keepIds = spark.read.parquet(idx)
      .select($"keep_id").as[Long].collect().toSet
    assert(keepIds == Set(3L, 9L), s"keep_id must be the group keeper: $keepIds")
  }

  test("near-dup index dedups a STREAM across micro-batches (foreachBatch)") {
    // the continuous-ingestion deployment shape: each micro-batch
    // checks against everything ever accepted — state lives in the
    // parquet index, not in streaming state, so it survives restarts
    // and is shared by any number of queries
    val idx = Files.createTempDirectory("inc-near-stream").toString + "/index"
    implicit val ctx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        accepted ++= IncrementalDedup
          .acceptNovelNearDup(spark, df, "text", "doc_id", idx)
          .select(col("doc_id")).collect().map(_.getLong(0))
        ()
      }
      .start()
    try {
      in.addData((1L, near1))
      q.processAllAvailable()
      in.addData((10L, near2), (11L, other)) // near-copy of batch 1 + novel
      q.processAllAvailable()
      in.addData((20L, near1)) // exact replay of an old doc
      q.processAllAvailable()
    } finally q.stop()
    assert(accepted.sorted == Seq(1L, 11L),
      s"cross-micro-batch near-dups must drop: $accepted")
  }

  test("a torn compactIndex swap: a replayed indexed batch gives 0 novel " +
      "docs, also after the next append and compaction") {
    import graft.sinks.{Swap, SwapFaults}
    val idx = Files.createTempDirectory("inc-torn").toString + "/index"
    def tearCompaction(): Unit = {
      intercept[SwapFaults.Injected] {
        SwapFaults.failing(Swap.MoveAside, _ == idx)(
          IncrementalDedup.compactIndex(spark, idx))
      }
      assert(!Files.exists(java.nio.file.Paths.get(idx)), "the fault tore the swap")
    }
    def novel(df: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.novel(spark, df, "text", "doc_id", idx).count()
    val b1 = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    assert(IncrementalDedup.acceptNovel(spark, b1, "text", "doc_id", idx)
      .count() == 2)
    tearCompaction()
    assert(novel(b1) == 0)
    val b2 = Seq((3L, "gamma text")).toDF("doc_id", "text")
    assert(IncrementalDedup.acceptNovel(spark, b2, "text", "doc_id", idx)
      .count() == 1)
    IncrementalDedup.compactIndex(spark, idx)
    assert(novel(b1) == 0 && novel(b2) == 0)
    // stamping a layout identity is an open too
    tearCompaction()
    IncrementalDedup.checkOrWriteIdentityMarker(spark, idx, "_graft_neartok",
      "tokenizer=word")
    assert(novel(b1) == 0 && novel(b2) == 0)
    assert(!Files.exists(java.nio.file.Paths.get(idx).resolveSibling(".aside-index")))
  }

  test("compactIndex collapses replay duplicates, keeps membership and pruning") {
    val idx = Files.createTempDirectory("inc-compact").toString + "/index"
    val b1 = Seq((1L, near1), (2L, other)).toDF("doc_id", "text")
    assert(IncrementalDedup
      .acceptNovelNearDup(spark, b1, "text", "doc_id", idx).count() == 2)
    // simulate at-least-once replays re-appending the same band rows
    val (_, bands) = IncrementalDedup
      .novelNearDup(spark, b1, "text", "doc_id", idx)
    // novelNearDup on an indexed batch yields no survivors — rebuild
    // the original rows by re-reading the index itself and appending
    val raw = spark.read.parquet(idx)
    raw.write.mode("append").partitionBy("bucket")
      .parquet(idx) // duplicate every row once
    val before = spark.read.parquet(idx).count()
    assert(bands.count() == 0 && before > 0 && before % 2 == 0)

    IncrementalDedup.compactIndex(spark, idx)
    val after = spark.read.parquet(idx).count()
    assert(after == before / 2, s"expected $before/2 rows, got $after")
    // membership survives: replaying batch 1 still yields zero novel,
    // a near-copy still drops, a new doc still passes
    assert(IncrementalDedup
      .acceptNovelNearDup(spark, b1, "text", "doc_id", idx).count() == 0)
    val b2 = Seq((10L, near2), (11L, "fresh words never seen anywhere here"))
      .toDF("doc_id", "text")
    val a2 = IncrementalDedup
      .acceptNovelNearDup(spark, b2, "text", "doc_id", idx)
      .select($"doc_id").as[Long].collect().toSeq
    assert(a2 == Seq(11L), s"near-copy must still drop after compaction: $a2")
    // the bucket marker and partitioned layout survive the swap
    val markerPath = java.nio.file.Paths.get(idx, "_graft_buckets")
    assert(java.nio.file.Files.exists(markerPath))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      .iterator().asScala.exists(_.getFileName.toString.startsWith("bucket=")))
  }

  test("crash after index append, before checkpoint commit: replay neither double-indexes nor re-admits") {
    // The deployment ordering is output-write → index append →
    // checkpoint commit (the curation CLI's deferred-append
    // contract). The WORST crash point is after the append and
    // before the commit: on restart the batch replays against an
    // index that already contains its own bands. Recovery contract
    // pinned here: the replay admits nothing (output lands exactly
    // once), appends nothing (the index does not grow), and the
    // restarted query keeps deduping later batches correctly.
    val dir = Files.createTempDirectory("inc-near-crash").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    implicit val ctx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    @volatile var crashOnce = true
    def start() = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val (novel, bands) = IncrementalDedup
          .novelNearDup(spark, df, "text", "doc_id", idx)
        val n = novel.localCheckpoint()
        val b = bands.localCheckpoint()
        n.select(col("doc_id")).write.mode("append").parquet(out)
        IncrementalDedup.appendBandRows(spark, b, idx)
        if (crashOnce) {
          crashOnce = false
          sys.error("simulated crash: index appended, checkpoint not committed")
        }
        ()
      }
      .start()
    def outIds: Seq[Long] = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val q1 = start()
    in.addData((1L, near1), (2L, other))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    // the crash landed AFTER both writes: output and index hold
    // batch 0, but the streaming commit log does not
    val idxAfterCrash = spark.read.parquet(idx).count()
    assert(idxAfterCrash > 0L && outIds == Seq(1L, 2L))
    val q2 = start()
    try {
      q2.processAllAvailable() // batch 0 REPLAYS from the checkpoint
      assert(outIds == Seq(1L, 2L),
        s"replay must not re-admit batch-0 docs: $outIds")
      assert(spark.read.parquet(idx).count() == idxAfterCrash,
        "replay must not append duplicate band rows")
      // the recovered index still filters: near-copy drops, new passes
      in.addData((10L, near2),
        (11L, "brand new corpus content entirely unrelated to the rest"))
      q2.processAllAvailable()
      assert(outIds == Seq(1L, 2L, 11L), s"post-recovery dedup broken: $outIds")
    } finally q2.stop()
  }
}
