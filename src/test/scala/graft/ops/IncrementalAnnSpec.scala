package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  // 24 vectors spread over 4 directions, ids 0..23; ids < 16 seed
  // the centroids (kmeansRefine's deterministic seeding)
  private def corpus(n: Int = 24, offset: Long = 0L) =
    (0 until n).map { i =>
      val base = i % 4 match {
        case 0 => Array(1.0f, 0.0f)
        case 1 => Array(0.0f, 1.0f)
        case 2 => Array(-1.0f, 0.0f)
        case _ => Array(0.0f, -1.0f)
      }
      (i.toLong + offset,
        Array(base(0) + 0.01f * i, base(1) + 0.005f * i))
    }.toDF("vec_id", "embedding")

  private def newDir() =
    Files.createTempDirectory("ivf-idx").toString + "/idx"

  test("index search ≡ ivfTopKMultiProbe on the same corpus/centroids") {
    val dir = newDir()
    val c = corpus()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", dir,
      nCells = 4, rounds = 1)
    val got = IncrementalAnn.searchTopK(spark,
      c.filter($"vec_id" < 6), "embedding", "vec_id", dir,
      k = 3, nProbe = 2)
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    val cents = spark.read.parquet(s"$dir/centroids")
    val exp = Similarity.ivfTopKMultiProbe(c, "embedding", "vec_id",
      queryPred = col("vec_id") < 6, k = 3, nCells = 4, nProbe = 2,
      centroids = Some(cents))
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(got == exp)
  }

  test("appendBatch assigns against STORED centroids; vectors findable") {
    val dir = newDir()
    IncrementalAnn.create(spark, corpus(), "embedding", "vec_id", dir,
      nCells = 4)
    val batch = corpus(n = 8, offset = 100L)
    val assigned = IncrementalAnn.appendBatch(spark, batch, "embedding",
      "vec_id", dir)
    // assignments equal a cellAssign against the stored centroids
    val exp = Similarity.cellAssign(batch, "embedding", "vec_id", 4,
      centroids = Some(spark.read.parquet(s"$dir/centroids")))
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    val gotAssign = assigned.select($"id", $"cell").as[(Long, Long)]
      .collect().toMap
    assert(gotAssign == exp)
    // an appended vector's own neighborhood now includes it
    val res = IncrementalAnn.searchTopK(spark,
      batch.filter($"vec_id" === 100L), "embedding", "vec_id", dir,
      k = 5, nProbe = 1).select($"nid").as[Long].collect().toSet
    assert(res.nonEmpty)
    assert(!res.contains(100L), "self-pair must be excluded")
  }

  test("search reads only the probed cells' partitions (pruning)") {
    val dir = newDir()
    IncrementalAnn.create(spark, corpus(n = 32), "embedding", "vec_id",
      dir, nCells = 4)
    val totalFiles = spark.read.parquet(s"$dir/vectors").inputFiles.length
    val q = IncrementalAnn.searchTopK(spark,
      corpus().filter($"vec_id" === 0L), "embedding", "vec_id", dir,
      k = 2, nProbe = 1)
    q.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves)
    }
    val vecScans = leaves(q.queryExecution.executedPlan)
      .filter(_.tableIdentifier.isEmpty)
      .map(_.metrics("numFiles").value)
    assert(vecScans.nonEmpty)
    assert(vecScans.max < totalFiles,
      s"expected cell pruning: read ${vecScans.max} of $totalFiles files")
  }

  test("staleness ≈ 1 when fresh; drifted cell reports lower cosine") {
    val dir = newDir()
    IncrementalAnn.create(spark, corpus(), "embedding", "vec_id", dir,
      nCells = 4)
    val fresh = IncrementalAnn.staleness(spark, dir)
      .select($"cell", $"centroid_mean_cos").as[(Long, Double)]
      .collect().toMap
    assert(fresh.values.forall(_ > 0.95), s"fresh index drifted? $fresh")
    // flood one direction with vectors rotated well away from it
    val drift = (0 until 40).map(i =>
      (1000L + i, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    IncrementalAnn.appendBatch(spark, drift, "embedding", "vec_id", dir)
    val after = IncrementalAnn.staleness(spark, dir)
      .select($"cell", $"centroid_mean_cos").as[(Long, Double)]
      .collect().toMap
    assert(after.values.min < fresh.values.min,
      s"drift must lower some cell's cosine: $fresh -> $after")
  }

  test("create() is the retune action: re-creating with a different " +
      "nCells rewrites the whole index, marker included") {
    val dir = newDir()
    val c = corpus()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", dir, nCells = 4)
    // retune: 4 → 2 cells must succeed and leave a coherent layout
    IncrementalAnn.create(spark, c, "embedding", "vec_id", dir, nCells = 2)
    assert(spark.read.parquet(s"$dir/centroids").count() == 2)
    assert(spark.read.parquet(s"$dir/vectors")
      .select($"cell").distinct().count() <= 2)
    // consumers see the new geometry
    val got = IncrementalAnn.searchTopK(spark, c.filter($"vec_id" < 2),
      "embedding", "vec_id", dir, k = 2, nProbe = 1)
    assert(got.count() > 0)
  }

  test("a failed create leaves NO marker — consumers refuse the " +
      "half-built index instead of treating it as valid-but-empty") {
    val dir = newDir()
    // provoke a mid-create failure after dir creation but before any
    // data lands: a corpus whose vector column has the wrong type
    val bad = Seq((1L, "not-a-vector")).toDF("vec_id", "embedding")
    intercept[Throwable] {
      IncrementalAnn.create(spark, bad, "embedding", "vec_id", dir,
        nCells = 2)
    }
    // refusal can surface as the missing-marker require OR a
    // missing-centroids read error depending on where create died —
    // both are loud; what must NOT happen is a silent empty search
    val e = intercept[Throwable] {
      IncrementalAnn.searchTopK(spark, corpus(), "embedding", "vec_id",
        dir, k = 1).collect()
    }
    assert(e.getMessage.contains("_graft_cells") ||
      e.getMessage.toLowerCase.contains("path does not exist") ||
      e.getMessage.contains("PATH_NOT_FOUND"),
      s"expected a loud refusal, got: ${e.getMessage.take(200)}")
  }

  test("compact dedupes a replayed append: each neighbor once, results " +
      "identical to a never-replayed index, layout preserved") {
    val dir = newDir()
    val c = corpus()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", dir, nCells = 4)
    val batch = corpus(n = 8, offset = 100L)
    IncrementalAnn.appendBatch(spark, batch, "embedding", "vec_id", dir)
    // at-least-once replay: the SAME batch lands again
    IncrementalAnn.appendBatch(spark, batch, "embedding", "vec_id", dir)
    val queries = c.filter($"vec_id" < 4)
    def results() = IncrementalAnn
      .searchTopK(spark, queries, "embedding", "vec_id", dir,
        k = 5, nProbe = 2)
      .select($"qid", $"rank", $"nid").as[(Long, Int, Long)]
      .collect().toSet
    val dup = results()
    // uncompacted: replayed ids CAN appear twice in one query's list
    val dupCounts = dup.groupBy(r => (r._1, r._3)).values.map(_.size)
    assert(dupCounts.exists(_ > 1),
      "replay should surface duplicate neighbors before compaction " +
        s"(got per-(qid,nid) multiplicities ${dupCounts.toSet})")
    IncrementalAnn.compact(spark, dir)
    val got = results()
    assert(got.groupBy(r => (r._1, r._3)).values.forall(_.size == 1),
      s"duplicate neighbor after compact: $got")
    // reference: the same data appended exactly once
    val refDir = newDir()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", refDir,
      nCells = 4)
    IncrementalAnn.appendBatch(spark, batch, "embedding", "vec_id", refDir)
    val ref = IncrementalAnn
      .searchTopK(spark, queries, "embedding", "vec_id", refDir,
        k = 5, nProbe = 2)
      .select($"qid", $"rank", $"nid").as[(Long, Int, Long)]
      .collect().toSet
    assert(got == ref, s"compacted results diverge: $got vs $ref")
    // layout: still cell-partitioned (pruning intact) + marker intact
    val vecPath = new java.io.File(s"$dir/vectors")
    assert(vecPath.listFiles().exists(_.getName.startsWith("cell=")),
      "compact lost the cell partitioning")
    assert(new java.io.File(s"$dir/_graft_cells").exists())
    // row economics: one row per (id, cell)
    val n = spark.read.parquet(s"$dir/vectors").count()
    assert(n == 24 + 8, s"expected 32 unique rows, got $n")
  }

  test("a torn compact swap recovers on the next open: search returns " +
      "the pre-compaction answer") {
    import graft.sinks.{Swap, SwapFaults}
    val dir = newDir()
    val c = corpus()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", dir, nCells = 4)
    val batch = corpus(n = 8, offset = 100L)
    IncrementalAnn.appendBatch(spark, batch, "embedding", "vec_id", dir)
    IncrementalAnn.appendBatch(spark, batch, "embedding", "vec_id", dir)
    def results() = IncrementalAnn
      .searchTopK(spark, c.filter($"vec_id" < 4), "embedding", "vec_id",
        dir, k = 5, nProbe = 2)
      .select($"qid", $"rank", $"nid").as[(Long, Int, Long)]
      .collect().toSet
    val before = results()
    intercept[SwapFaults.Injected] {
      SwapFaults.failing(Swap.MoveAside, _ == s"$dir/vectors")(
        IncrementalAnn.compact(spark, dir))
    }
    assert(!new java.io.File(s"$dir/vectors").exists(), "the fault tore the swap")
    assert(results() == before)
    assert(!new java.io.File(s"$dir/.aside-vectors").exists())
    IncrementalAnn.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == 24 + 8)
  }

  test("the CLI maintenance entry dispatches on the layout marker: " +
      "ann vs dedup index, one command") {
    // ANN layout → IncrementalAnn.compact
    val annDir = newDir()
    val c = corpus()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", annDir,
      nCells = 4)
    val b = corpus(n = 4, offset = 50L)
    IncrementalAnn.appendBatch(spark, b, "embedding", "vec_id", annDir)
    IncrementalAnn.appendBatch(spark, b, "embedding", "vec_id", annDir)
    assert(graft.CurateMain.compactAnyIndex(spark, annDir) == "ann")
    assert(spark.read.parquet(s"$annDir/vectors").count() == 28)
    // dedup layout → IncrementalDedup.compactIndex
    import spark.implicits._
    val dedupDir = newDir()
    val batch = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val novel = IncrementalDedup.novel(spark, batch, "text", "doc_id",
      dedupDir)
    IncrementalDedup.appendFpRows(spark,
      novel.select($"fp", $"bucket", $"doc_id".as("keep_id")), dedupDir)
    IncrementalDedup.appendFpRows(spark,
      novel.select($"fp", $"bucket", $"doc_id".as("keep_id")), dedupDir)
    assert(graft.CurateMain.compactAnyIndex(spark, dedupDir) == "dedup")
    assert(spark.read.parquet(dedupDir).count() == 2)
  }

  test("compact on a never-replayed index is a semantic no-op") {
    val dir = newDir()
    val c = corpus()
    IncrementalAnn.create(spark, c, "embedding", "vec_id", dir, nCells = 4)
    val before = IncrementalAnn.searchTopK(spark, c.filter($"vec_id" < 3),
      "embedding", "vec_id", dir, k = 3, nProbe = 2)
      .select($"qid", $"rank", $"nid").as[(Long, Int, Long)]
      .collect().toSet
    IncrementalAnn.compact(spark, dir)
    val after = IncrementalAnn.searchTopK(spark, c.filter($"vec_id" < 3),
      "embedding", "vec_id", dir, k = 3, nProbe = 2)
      .select($"qid", $"rank", $"nid").as[(Long, Int, Long)]
      .collect().toSet
    assert(before == after)
  }

  test("appendBatch against a mismatched caller assumption still fails " +
      "loudly via the stored marker") {
    val dir = newDir()
    IncrementalAnn.create(spark, corpus(), "embedding", "vec_id", dir,
      nCells = 4)
    // the marker guards CONSUMERS: a probe with the wrong geometry
    // assumption would read wrong cells — readCells returns the
    // stored count, so searches always use the trained geometry
    val stored = spark.read.parquet(s"$dir/centroids").count()
    assert(stored == 4L)
  }
}
