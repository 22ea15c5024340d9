package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class LakeLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def events = graft.Tables
    .loadEventsNs(spark, "/root/testdata/sf0.001") // ts → Long ns, any encoding
    .withColumn("day", (col("ts") / lit(86400000000000L)).cast("long"))

  test("partitioned write: filtered read opens ONLY the matching directory") {
    val dir = Files.createTempDirectory("lake-prune").toString
    LakeLayout.write(events, dir, partCols = Seq("day"),
      sortCols = Seq("user_id"))
    val days = events.select("day").distinct().as[Long].collect().sorted
    assert(days.length > 1, "need multiple partitions for a pruning test")

    val q = spark.read.parquet(dir).filter(col("day") === days.head)
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value == 1,
      s"pruned scan must open 1 file, got ${scan.metrics("numFiles").value}")

    val full = spark.read.parquet(dir)
    full.collect()
    val fullScan = full.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(fullScan.metrics("numFiles").value == days.length.toLong)
  }

  test("sort clustering + maxRecordsPerFile: per-file key ranges disjoint") {
    val dir = Files.createTempDirectory("lake-sort").toString
    // single partition value so all rows sort into one task's run,
    // split into ~4 consecutive files
    LakeLayout.write(events.withColumn("day", lit(0L)), dir,
      partCols = Seq("day"), sortCols = Seq("user_id"),
      maxRecordsPerFile = 300L)
    val files = Files.walk(java.nio.file.Paths.get(dir)).iterator()
    val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(files)
      .asScala.filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
    assert(parquets.size >= 3, s"expected >=3 split files, got $parquets")
    // each file is internally sorted and file ranges do not overlap —
    // exactly the property parquet row-group/file min-max skipping needs
    val ranges = parquets.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("user_id"), max("user_id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"file ranges overlap: $ranges")
      case _ =>
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // the read-side payoff of hive partitioning when the filter
    // arrives through a JOIN instead of a literal predicate: Spark
    // evaluates the filtered dim side first and injects its day set
    // into the fact scan's partition filters (DPP)
    val dir = Files.createTempDirectory("lake-dpp").toString
    LakeLayout.write(events, dir, partCols = Seq("day"),
      sortCols = Seq("user_id"))
    val days = events.select("day").distinct().as[Long].collect().sorted
    assert(days.length > 1)
    // the dim must be SCAN-backed (a LocalRelation never triggers
    // DPP's broadcast-reuse subquery) and its key typed exactly like
    // the partition column — both facts worth pinning
    val dimDir = Files.createTempDirectory("lake-dpp-dim").toString + "/dim"
    days.map(d => (d, s"tag$d")).toSeq.toDF("day", "tag")
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
      .filter(col("tag") === s"tag${days.head}")
    // size-based benefit estimation vetoes DPP at toy scale (the
    // whole fact fits one partition's budget) — disable stats so the
    // ratio heuristic applies, as it would at real fact sizes
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val fact = spark.read.parquet(dir)
    val joined = fact.join(dim, Seq("day"))
    try joined.collect()
    finally spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "fact scan must carry a dynamic pruning partition filter:\n" + plan)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves)
    }
    val factScan = leaves(joined.queryExecution.executedPlan)
      .filter(_.metrics.contains("numFiles"))
    assert(factScan.exists(_.metrics("numFiles").value == 1),
      s"DPP should leave 1 of ${days.length} partition files: " +
        factScan.map(_.metrics("numFiles").value).mkString(","))
  }

  test("zValue interleaves bits in Morton order") {
    // x=3 (0b11), y=1 (0b01), 2 bits: positions x->0,2 y->1,3
    // => 0b0111 = 7
    val r = spark.range(1)
      .select(LakeLayout.zValue(Seq(lit(3L), lit(1L)), bits = 2).as("z"))
      .as[Long].collect()(0)
    assert(r == 7L)
    // range filter on either dimension bounds the z-value: all points
    // with x < 2 (bit1 of x clear) have z < 8 here
    val zs = spark.range(16).select(
        (col("id") % 4).as("x"), (col("id") / 4).cast("long").as("y"))
      .select(col("x"), col("y"),
        LakeLayout.zValue(Seq(col("x"), col("y")), bits = 2).as("z"))
      .collect()
    assert(zs.map(_.getLong(2)).distinct.length == 16, "z is a bijection")
    zs.filter(r => r.getLong(0) < 2 && r.getLong(1) < 2)
      .foreach(r => assert(r.getLong(2) < 4,
        s"quadrant (x<2,y<2) must fill z 0..3: $r"))
  }

  test("compact recovers a crash between the two swap moves") {
    val dir = Files.createTempDirectory("lake-recover").toString + "/t"
    LakeLayout.write(events, dir, partCols = Seq("day"),
      sortCols = Seq("user_id"))
    val n = spark.read.parquet(dir).count()
    // simulate the crash window: table moved aside, replacement never
    // moved in
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir).resolveSibling(".aside-t"))
    LakeLayout.compact(spark, dir, partCols = Seq("day"),
      sortCols = Seq("user_id"))
    assert(spark.read.parquet(dir).count() == n,
      "recovery must restore the moved-aside table before compacting")
    assert(!Files.exists(java.nio.file.Paths.get(dir).resolveSibling(".aside-t")))
  }

  test("an append after a torn compact lands beside the pre-swap rows") {
    val dir = Files.createTempDirectory("lake-torn").toString + "/t"
    def rows(ids: Long*) = ids.map(i => (i, i % 2)).toDF("id", "day")
    LakeLayout.write(rows(1L, 2L), dir, partCols = Seq("day"),
      sortCols = Seq("id"))
    intercept[SwapFaults.Injected] {
      SwapFaults.failing(Swap.MoveAside, _ == dir)(LakeLayout.compact(
        spark, dir, partCols = Seq("day"), sortCols = Seq("id")))
    }
    assert(!Files.exists(java.nio.file.Paths.get(dir)), "the fault tore the swap")
    LakeLayout.write(rows(3L), dir, partCols = Seq("day"),
      sortCols = Seq("id"), mode = "append")
    LakeLayout.compact(spark, dir, partCols = Seq("day"), sortCols = Seq("id"))
    assert(spark.read.parquet(dir).select($"id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
    assert(!Files.exists(java.nio.file.Paths.get(dir).resolveSibling(".aside-t")))
  }

  test("compact merges a fragmented layout, preserving data and clustering") {
    val dir = Files.createTempDirectory("lake-compact").toString
    // fragment the way a streaming sink does: one append per
    // micro-batch -> one file per partition per batch
    LakeLayout.write(events.filter(col("event_id") % 3 === 0), dir,
      partCols = Seq("day"), sortCols = Seq("user_id"))
    LakeLayout.write(events.filter(col("event_id") % 3 === 1), dir,
      partCols = Seq("day"), sortCols = Seq("user_id"), mode = "append")
    LakeLayout.write(events.filter(col("event_id") % 3 === 2), dir,
      partCols = Seq("day"), sortCols = Seq("user_id"), mode = "append")
    def parquetFiles(): Seq[String] = {
      val it = Files.walk(java.nio.file.Paths.get(dir)).iterator()
      scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    }
    val before = parquetFiles().size
    val expected = events.orderBy("event_id").collect()

    LakeLayout.compact(spark, dir, partCols = Seq("day"),
      sortCols = Seq("user_id"))
    val after = parquetFiles().size
    assert(after < before, s"compaction must shrink files: $before -> $after")
    val days = events.select("day").distinct().count()
    assert(after == days.toLong, "one file per partition after compaction")
    assert(spark.read.parquet(dir).drop("day").columns.sorted.toSeq ==
      events.drop("day").columns.sorted.toSeq)
    val got = spark.read.parquet(dir)
      .select(expected.headOption.map(_ => events.columns).get
        .map(col).toIndexedSeq: _*)
      .orderBy("event_id").collect()
    assert(got.map(_.getLong(0)).toSeq == expected.map(_.getLong(0)).toSeq)
    assert(got.length == expected.length)
    val live = java.nio.file.Paths.get(dir)
    assert(!Files.exists(live.resolveSibling(s".aside-${live.getFileName}")),
      "swap must clean up the move-aside dir")
  }
}
