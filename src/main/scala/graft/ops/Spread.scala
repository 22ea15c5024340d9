package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan widening (optimization guide §2.5: one
  * unsplittable input → repartition immediately after the read).
  *
  * The gate-scale parquet inputs are single row-groups, so every
  * corpus featurize otherwise runs as ONE task regardless of core
  * count. Widening was measured as a LOSS earlier in r14 (entry 5:
  * 32-way concurrent evaluation thrashed memory bandwidth) — that
  * verdict INVERTED once the generator double-evaluation was
  * removed (entry 11): post-fix, `model_lm_trigram_by_lang` runs
  * 3.5-6.6 s at width 1, 1.1-1.5 s at width 8-16, ~2 s at 32.
  *
  * Width = HALF the session's slots: these train+score queries run
  * concurrent jobs (the model-table broadcast builds overlap the
  * scoring stage), so reserving headroom measures faster than
  * saturating, and the sweep's optimum (8-16 of 32) sits there.
  *
  * Scale-adaptive by construction, not a local constant: the widen
  * fires only when the scan's estimated split count is BELOW the
  * target, so a real multi-partition input (any cluster-scale
  * dataset) passes through untouched and nothing ever COALESCES.
  * The round-robin exchange moves the corpus once at gate scale
  * (~30 MB); retry determinism comes from Spark's
  * sortBeforeRepartition default (guide §2.5).
  *
  * Split-count probe (r15): read from the scan's FILE INDEX at
  * analysis time — `df.rdd.getNumPartitions` forced FULL physical
  * planning (then the consumer's action planned again), a measurable
  * double-plan on every sub-second model query (r14 verdict item 5),
  * and under AQE `.rdd` on a plan with exchanges even runs jobs. The
  * estimate mirrors `FilePartition.maxSplitBytes`: parquet files are
  * splittable, so the scan packs ~⌈Σ(len+openCost)/maxSplit⌉ tasks.
  * `auto()` must wrap SCAN frames (projections/filters above the
  * scan are fine); frames without exactly one file-backed relation
  * pass through unwidened — fail-safe, never a new exchange.
  */
object Spread {

  def auto(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = math.max(1,
      spark.sparkContext.defaultParallelism / 2)
    estimatedScanSplits(df) match {
      case Some(splits) if splits < target => df.repartition(target)
      case _ => df
    }
  }

  /** Estimated scan task count of a single-relation frame, from file
    * sizes alone (analysis-only — no physical planning, no jobs).
    * None when the frame is not one unpartitioned, unbucketed
    * file-backed scan: partition pruning shrinks the split size and a
    * bucketed scan plans one task per bucket, so the full-listing
    * estimate could undercount those scans and widen would COALESCE. */
  private def estimatedScanSplits(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }
    rels match {
      case Seq(fs: HadoopFsRelation)
          if fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty =>
        val conf = df.sparkSession.sessionState.conf
        val open = conf.filesOpenCostInBytes
        val maxPB = conf.filesMaxPartitionBytes
        val minPN = conf.filesMinPartitionNum
          .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
        // listing is served from the session's file-index cache —
        // the same listing the scan itself will use
        val sizes = fs.location.listFiles(Nil, Nil)
          .flatMap(_.files.map(_.getLen))
        val totalBytes = sizes.map(_ + open).sum
        val bytesPerCore = totalBytes / math.max(1, minPN)
        val maxSplit = math.max(1L,
          math.min(maxPB, math.max(open, bytesPerCore)))
        // FilePartition.getFilePartitions' exact greedy packing over
        // the per-file slices (splittable parquet): slices sorted
        // desc, close a partition when the next slice would overflow
        // maxSplit, charge openCost per slice added
        val slices = sizes.flatMap { len =>
          if (len <= 0L) Seq(0L)
          else (0L until len by maxSplit).map(o => math.min(maxSplit, len - o))
        }.sortBy(-_)
        var count = 0L
        var cur = 0L
        slices.foreach { s =>
          if (cur + s > maxSplit && cur > 0L) { count += 1; cur = 0L }
          cur += s + open
        }
        if (cur > 0L) count += 1
        Some(math.max(1L, count))
      case _ => None
    }
  }
}
