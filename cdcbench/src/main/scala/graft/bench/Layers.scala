package graft.bench

/** Per-layer metrics of a traced window. Every traced run reports the
  * same names; a layer the workload does not exercise reads 0. */
object Layers {

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Spark scheduler and executor counters per unit (batch or pass). */
  private def sparkPerUnit(counters: Map[String, SparkCounters#C], units: Seq[String],
      wallMs: Map[String, Double]): Seq[(String, (Double, String))] = {
    def per(f: SparkCounters#C => Double): Seq[Double] = units.map { u =>
      counters.collect { case (tag, c) if tag.startsWith(u + "|") => f(c) }.sum
    }
    val taskMs = per(_.taskMs.toDouble)
    Seq(
      "spark.jobs" -> (med(per(_.jobs.toDouble)), "count"),
      "spark.stages" -> (med(per(_.stages.toDouble)), "count"),
      "spark.tasks" -> (med(per(_.tasks.toDouble)), "count"),
      "spark.task_time_s" -> (med(taskMs) / 1000, "s"),
      "spark.parallelism" -> (med(units.zip(taskMs).map { case (u, t) =>
        t / math.max(1.0, wallMs(u)) }), "ratio"),
      "spark.shuffle_read_bytes" -> (med(per(_.shuffleRead.toDouble)), "bytes"),
      "spark.shuffle_write_bytes" -> (med(per(_.shuffleWrite.toDouble)), "bytes"),
      "spark.gc_s" -> (med(per(_.gcMs.toDouble)) / 1000, "s"),
      "spark.spill_bytes" -> (med(per(_.spill.toDouble)), "bytes"))
  }

  /** Planning phases per unit: those that started inside the unit's
    * span interval (the listener reports them asynchronously). */
  private def planPerUnit(phases: Seq[Phase], spans: Seq[Span], units: Seq[String]) = {
    val intervals = units.map { u =>
      val ss = spans.filter(_.unit == u)
      (ss.map(_.startMs).min, ss.map(s => s.startMs + s.durMs).max)
    }
    def per(name: String) = med(intervals.map { case (from, to) =>
      phases.filter(p => p.name == name && p.startMs >= from && p.startMs <= to)
        .map(_.durMs.toDouble).sum
    })
    Seq(
      "plan.analysis_ms" -> (per("analysis"), "ms"),
      "plan.optimization_ms" -> (per("optimization"), "ms"),
      "plan.planning_ms" -> (per("planning"), "ms"))
  }

  /** Per-batch figures the cut ladder reports besides its spans. */
  final case class LadderBatch(rowsIn: Long, rowsOut: Long, files: Long)

  /** Layers of a traced CDC window. */
  def cdc(traced: Seq[(String, BatchRecord)], spans: Seq[Span],
      counters: Map[String, SparkCounters#C], plans: Seq[Phase],
      ladder: Map[String, LadderBatch], overhead: Double): Seq[(String, (Double, String))] = {
    val units = traced.map(_._1)
    val batches = traced.map(_._2)
    def spanS(name: String) = units.map(u =>
      spans.filter(s => s.unit == u && s.name == name).map(_.durMs).sum / 1000)
    def counter(name: String, f: SparkCounters#C => Long) = units.map(u =>
      counters.get(s"$u|$name").map(f).getOrElse(0L).toDouble)
    def phase(k: String) = med(batches.map(_.phasesMs.getOrElse(k, 0L).toDouble))
    val leaves = Set("sources.decode", "streaming.route_cast", "operators.compact", "sinks.write")
    val attributed = traced.map { case (u, b) =>
      val spanMs = spans.filter(s => s.unit == u && leaves(s.name)).map(_.durMs).sum
      val engineMs = b.phasesMs.collect {
        case (k, v) if k != "addBatch" && k != "triggerExecution" => v.toDouble
      }.sum
      (spanMs + engineMs) / math.max(1.0, b.triggerMs.toDouble)
    }
    val lad = units.flatMap(ladder.get)
    val rows = batches.map(_.rows).sum.toDouble
    Seq(
      "sources.decode_s" -> (med(spanS("sources.decode")), "s"),
      "sources.events_read" -> (med(batches.map(_.rows.toDouble)), "count"),
      "sources.latest_offset_ms" -> (phase("latestOffset"), "ms"),
      "streaming.route_cast_s" -> (med(spanS("streaming.route_cast")), "s"),
      "streaming.query_planning_ms" -> (phase("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> (phase("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> (phase("commitOffsets"), "ms"),
      "streaming.batches" -> (batches.size.toDouble, "count"),
      "operators.compact_s" -> (med(spanS("operators.compact")), "s"),
      "operators.compaction_ratio" -> (lad.map(_.rowsIn).sum.toDouble /
        math.max(1L, lad.map(_.rowsOut).sum), "ratio"),
      "sinks.write_s" -> (med(spanS("sinks.write")), "s"),
      "sinks.existing_rows_read" -> (med(counter("sinks.write", _.inputRecords)), "count"),
      "sinks.bytes_written_per_event" -> (counter("sinks.write", _.outputBytes).sum /
        math.max(1.0, rows), "bytes"),
      "sinks.files_written" -> (med(lad.map(_.files.toDouble)), "count")) ++
      sparkPerUnit(counters, units, traced.map { case (u, b) => u -> b.triggerMs.toDouble }.toMap) ++
      planPerUnit(plans, spans, units) ++
      QueryMix.Queries.map(q => s"queries.${q}_s" -> (0.0, "s")) ++ Seq(
        "trace.overhead_ratio" -> (overhead, "ratio"),
        "trace.attributed_share" -> (med(attributed), "ratio"))
  }

  /** Layers of a traced query-mix window: one unit per pass. */
  def mix(passes: Seq[(String, Double)], spans: Seq[Span],
      counters: Map[String, SparkCounters#C], plans: Seq[Phase],
      overhead: Double): Seq[(String, (Double, String))] = {
    val units = passes.map(_._1)
    val cdcZero = Seq(
      "sources.decode_s" -> "s", "sources.events_read" -> "count",
      "sources.latest_offset_ms" -> "ms",
      "streaming.route_cast_s" -> "s", "streaming.query_planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
      "streaming.batches" -> "count", "operators.compact_s" -> "s",
      "operators.compaction_ratio" -> "ratio", "sinks.write_s" -> "s",
      "sinks.existing_rows_read" -> "count", "sinks.bytes_written_per_event" -> "bytes",
      "sinks.files_written" -> "count").map { case (k, u) => k -> (0.0, u) }
    val attributed = passes.map { case (u, ms) =>
      spans.filter(s => s.unit == u && s.name.startsWith("queries.")).map(_.durMs).sum / ms
    }
    cdcZero ++ sparkPerUnit(counters, units, passes.toMap) ++
      planPerUnit(plans, spans, units) ++
      QueryMix.Queries.map { q =>
        s"queries.${q}_s" -> (med(spans.filter(_.name == s"queries.$q").map(_.durMs / 1000)), "s")
      } ++ Seq(
        "trace.overhead_ratio" -> (overhead, "ratio"),
        "trace.attributed_share" -> (med(attributed), "ratio"))
  }
}
