package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured (≙ the reference
  * building its runtime once, from one config, in `app/server.go`).
  * Every main and the test session start from [[builder]]; callers
  * add only deployment settings (master, app name, UI, output
  * formats).
  */
object Session {

  /** Cores for local masters and shuffle partitions:
    * `SPARK_GRAFT_CPUS`, else every core of the machine. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** SQL conf shared by every graft session. */
  val conf: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts has shipped as TIMESTAMP(NANOS) in past rounds: read
    // that form as Long ns instead of erroring (Tables.normalizeTsNs
    // handles the current timestamp[us] form)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // InferFiltersFromGenerate + filter pushdown re-evaluates the
    // GENERATOR expression inside the scan filter: every
    // explode-based training featurize (char_ngrams_utf8,
    // dsir_feature_buckets, transition pairs) ran twice per row
    // (r14; plan excerpt in OPTIMIZATION_r14.md). The inferred
    // size()>0 filter only saves empty-row Generate machinery
    // here (explodes sit directly on scans), so it is a strict
    // loss at any scale for expensive generators.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> cores.toString)

  /** A builder carrying [[conf]] and nothing else. */
  def builder(): SparkSession.Builder =
    conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** [[builder]] on a local master with the UI off: the session of
    * the measurement, soak and batch mains. */
  def local(master: String = s"local[$cores]"): SparkSession.Builder =
    builder().master(master).config("spark.ui.enabled", "false")
}
