package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One benchmark run in its own JVM; `run.py` builds the harness,
  * launches this main and turns its result file into the benchmark's
  * output line.
  *
  * {{{
  * graft.bench.Main --workload cdc_upsert --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --out <result.json> [--data <parquet dir>] \
  *   [--gen-seconds a,b,c]
  * }}}
  */
object Main {
  val Workloads = Seq("cdc_upsert", "query_mix")

  def parse(argv: Array[String]): RunArgs = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.mkString(", ")})")
    RunArgs(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("data"),
      m.get("gen-seconds").toSeq.flatMap(_.split(",").map(_.toDouble)),
      Paths.get(need("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val loadStart = Harness.loadAverage
    val spark = Harness.session(args.work)
    // JVM start to a ready session: the program's own start-up cost
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val res = new Result
    val ok = try {
      args.workload match {
        case "cdc_upsert" => CdcUpsert.run(spark, args, res, sessionS)
        case "query_mix" => QueryMix.run(spark, args, res, sessionS)
      }
      true
    } catch { case e: Throwable =>
      e.printStackTrace()
      res.fail(s"run aborted: $e")
      false
    }
    res.details("fingerprint") = Harness.fingerprint(spark, loadStart)
    def metricMap(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val out = Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "completed" -> ok,
      "attempted" -> res.attempted, "failed" -> res.failed, "errors" -> res.errors.toSeq,
      "metrics" -> metricMap(res.metrics), "layers" -> metricMap(res.layers),
      "details" -> res.details.toMap)
    Files.write(args.out, Json.write(out).getBytes(UTF_8))
    if (res.spans.nonEmpty) {
      val lines = res.spans.map(Json.write).mkString("", "\n", "\n")
      Files.write(Paths.get(args.out.toString.stripSuffix(".json") + ".spans.jsonl"),
        lines.getBytes(UTF_8))
    }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
