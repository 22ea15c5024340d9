package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

class CdcDrainSpec extends SparkSpec {

  test("fixture log is seq-monotone per shard file and one drain lands " +
    "every event exactly once") {
    val cdc = new CdcDrain(spark, sfDir, shards = 2)
    val files = Files.list(java.nio.file.Paths.get(cdc.logDir)).iterator()
      .asScala.filter(_.toString.endsWith(".jsonl")).toSeq
    assert(files.nonEmpty && files.size <= 2)
    val seq = "\"seq\":(\\d+)".r
    val perFile = files.map { f =>
      Files.readAllLines(f).asScala.toSeq.map(l =>
        seq.findFirstMatchIn(l).get.group(1).toLong)
    }
    perFile.foreach(s => assert(s == s.sorted && s.distinct == s))
    assert(perFile.map(_.size).sum == cdc.rows)
    assert(cdc.rows > 0)

    assert(cdc.drain("t").isDefined)
    val out = spark.read.parquet(s"${cdc.sinkDir("t")}/app.events")
    assert(out.count() == cdc.rows)
    assert(out.select("event_id").distinct().count() == cdc.rows)
  }
}
