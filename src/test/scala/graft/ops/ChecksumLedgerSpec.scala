package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ChecksumLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def chDf(rows: Seq[(String, Long, String, Long, Long, String, Long)]) =
    rows.toDF("op", "a_pk", "a_s", "a_v", "b_pk", "b_s", "b_v")

  private def deltas(rows: Seq[(String, Long, String, Long, Long, String, Long)]) =
    TableChecksum.incrementalChecksums(chDf(rows), col("op"),
      col("a_pk"), Seq(col("a_pk"), col("a_s"), col("a_v")),
      col("b_pk"), Seq(col("b_pk"), col("b_s"), col("b_v")), 10L)

  private val b0 = Seq(
    ("insert", 1L, "a", 10L, 0L, null.asInstanceOf[String], 0L),
    ("insert", 12L, "c", 30L, 0L, null.asInstanceOf[String], 0L))
  private val b1 = Seq(
    ("update", 1L, "a2", 11L, 1L, "a", 10L),
    ("insert", 25L, "e", 50L, 0L, null.asInstanceOf[String], 0L))
  private val b2 = Seq(
    ("delete", 0L, null.asInstanceOf[String], 0L, 12L, "c", 30L))

  // final state after b0+b1+b2: 1->(a2,11), 25->(e,50)
  private def finalChecksums = TableChecksum.chunkChecksums(
    Seq((1L, "a2", 11L), (25L, "e", 50L)).toDF("pk", "s", "v"),
    col("pk"), Seq(col("pk"), col("s"), col("v")), 10L)
    .select(col("chunk"), col("n_rows"), col("checksum"))

  private def cur(dir: String) =
    ChecksumLedger.current(spark, dir).orderBy($"chunk")
      .as[(Long, Long, BigDecimal)].collect().toSeq

  test("recorded deltas accumulate to the final state's checksums; " +
    "verify returns empty on a faithful target") {
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(b0), dir, 0L)
    ChecksumLedger.record(spark, deltas(b1), dir, 1L)
    ChecksumLedger.record(spark, deltas(b2), dir, 2L)
    val fresh = finalChecksums.orderBy($"chunk")
      .as[(Long, Long, BigDecimal)].collect().toSeq
    assert(cur(dir) == fresh)
    assert(ChecksumLedger.verify(spark, dir, finalChecksums).count() == 0)
    // a tampered target chunk surfaces in the verdict
    val tampered = finalChecksums.withColumn("checksum",
      when($"chunk" === 0L, $"checksum" + 1).otherwise($"checksum"))
    val bad = ChecksumLedger.verify(spark, dir, tampered)
      .select($"chunk", $"status").as[(Long, String)].collect().toSeq
    assert(bad == Seq((0L, "checksum")))
  }

  test("a replayed batch overwrites its own partition — no double count") {
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(b0), dir, 0L)
    val once = cur(dir)
    ChecksumLedger.record(spark, deltas(b0), dir, 0L) // at-least-once replay
    assert(cur(dir) == once)
  }

  test("compact preserves current, no-ops folded replays, accepts new " +
    "batches") {
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(b0), dir, 0L)
    ChecksumLedger.record(spark, deltas(b1), dir, 1L)
    val before = cur(dir)
    ChecksumLedger.compact(spark, dir)
    assert(cur(dir) == before)
    // ledger is now one row per surviving chunk (+ the marker)
    assert(spark.read.parquet(dir).groupBy($"chunk").count()
      .filter($"count" > 1).count() == 0)
    // a replay of an already-FOLDED batch must be a no-op
    ChecksumLedger.record(spark, deltas(b1), dir, 1L)
    assert(cur(dir) == before)
    // a genuinely new batch still lands
    ChecksumLedger.record(spark, deltas(b2), dir, 2L)
    val fresh = finalChecksums.orderBy($"chunk")
      .as[(Long, Long, BigDecimal)].collect().toSeq
    assert(cur(dir) == fresh)
  }

  test("interrupted compaction swap recovers from .old") {
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(b0), dir, 0L)
    val before = cur(dir)
    // simulate a crash between stage-out and swap-in
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val hfs = p.getFileSystem(conf)
    require(hfs.rename(p, new org.apache.hadoop.fs.Path(p.getParent, ".aside-l")))
    ChecksumLedger.compact(spark, dir)
    assert(cur(dir) == before)
  }

  test("a torn compaction swap: current keeps its pre-compaction value, " +
      "and the next record + compact keeps the history") {
    import graft.sinks.{Swap, SwapFaults}
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(b0), dir, 0L)
    val before = cur(dir)
    intercept[SwapFaults.Injected] {
      SwapFaults.failing(Swap.MoveAside, _ == dir)(
        ChecksumLedger.compact(spark, dir))
    }
    assert(!Files.exists(java.nio.file.Paths.get(dir)), "the fault tore the swap")
    assert(cur(dir) == before)
    ChecksumLedger.record(spark, deltas(b1), dir, 1L)
    ChecksumLedger.compact(spark, dir)
    val clean = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(b0), clean, 0L)
    ChecksumLedger.record(spark, deltas(b1), clean, 1L)
    assert(cur(dir) == cur(clean))
  }

  test("current on an absent ledger is empty; fully-cancelled chunks drop") {
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/none"
    assert(ChecksumLedger.current(spark, dir).count() == 0)
    val d = Files.createTempDirectory("cksum-ledger").toString + "/l"
    ChecksumLedger.record(spark, deltas(Seq(
      ("insert", 1L, "a", 10L, 0L, null.asInstanceOf[String], 0L))), d, 0L)
    ChecksumLedger.record(spark, deltas(Seq(
      ("delete", 0L, null.asInstanceOf[String], 0L, 1L, "a", 10L))), d, 1L)
    assert(ChecksumLedger.current(spark, d).count() == 0)
  }

  test("maintain() runs the deltas into the ledger from a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("cksum-ledger").toString + "/l"
    val ckp = Files.createTempDirectory("cksum-ledger").toString + "/ckp"
    val mem = MemoryStream[(String, Long, String, Long, Long, String, Long)]
    mem.addData(b0: _*)
    mem.addData(b1: _*)
    mem.addData(b2: _*)
    val ch = mem.toDF().toDF("op", "a_pk", "a_s", "a_v", "b_pk", "b_s",
      "b_v")
    val q = ChecksumLedger.maintain(ch, dir, ckp, b =>
      TableChecksum.incrementalChecksums(b, col("op"),
        col("a_pk"), Seq(col("a_pk"), col("a_s"), col("a_v")),
        col("b_pk"), Seq(col("b_pk"), col("b_s"), col("b_v")), 10L))
    q.processAllAvailable()
    q.stop()
    val fresh = finalChecksums.orderBy($"chunk")
      .as[(Long, Long, BigDecimal)].collect().toSeq
    assert(cur(dir) == fresh)
    assert(ChecksumLedger.verify(spark, dir, finalChecksums).count() == 0)
  }

}
