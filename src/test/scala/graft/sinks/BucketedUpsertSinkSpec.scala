package graft.sinks

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.meta.{ColumnDef, TableDef}

class BucketedUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private val target = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("v", "int")))

  private def batch(rows: (Long, Int, String, Long)*) =
    rows.toSeq.toDF("id", "v", "op", "seq")
      .withColumn("pos", org.apache.spark.sql.functions.lit("g"))

  test("upsert/delete merge across batches, bucket layout on disk") {
    val dir = Files.createTempDirectory("bucket-sink").toString
    val sink = new BucketedUpsertSink(dir, buckets = 4)

    sink.write(batch((1L, 10, "insert", 1), (2L, 20, "insert", 2),
      (3L, 30, "insert", 3)), target, 0)
    sink.write(batch((2L, 21, "update", 4), (3L, 0, "delete", 5),
      (4L, 40, "insert", 6)), target, 1)

    val state = sink.read(target).select($"id", $"v")
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(state.toSeq == Seq((1L, 10), (2L, 21), (4L, 40)))

    // bucket dirs exist
    val bucketDirs = Files.list(Paths.get(s"$dir/db1.t1")).iterator()
    assert(bucketDirs.hasNext)
  }

  test("deleting every key in a bucket removes the bucket (no resurrection)") {
    val dir = Files.createTempDirectory("bucket-sink3").toString
    val sink = new BucketedUpsertSink(dir, buckets = 4)
    sink.write(batch((1L, 10, "insert", 1)), target, 0)
    assert(sink.read(target).count() == 1)
    sink.write(batch((1L, 0, "delete", 2)), target, 1)
    // the only populated bucket must be gone from disk (an empty
    // table dir can't be parquet-read, so assert at the fs level)
    val remaining = Files.list(Paths.get(s"$dir/db1.t1")).iterator()
    var bucketDirs = 0
    remaining.forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("bucket=")) bucketDirs += 1)
    assert(bucketDirs == 0, "deleted row resurrected in a bucket dir")
  }

  test("pk-less table is rejected loudly") {
    val dir = Files.createTempDirectory("bucket-sink4").toString
    val sink = new BucketedUpsertSink(dir, buckets = 4)
    val noPk = graft.meta.TableDef("db1", "nopk",
      Seq(graft.meta.ColumnDef("x", "int")))
    intercept[IllegalArgumentException] {
      sink.write(batch((1L, 1, "insert", 1)), noPk, 0)
    }
  }

  test("interrupted swap recovers: aside dir restored on next write") {
    val dir = Files.createTempDirectory("bucket-sink5").toString
    val sink = new BucketedUpsertSink(dir, buckets = 4)
    sink.write(batch((1L, 10, "insert", 1)), target, 0)
    // simulate a crash mid-swap: bucket dir moved aside, not replaced
    val tdir = Paths.get(s"$dir/db1.t1")
    val bucket = Files.list(tdir).iterator()
    var bname: String = null
    bucket.forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("bucket=")) bname = p.getFileName.toString)
    Files.move(Paths.get(s"$dir/db1.t1/$bname"),
      Paths.get(s"$dir/db1.t1/.aside-$bname"))
    // next write (different key) must restore the aside bucket first
    sink.write(batch((2L, 20, "insert", 2)), target, 1)
    val state = sink.read(target).select($"id", $"v")
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(state.toSeq == Seq((1L, 10), (2L, 20)),
      "pre-crash state must survive an interrupted swap")
  }

  test("a fault after a bucket's move-aside, then the replayed write, " +
      "equals a one-shot write") {
    val b0 = batch((1L, 10, "insert", 1), (2L, 20, "insert", 2),
      (3L, 30, "insert", 3))
    val b1 = batch((2L, 21, "update", 4), (3L, 0, "delete", 5),
      (4L, 40, "insert", 6))
    def state(sink: BucketedUpsertSink) = sink.read(target)
      .select($"id", $"v").as[(Long, Int)].collect().sortBy(_._1).toSeq
    val dir = Files.createTempDirectory("bucket-sink-torn").toString
    val sink = new BucketedUpsertSink(dir, buckets = 4)
    sink.write(b0, target, 0)
    intercept[SwapFaults.Injected] {
      SwapFaults.failing(Swap.MoveAside,
        _.startsWith(s"$dir/db1.t1/bucket="))(sink.write(b1, target, 1))
    }
    // an open recovers the pre-batch state
    assert(state(sink) == Seq((1L, 10), (2L, 20), (3L, 30)))
    sink.write(b1, target, 1) // at-least-once replay
    val oneShot = new BucketedUpsertSink(
      Files.createTempDirectory("bucket-sink-clean").toString, buckets = 4)
    oneShot.write(b0, target, 0)
    oneShot.write(b1, target, 1)
    assert(state(sink) == state(oneShot))
    assert(state(sink) == Seq((1L, 10), (2L, 21), (4L, 40)))
    val names = Files.list(Paths.get(dir, "db1.t1")).iterator()
    names.forEachRemaining(p =>
      assert(!p.getFileName.toString.startsWith("."), s"leftover $p"))
  }

  test("untouched buckets are not rewritten") {
    val dir = Files.createTempDirectory("bucket-sink2").toString
    val sink = new BucketedUpsertSink(dir, buckets = 16)
    // spread keys across many buckets
    sink.write(batch((1 to 50).map(i =>
      (i.toLong, i, "insert", i.toLong)): _*), target, 0)
    val mtimes = Files.list(Paths.get(s"$dir/db1.t1")).iterator()
    val before = new java.util.HashMap[String, Long]()
    mtimes.forEachRemaining(p =>
      before.put(p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
    Thread.sleep(1100)
    // single-key batch: only key 1's bucket should change
    sink.write(batch((1L, 99, "update", 100)), target, 1)
    var changed = 0
    Files.list(Paths.get(s"$dir/db1.t1")).iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.startsWith("bucket=") &&
        Files.getLastModifiedTime(p).toMillis != before.get(n)) changed += 1
    }
    assert(changed <= 2, s"expected ~1 touched bucket dir, got $changed")
    val v = sink.read(target).filter($"id" === 1).select($"v").as[Int].head()
    assert(v == 99)
  }

  test("through the pipeline, several events per key in one batch equal " +
      "the seq-order oracle into an absent and an existing target, and a " +
      "replay leaves the same state") {
    import MergeCases.{drive, oracle, prior}
    Seq("absent" -> Nil, "existing" -> prior).foreach { case (what, before) =>
      val sink = new BucketedUpsertSink(
        Files.createTempDirectory(s"bucket-sink-merge-$what").toString,
        buckets = 4)
      if (before.nonEmpty) drive(spark, before, sink, 0)
      val want = oracle(before ++ MergeCases.batch)
      drive(spark, MergeCases.batch, sink, 1)
      assert(MergeCases.state(sink.read(MergeCases.target)) == want, what)
      drive(spark, MergeCases.batch, sink, 1) // at-least-once replay
      assert(MergeCases.state(sink.read(MergeCases.target)) == want,
        s"$what, replayed")
    }
  }
}
