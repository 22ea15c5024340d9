package graft.functions

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopKLargestSpec extends SparkSpec {
  import spark.implicits._

  test("topk_largest matches sort-desc-take-k, across many partitions") {
    // 3 groups × 500 values spread over 16 partitions: merge path
    // (partial heaps → final heap) must produce the same answer as a
    // global sort
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(1500)(i => (s"g${i % 3}", rnd.nextDouble() * 1000))
      .toDF("g", "v").repartition(16)
    val got = df.groupBy($"g").agg(expr("topk_largest(v, 7)").as("top"))
      .as[(String, Seq[Double])].collect().toMap
    val want = df.as[(String, Double)].collect().groupBy(_._1)
      .map { case (g, vs) =>
        g -> vs.map(_._2).sorted(Ordering[Double].reverse).take(7).toSeq
      }
    assert(got == want)
  }

  test("groups smaller than k return all their values, sorted desc") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0)).toDF("g", "v")
    val got = df.groupBy($"g").agg(expr("topk_largest(v, 5)").as("top"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got == Map("a" -> Seq(3.0, 1.0), "b" -> Seq(2.0)))
  }

  test("nulls are ignored; an all-null group yields an empty array") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("b", None))
      .toDF("g", "v")
    val got = df.groupBy($"g").agg(expr("topk_largest(v, 3)").as("top"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got == Map("a" -> Seq(1.0), "b" -> Seq.empty))
  }

  test("duplicate values survive (top-k is a multiset)") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("a", 1.0)).toDF("g", "v")
    val got = df.groupBy($"g").agg(expr("topk_largest(v, 2)").as("top"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got == Map("a" -> Seq(5.0, 5.0)))
  }

  test("NaN ranks above every value (total order); heap invariant holds") {
    // raw </> on NaN is always false, which used to let a NaN poison
    // the sift and evict values that belong in the top-k; the heap
    // now compares via java.lang.Double.compare (Spark's SQL order:
    // NaN > everything)
    val under = Seq(("a", Double.NaN), ("a", 5.0), ("a", 3.0),
      ("a", 7.0), ("a", 1.0)).toDF("g", "v") // NaN arrives under capacity
    val gotU = under.groupBy($"g").agg(expr("topk_largest(v, 3)").as("top"))
      .as[(String, Seq[Double])].collect().toMap.apply("a")
    assert(gotU.head.isNaN && gotU.tail == Seq(7.0, 5.0), gotU)

    val over = Seq(("a", 5.0), ("a", 7.0), ("a", 3.0),
      ("a", Double.NaN)).toDF("g", "v").coalesce(1) // NaN arrives when full
    val gotO = over.groupBy($"g").agg(expr("topk_largest(v, 2)").as("top"))
      .as[(String, Seq[Double])].collect().toMap.apply("a")
    assert(gotO.head.isNaN && gotO.tail == Seq(7.0), gotO)
  }

  test("k far above the group size: buffer grows lazily, result exact") {
    val df = Seq.tabulate(10)(i => ("a", i.toDouble)).toDF("g", "v")
    val got = df.groupBy($"g").agg(expr("topk_largest(v, 100000)").as("top"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got == Map("a" -> (9 to 0 by -1).map(_.toDouble)))
  }

  test("Heap backing array is bounded by live group size, not k") {
    val h = new graft.functions.TopKLargest.Heap(1000000)
    (1 to 10).foreach(i => h.insert(i.toDouble))
    // 10 live values in a k=1M heap: 8 → 16 slots, never 1M
    assert(h.size == 10 && h.values.length == 16, h.values.length)
  }

  test("non-literal or non-positive k fails loudly") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    assertThrows[Exception] {
      df.groupBy($"g").agg(expr("topk_largest(v, 0)")).collect()
    }
  }

  test("map-side partial aggregation is in the plan (shuffle carries heaps)") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v").repartition(4)
      .groupBy($"g").agg(expr("topk_largest(v, 3)").as("top"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_topk_largest".r.findAllIn(p).nonEmpty, p)
  }

  test("topk_largest runs as a streaming aggregate (update mode)") {
    // the custom TypedImperativeAggregate must compose with
    // Structured Streaming: partial heaps live in the state store and
    // merge across micro-batches exactly as they merge across tasks
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val agg = mem.toDF().toDF("g", "v")
      .groupBy($"g")
      .agg(expr("topk_largest(v, 3)").as("top"))
    val q = agg.writeStream.format("memory").queryName("topk_out")
      .outputMode("update").start()
    mem.addData(("a", 1.0), ("a", 5.0), ("b", 2.0))
    q.processAllAvailable()
    // second batch: the heap state must carry over, not reset
    mem.addData(("a", 9.0), ("a", 3.0), ("a", 0.5), ("b", 7.0))
    q.processAllAvailable(); q.stop()
    // memory sink in update mode appends updated rows; last row per
    // group is the current state
    val rows = spark.table("topk_out").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toSeq)
    val last = rows.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    assert(last == Map("a" -> Seq(9.0, 5.0, 3.0), "b" -> Seq(7.0, 2.0)))
  }
}
