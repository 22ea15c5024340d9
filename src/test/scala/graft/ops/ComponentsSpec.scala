package graft.ops

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("components labels every vertex with the min reachable id") {
    // chain 1-2-3, pair 5-6, chain 8-9-10 (edges given in mixed order)
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L), (9L, 10L), (8L, 9L))
      .toDF("a", "b")
    val out = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      8L -> 8L, 9L -> 8L, 10L -> 8L))
  }

  test("long chain needs diameter rounds and still converges") {
    // path 0-1-2-…-12: worst case for propagation (diameter 12)
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect()
    assert(out.length == 13 && out.forall(_._2 == 0L))
  }

  test("maxIter exceeded fails loudly (partial labels are wrong groups)") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(pairs, "a", "b", maxIter = 2)
    }
    assert(e.getMessage.contains("not converged"))
    // a bound that admits convergence still succeeds on the same graph
    val ok = Components.connectedComponents(pairs, "a", "b", maxIter = 15)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(0L))
  }

  test("group stats count members per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val stats = Components.groupStats(
      Components.connectedComponents(pairs, "a", "b"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(stats == Seq(1L -> 3L, 5L -> 2L))
  }

  test("duplicate and reversed input edges do not change the result") {
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star variant matches min-label propagation on a random graph") {
    // deterministic pseudo-random edges (seeded — no Math.random in
    // tests either): ~60 edges over 40 vertices, mixed components
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val minLabel = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val star = Components.connectedComponentsStar(pairs, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(star == minLabel)
  }

  test("r15 batched star rounds ≡ min-label across seeds, densities " +
    "and odd/even convergence counts") {
    // each round is one large-star + small-star pass, one checkpoint
    // and one convergence probe; the star forest of component minima
    // is the unique fixpoint, so no round count changes a label —
    // pinned against min-label propagation over graph shapes that
    // converge after odd AND even round counts (sparse chains ∪ dense
    // blobs ∪ isolated loops)
    for (seed <- Seq(1, 7, 13, 29); n <- Seq(17, 40)) {
      val rnd = new scala.util.Random(seed)
      val dense = Seq.fill(3 * n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val chain = (100L until 100L + 9L).map(i => (i, i + 1))
      val loops = Seq((500L, 500L), (501L, 502L))
      val pairs = (dense ++ chain ++ loops).toDF("a", "b")
      val minLabel = Components.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val star = Components.connectedComponentsStar(pairs, "a", "b")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(star == minLabel, s"seed=$seed n=$n")
    }
  }

  test("star: maxIter=1 converges when one round already yields a " +
    "star forest") {
    // a 2-vertex edge is a star forest after one round, and the
    // round's own probe detects it, so the loop must converge within
    // its single allowed round, not throw
    val pairs = Seq((7L, 3L)).toDF("a", "b")
    val out = Components.connectedComponentsStar(pairs, "a", "b",
      maxIter = 1).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(3L -> 3L, 7L -> 3L))
  }

  test("star variant converges on a chain far beyond min-label's rounds") {
    // path 0-1-…-64: diameter 64. Min-label at maxIter=20 must fail;
    // large/small-star collapses it in O(log n) rounds.
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Components.connectedComponents(pairs, "a", "b", maxIter = 20)
    }
    val out = Components.connectedComponentsStar(pairs, "a", "b", maxIter = 12)
      .as[(Long, Long)].collect()
    assert(out.length == 65 && out.forall(_._2 == 0L))
  }

  test("empty candidate set: both variants return empty labels, no error") {
    // a corpus with no near-dups produces zero pairs — the resolve
    // stage must converge immediately (sum over an empty frame is
    // SQL NULL; this used to NPE in the convergence probe)
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(pairs, "a", "b").count() == 0)
    assert(Components.connectedComponentsStar(pairs, "a", "b").count() == 0)
  }

  test("star variant: self-loops and duplicates are inert") {
    // vertex 9 appears ONLY as a self-loop: it must still be labeled
    // (with itself), exactly as the min-label variant labels it —
    // the drop-in contract includes isolated self-paired vertices
    val pairs = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (5L, 6L),
      (9L, 9L)).toDF("a", "b")
    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L)
    val star = Components.connectedComponentsStar(pairs, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(star == expected)
    val minLabel = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(minLabel == expected)
  }
}
