package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Compactor

/** Pins the DBLog watermark-window invariants of ChunkedSnapshot:
  *
  *  1. with a seq-arbitrated sink, interleaved backfill converges to
  *     the compaction of the full history for ANY interleaving of
  *     chunk reads and stream progress (randomized histories with
  *     deletes);
  *  2. with a BLIND-REPLAY sink (events applied in arrival order, no
  *     arbitration — the StreamLoad/Kafka shape), the window rule is
  *     load-bearing: reconciled backfill converges where the
  *     unreconciled one provably resurrects stale rows.
  */
class ChunkedSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("user_id", "seq", "op", "v")

  private def changelog(rows: Seq[(Long, Long, String, Double)]): DataFrame =
    rows.toDF(cols: _*)

  /** Ground truth: final table state = last event per key over the
    * whole history, deleted keys absent. */
  private def finalState(rows: Seq[(Long, Long, String, Double)]): Map[Long, Double] =
    rows.groupBy(_._1).flatMap { case (k, evs) =>
      val last = evs.maxBy(_._2)
      if (last._3 == "delete") None else Some(k -> last._4)
    }

  test("arbitrated sink: backfill + live tail == full-history compaction, randomized") {
    val rnd = new scala.util.Random(42)
    // negative pks included: their chunk index clamps to 0, so the
    // window math can never open a gap below startSeq
    val keys = -5L until 5L
    val rows = rnd.shuffle((0L until 200L).toList).zipWithIndex.map {
      case (seq, i) =>
        val k = keys(rnd.nextInt(keys.length))
        val op = if (rnd.nextInt(10) == 0) "delete"
                 else if (rnd.nextInt(3) == 0) "insert" else "update"
        (k, seq, op, rnd.nextInt(1000).toDouble)
    }
    val df = changelog(rows)
    for ((startSeq, width, d) <- Seq((50L, 3L, 7L), (0L, 4L, 25L),
        (120L, 2L, 1L), (199L, 16L, 10L))) {
      val backfill = ChunkedSnapshot.backfillSimulated(df, Seq("user_id"),
        "seq", startSeq, width, d, opCol = Some("op"))
      val live = df.filter(col("seq") > startSeq)
      val got = ChunkedSnapshot.applyToSink(backfill, live, Seq("user_id"), "seq")
        .filter(col("op") =!= "delete")
        .select("user_id", "v").as[(Long, Double)].collect().toMap
      assert(got == finalState(rows),
        s"diverged for startSeq=$startSeq width=$width d=$d")
    }
  }

  /** Blind replay: apply items strictly in emission order — live event
    * at position seq, chunk c's snapshot rows at position H_c + 0.5
    * (right after the high watermark). Later writes win; deletes
    * remove the key. */
  private def blindReplay(backfill: Seq[(Long, Long, String, Double, Long)],
      live: Seq[(Long, Long, String, Double)], startSeq: Long,
      d: Long): Map[Long, Double] = {
    val items =
      live.map(e => (e._2.toDouble, e._1, e._3, e._4)) ++
        backfill.map { case (k, _, op, v, chunk) =>
          ((startSeq + (chunk + 1) * d).toDouble + 0.5, k, "insert", v)
        }
    val state = scala.collection.mutable.Map[Long, Double]()
    items.sortBy(_._1).foreach { case (_, k, op, v) =>
      if (op == "delete") state.remove(k) else state(k) = v
    }
    state.toMap
  }

  private def collectBackfill(bf: DataFrame): Seq[(Long, Long, String, Double, Long)] =
    bf.select("user_id", "seq", "op", "v", "chunk_id")
      .as[(Long, Long, String, Double, Long)].collect().toSeq

  test("blind-replay sink: the window rule is load-bearing") {
    // key 0 (chunk 0, width 4): insert v=1 at seq 1, update v=99 at
    // seq 5. The backfill starts at seq 2 → L_0=2, H_0=12. The chunk read
    // sees v=1; seq-5 lands INSIDE (2,12], so the row is ambiguous.
    val rows = Seq((0L, 1L, "insert", 1.0), (0L, 5L, "update", 99.0))
    val df = changelog(rows)
    val startSeq = 2L
    val reconciled = collectBackfill(ChunkedSnapshot.backfillSimulated(
      df, Seq("user_id"), "seq", startSeq, 4L, 10L, opCol = Some("op")))
    assert(reconciled.isEmpty, "ambiguous row must be dropped")
    val live = rows.filter(_._2 > startSeq)
    assert(blindReplay(reconciled, live, startSeq, 10L) == Map(0L -> 99.0))

    // WITHOUT the window rule the stale chunk row replays after the
    // update and resurrects v=1 — the divergence DBLog exists to stop.
    val unreconciled = reconciled ++ Seq((0L, 1L, "insert", 1.0, 0L))
    assert(blindReplay(unreconciled, live, startSeq, 10L) == Map(0L -> 1.0))
  }

  test("blind-replay sink: reconciliation stops deleted-key resurrection") {
    // key 4 deleted during its chunk window; an unreconciled snapshot
    // row would re-create the key after the delete replays.
    val rows = Seq((4L, 1L, "insert", 7.0), (4L, 6L, "delete", 0.0))
    val df = changelog(rows)
    val bf = collectBackfill(ChunkedSnapshot.backfillSimulated(
      df, Seq("user_id"), "seq", 2L, 8L, 10L, opCol = Some("op")))
    assert(bf.isEmpty)
    val live = rows.filter(_._2 > 2L)
    assert(blindReplay(bf, live, 2L, 10L) == Map.empty)
    val stale = Seq((4L, 1L, "insert", 7.0, 0L))
    assert(blindReplay(stale, live, 2L, 10L) == Map(4L -> 7.0))
  }

  test("blind-replay sink: randomized reconciled backfill converges") {
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((0L until 120L).toList).map { seq =>
      val k = rnd.nextInt(8).toLong
      val op = if (rnd.nextInt(8) == 0) "delete" else "update"
      (k, seq, op, rnd.nextInt(500).toDouble)
    }
    val df = changelog(rows)
    for ((startSeq, width, d) <- Seq((30L, 2L, 15L), (0L, 3L, 40L),
        (60L, 1L, 9L))) {
      val bf = collectBackfill(ChunkedSnapshot.backfillSimulated(
        df, Seq("user_id"), "seq", startSeq, width, d, opCol = Some("op")))
      val live = rows.filter(_._2 > startSeq).sortBy(_._2)
      assert(blindReplay(bf, live, startSeq, d) == finalState(rows),
        s"blind replay diverged for startSeq=$startSeq width=$width d=$d")
    }
  }

  test("key created after its chunk was read arrives via the stream only") {
    // key 9's first event is far beyond its chunk's high watermark:
    // no snapshot row, the live event alone creates it.
    val rows = Seq((9L, 100L, "insert", 5.0))
    val bf = ChunkedSnapshot.backfillSimulated(changelog(rows),
      Seq("user_id"), "seq", 0L, 4L, 10L, opCol = Some("op"))
    assert(bf.count() == 0)
    val got = ChunkedSnapshot.applyToSink(bf,
      changelog(rows), Seq("user_id"), "seq")
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    assert(got == Map(9L -> 5.0))
  }
}
