package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Compactor

/** Chunked snapshot interleaved with a live change stream — the
  * watermark-window backfill of Netflix's DBLog paper (Andreakis &
  * Papapanagiotou, "DBLog: A Watermark Based Change-Data-Capture
  * Framework", 2019) and Debezium's incremental-snapshot feature.
  *
  * The reference starts replication at the current position and never
  * backfills (`inputs/mysql/mysql_position.go:37-54`), and a plain
  * snapshot backfill has to stop the world. This operator does not:
  * the table is read in PK-ordered chunks WHILE the change stream
  * keeps flowing, and correctness is restored per chunk by the DBLog
  * window rule —
  *
  *   record stream position L (low watermark), read the chunk,
  *   record position H (high watermark); any key of the chunk that
  *   has a change event with L < seq ≤ H is ambiguous (the chunk read
  *   ran concurrently with the change), so the SNAPSHOT row is
  *   dropped and the change event — which carries the full row image
  *   and a higher seq — is the version that reaches the sink.
  *
  * Keys untouched during the window keep their snapshot row; keys
  * changed after H win at the sink anyway because every sink in this
  * engine arbitrates by seq (snapshot rows carry seq = -1, below any
  * live event). The net invariant, pinned by ChunkedSnapshotSpec:
  * final sink state equals the compaction of the full history, no
  * matter how chunk reads and stream progress interleave.
  *
  * 100 TB shape: each chunk reconciliation is one anti-join of a
  * bounded chunk against the bounded window slice of the stream —
  * both sides are small by construction (chunk rows × window
  * events), and chunks are independent: with a seq-arbitrated
  * idempotent sink they can run in PARALLEL (the sequential
  * chunk-at-a-time loop of the paper is only needed when the sink
  * replays events blindly). The batch simulation below therefore
  * reconciles ALL chunks in one distributed anti-join keyed on the
  * PK with a per-chunk residual range predicate — one shuffle of the
  * snapshot plus one of the window events, no driver loop over
  * chunks.
  */
object ChunkedSnapshot {

  /** Fixed-width PK-range chunk assignment (`pk div width` — exact
    * integral division, no double rounding at any pk magnitude).
    * Deterministic and computable on both engines — in production the
    * chunk boundaries come from the paced chunk reader; any
    * monotone-in-pk assignment satisfies the reconciliation rule. */
  def chunkId(pk: Column, width: Long): Column =
    call_function("div", pk, lit(width))

  /** Batch simulation of a FULL interleaved backfill over a recorded
    * changelog, used both by the oracle-checked query and by the
    * convergence spec.
    *
    * Chunk c's low watermark is `L_c = startSeq + c*seqPerChunk` and
    * its high watermark `H_c = L_c + seqPerChunk`: the stream advances
    * `seqPerChunk` positions during each chunk read. A real chunk read
    * happens AT its low watermark, so the chunk reflects every change
    * with seq ≤ L_c and only events inside (L_c, H_c] are ambiguous —
    * the simulation reproduces that by compacting each key's history
    * up to ITS chunk's L_c (one filter + one hash aggregate: L_c is a
    * function of the key, so no per-chunk pass).
    *
    * @param changelog  the change stream (must contain `keys`, `seqCol`)
    * @param keys       primary-key columns
    * @param seqCol     monotone sequence column (binlog position)
    * @param startSeq   stream position when the backfill starts (= L_0)
    * @param chunkWidth PK-range width per chunk
    * @param seqPerChunk stream progress per chunk read
    * @param opCol      optional op column: keys whose compacted state
    *                   at L_c is `deleteOp` have no row in the table —
    *                   the chunk read returns nothing for them
    *
    * Returns the surviving snapshot rows with their `chunk_id` — the
    * rows the backfill emits with seq = -1; everything else reaches
    * the sink through the live stream.
    */
  def backfillSimulated(changelog: DataFrame, keys: Seq[String],
      seqCol: String, startSeq: Long, chunkWidth: Long,
      seqPerChunk: Long, opCol: Option[String] = None,
      deleteOp: String = "delete"): DataFrame = {
    require(keys.size == 1, "simulation chunks on a single numeric pk")
    val pk = keys.head
    // clamp the chunk index at 0: a NEGATIVE index would put winLo
    // BELOW startSeq, and events in (winLo, startSeq] would fall in
    // neither the snapshot nor the window — silently stale output for
    // negative pks (integral `div` truncates toward zero, so pk=-1
    // at width 4 is chunk 0 anyway; pk=-10 floors into chunk 0's
    // window too, which is a valid — just unpaced — read schedule)
    val cid = greatest(lit(0L), chunkId(col(pk), chunkWidth))
    val winLo = lit(startSeq) + cid * lit(seqPerChunk)
    // State the chunk reader observes at its low watermark: last event
    // per key with seq ≤ L_chunk(key). Hash aggregate, no window sort.
    val read = Compactor.lastEventPerKeyAgg(keys, seqCol)(
      changelog.filter(col(seqCol) <= winLo))
    val present = opCol.fold(read)(oc => read.filter(col(oc) =!= deleteOp))
    val snap = present.withColumn("chunk_id",
      greatest(lit(0L), chunkId(col(pk), chunkWidth)))
    // All chunks reconcile in ONE anti-join: key equality plus the
    // per-chunk residual window predicate on the event seq. The
    // static `> startSeq` bound subsumes every window's low edge and
    // pushes to the scan (the per-chunk bound is join-side residual).
    val live = changelog.filter(col(seqCol) > startSeq)
      .select(col(pk).as("__k"), col(seqCol).as("__seq"))
    val lo = lit(startSeq) + snap("chunk_id") * lit(seqPerChunk)
    snap.join(live,
      snap(pk) === live("__k") &&
        live("__seq") > lo && live("__seq") <= lo + lit(seqPerChunk),
      "left_anti")
  }

  /** Final sink state after an interleaved backfill: surviving
    * snapshot rows (seq = -1) unioned with the live tail, arbitrated
    * by seq per key — the apply step every seq-aware sink in this
    * engine performs. The spec asserts this equals plain compaction
    * of the whole history. */
  def applyToSink(backfillRows: DataFrame, liveTail: DataFrame,
      keys: Seq[String], seqCol: String): DataFrame = {
    val cols = backfillRows.columns.filterNot(_ == "chunk_id")
    val snapSide = backfillRows.select(cols.map(col): _*)
      .withColumn("__arb", lit(-1L))
    val liveSide = liveTail.select(cols.map(col): _*)
      .withColumn("__arb", col(seqCol))
    Compactor.lastEventPerKeyAgg(keys, "__arb")(snapSide.unionByName(liveSide))
      .drop("__arb")
  }
}
