package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.meta.{ColumnDef, TableDef}
import graft.operators.{Compactor, Transforms}
import graft.sinks.Formats

/** Batch-verifiable versions of the reference's CDC dataflow
  * operators (SURVEY §2), exercised over the `events` table so the
  * DuckDB oracle can check them. The same `DataFrame => DataFrame`
  * combinators run inside the streaming pipeline (graft.streaming).
  *
  * `events.ts` is normalized to Long epoch-nanoseconds at load
  * (Tables.loadEventsNs): the driver's parquet encoding for it has
  * changed across rounds (int64-nanos, then timestamp[us]), and
  * integer-ns math is exact on both engines, which makes every time
  * comparison oracle-stable regardless of the on-disk type.
  */
object CdcQueries {
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.loadEventsNs(s, dir)

  /** Per-500-key chunk checksums of `orders` (source) and a drifted
    * replica (keys % 7919 missing, prices % 997 off by +1.00) —
    * shared by cdc_table_checksum (chunk-level diff) and
    * cdc_checksum_rollup (Merkle parent-level diff). */
  private def orderChecksumSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val src = Tables.load(s, dir, "orders")
    val tgt = src
      .filter(pmod(col("o_orderkey"), lit(7919L)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(997L)) === 0,
          col("o_totalprice") + 1).otherwise(col("o_totalprice")))
    def side(df: DataFrame) = graft.ops.TableChecksum.chunkChecksums(
      df, col("o_orderkey"),
      Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)),
        unix_micros(col("o_orderdate").cast(TimestampType)),
        col("o_orderpriority")),
      chunkSize = 500L)
    (side(src), side(tgt))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ≙ rename-column transform (trans_rename_column.go:62-74)
    "cdc_rename_column" -> ((s, dir) =>
      Transforms.chain(
        Transforms.renameColumn("value" -> "amount", "user_id" -> "uid"))(
        events(s, dir))
        .select(col("event_id"), col("uid"), col("amount"))
        .orderBy(col("event_id"))),

    // ≙ delete-column transform (trans_delete_column.go:37-47)
    "cdc_delete_column" -> ((s, dir) =>
      Transforms.deleteColumn("props", "ts")(events(s, dir))
        .orderBy(col("event_id"))),

    // ≙ table-routing predicate (metas/routers.go:48-60): keep only
    // routed kinds — the filter sits on the scan (pushed to parquet).
    "cdc_route_filter" -> ((s, dir) =>
      Transforms.keepWhere(col("event_type").isin("purchase", "signup"))(
        events(s, dir))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))),

    // dimension enrichment (Transforms.enrich): the lookup join every
    // CDC consumer needs — left join keeps unmatched events (nulls).
    // customer grows with the data -> broadcastDim=false: a hard
    // broadcast hint on a data-proportional frame is the q_above_avg
    // scale-killer; AQE broadcasts while small, shuffles when not
    "cdc_enrich_dim" -> ((s, dir) =>
      Transforms.enrich(
        Tables.load(s, dir, "customer"),
        keys = Seq("user_id" -> "c_custkey"),
        proj = Seq("c_name", "c_nationkey"),
        broadcastDim = false)(events(s, dir))
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_nationkey"))
        .orderBy(col("event_id"))),

    // ≙ drop-if-true transform hook (transforms/transforms.go:63-71)
    "cdc_drop_hook" -> ((s, dir) =>
      Transforms.dropWhere(col("value") < 50.0)(events(s, dir))
        .select(col("event_id"), col("value"))
        .orderBy(col("event_id"))),

    // ≙ positional column mapper (core/meta.go:78-104)
    "cdc_column_mapper" -> ((s, dir) =>
      Transforms.columnMapper(
        Seq("event_id", "user_id", "event_type", "value"),
        Seq("id", "uid", "etype", "amount"))(events(s, dir))
        .orderBy(col("id"))),

    // ≙ _delete_sign_ virtual column (starrocks_utils.go:39-69);
    // 'error' events stand in for deletes.
    "cdc_delete_sign" -> ((s, dir) =>
      events(s, dir)
        .withColumn("_delete_sign_",
          Transforms.deleteSign(col("event_type"), deleteOp = "error"))
        .select(col("event_id"), col("event_type"), col("_delete_sign_"))
        .orderBy(col("event_id"))),

    // ≙ last-event-per-key compaction replacing run-splitting
    // (outputs/mysql/mysql.go:172-202) — window implementation.
    "cdc_compact_window" -> ((s, dir) =>
      Transforms.chain(
        Transforms.deleteColumn("props", "ts"),
        Compactor.lastEventPerKey(Seq("user_id"), col("event_id")))(
        events(s, dir))
        .orderBy(col("user_id"))),

    // same semantics via max_by hash-aggregate (the 100 TB plan: no
    // per-partition sort, map-side partial agg) — same oracle.
    "cdc_compact_agg" -> ((s, dir) =>
      Transforms.chain(
        Transforms.deleteColumn("props", "ts"),
        Compactor.lastEventPerKeyAgg(Seq("user_id"), "event_id"))(
        events(s, dir))
        .orderBy(col("user_id"))),

    // ≙ JSON row serialization for stream-load/Kafka payloads
    // (outputs/starrocks/starrocks_utils.go:39-69, to_json path)
    // NOTE the shape shared by every payload-formatting query below:
    // sort the NARROW source first, build the expensive projection
    // AFTER. orderBy-last charges the projection twice (the range
    // partitioner's sampling pass evaluates the child — serialized
    // payload and all — before the real pass) and ships the payloads
    // through the sort shuffle; projecting after the sort evaluates
    // once and shuffles 3 narrow columns. Projection preserves the
    // range-sorted partition order, so the output rows and order are
    // IDENTICAL (oracle hashes unchanged). Measured 3.4× at sf1.
    "cdc_json_format" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy(col("event_id"))
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"), col("user_id")))
            .as("payload"))),

    // ≙ pk-hash partition assignment (outputs/kafka/kafka.go:161-170)
    // — deterministic modulo form for the oracle; the production
    // partitioner uses xxhash64 (graft.functions.PkHash).
    "cdc_partition_assign" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          pmod(col("user_id"), lit(8)).as("part_id"))
        .orderBy(col("event_id"))),

    // event-time tumbling aggregate (streaming window analog, batch
    // verified): per-hour, per-type counts and value sums.
    "cdc_hourly_rollup" -> ((s, dir) =>
      events(s, dir)
        .withColumn("hr", timestamp_micros(expr("ts div 1000")))
        // TIMESTAMP_NTZ output: DuckDB timestamps are tz-naive; under
        // a UTC session the wall-clock values are identical.
        .groupBy(date_trunc("hour", col("hr")).cast("timestamp_ntz").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          // exact decimal sum, then one DECIMAL→DOUBLE cast: IEEE-nearest
          // in both engines, so the driver hash matches (raw DECIMAL
          // rendering differs between Spark and DuckDB).
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .orderBy(col("hr"), col("event_type"))),

    // ≙ StarRocks/Doris stream-load payload through the REAL sink
    // formatter (Formats.streamLoadJson): data columns + the
    // _delete_sign_ virtual column as one JSON row per record.
    "cdc_streamload_format" -> ((s, dir) => {
      val t = TableDef("app", "events", Seq(
        ColumnDef("event_id", "bigint", isPrimaryKey = true),
        ColumnDef("user_id", "bigint"),
        ColumnDef("value", "double")))
      // sort narrow, format after (see cdc_json_format)
      val batch = events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .orderBy(col("event_id"))
        .withColumn("op",
          when(col("event_type") === "error", "delete").otherwise("insert"))
      // row_id passes through from the source column: the driver's
      // hash of row_json already proves the payload byte-for-byte, so
      // re-parsing the just-built JSON would only re-derive a value
      // the batch still has
      Formats.streamLoadJson(batch, t,
          keep = Seq(col("event_id").as("row_id")))
    }),

    // ≙ Kafka `json` format through the real formatter
    // (Formats.kafkaJson) over a constructed envelope.
    "cdc_kafka_json_format" -> ((s, dir) => {
      // sort narrow, format after (see cdc_json_format)
      val env = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
        .orderBy(col("event_id"))
        .select(
        lit("app").as("db"),
        lit("events").as("table"),
        when(col("event_type") === "error", "delete").otherwise("insert")
          .as("op"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        concat(lit("seq:"), col("event_id")).as("pos"),
        col("event_id").as("seq"),
        map(lit("event_id"), col("event_id").cast("string"),
          lit("user_id"), col("user_id").cast("string")).as("after"),
        map(lit("event_id"), col("event_id").cast("string")).as("before"))
      // row_id from the envelope seq (= event_id): the value-column
      // hash is the payload proof (see cdc_streamload_format)
      Formats.kafkaJson(env, keep = Seq(col("seq").as("row_id")))
    }),

    // ≙ Debezium envelope through the real formatter
    // (Formats.debeziumJson): create/update/delete transcoded to
    // c/u/d with null before/after images emitted explicitly.
    "cdc_debezium_format" -> ((s, dir) => {
      // sort narrow, format after (see cdc_json_format)
      val env = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
        .orderBy(col("event_id"))
        .select(
          lit("app").as("db"),
          lit("events").as("table"),
          when(col("event_type") === "error", "delete")
            .when(col("event_type") === "signup", "insert")
            .otherwise("update").as("op"),
          timestamp_micros(expr("ts div 1000")).as("ts"),
          concat(lit("seq:"), col("event_id")).as("pos"),
          col("event_id").as("seq"),
          map(lit("event_id"), col("event_id").cast("string"),
            lit("user_id"), col("user_id").cast("string")).as("after"),
          map(lit("event_id"), col("event_id").cast("string")).as("before"))
      Formats.debeziumJson(env, keep = Seq(col("seq").as("row_id")))
    }),

    // as-of (point-in-time) join: each event enriched with the
    // latest signup value at-or-before its timestamp, per user —
    // composed from one keyed sort (graft.ops.AsOfJoin), no
    // range-explosion. Oracle = DuckDB's native ASOF JOIN.
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("event_id"), col("user_id"), col("ts"))
      val signups = events(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("value").as("signup_value"))
      graft.ops.AsOfJoin.asOf(ev, signups, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ts", payload = Seq("signup_value"))
        .select(col("event_id"), col("user_id"), col("signup_value"))
        .orderBy(col("event_id"))
    }),

    // broadcast point-in-time lookup (AsOfJoin.broadcastAsOf): each
    // event finds the customer's latest order at-or-before the event
    // — the SCD-2 enrichment shape: the version history broadcasts,
    // the fact side never shuffles. Times compared as exact integer
    // nanos on both engines.
    "cdc_enrich_asof" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
      val hist = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("user_id"),
          // NTZ -> LTZ (UTC session: same instant) -> epoch seconds
          (col("o_orderdate").cast("timestamp").cast("long")
            * lit(1000000000L)).as("ots"),
          col("o_orderkey").as("last_orderkey"))
      graft.ops.AsOfJoin.broadcastAsOf(ev, hist, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ots", payload = Seq("last_orderkey"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"))
        .orderBy(col("event_id"))
    }),

    // ≙ Aliyun-DTS-Canal envelope through the real formatter
    // (Formats.canalJson) — sqlType/mysqlType codes, pkNames,
    // stringified data; emit-ts pinned for determinism.
    "cdc_canal_format" -> ((s, dir) => {
      val t = TableDef("app", "events", Seq(
        ColumnDef("event_id", "bigint", isPrimaryKey = true),
        ColumnDef("user_id", "bigint")))
      // sort narrow, format after (see cdc_json_format)
      val env = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
        .orderBy(col("event_id"))
        .select(
          lit("app").as("db"),
          lit("events").as("table"),
          when(col("event_type") === "error", "delete").otherwise("insert")
            .as("op"),
          timestamp_micros(expr("ts div 1000")).as("ts"),
          concat(lit("gtid:"), col("event_id")).as("pos"),
          col("event_id").as("seq"),
          map(lit("event_id"), col("event_id").cast("string"),
            lit("user_id"), col("user_id").cast("string")).as("after"),
          map(lit("event_id"), col("event_id").cast("string")).as("before"))
      // row_id from the envelope seq (the canal id field): the
      // value-column hash is the payload proof
      Formats.canalJson(env, t, emitTsMs = lit(1700000000000L),
          keep = Seq(col("seq").as("row_id")))
    }),

    // sessionization: 30-min-gap sessions per user via lag() —
    // integer ns math, exact on both engines.
    "cdc_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > lit(1800000000000L), 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // changed-column extraction (Transforms.changedColumns): which
    // columns an update actually touched, from the before/after maps
    // — the audit-trail / sparse-update primitive. The envelope here
    // is CONSTRUCTED from key arithmetic so the oracle can compute
    // the expected list analytically (same proof pattern as
    // multimodal_real_header): agreement proves the null-safe
    // map-diff, including keys present on only one side.
    "cdc_changed_columns" -> ((s, dir) => {
      val before = map_concat(
        map(lit("uid"), col("user_id"), lit("score"),
          pmod(col("event_id"), lit(5L))),
        when(pmod(col("event_id"), lit(3L)) === 0L,
          map(lit("old_flag"), lit(1L))).otherwise(map()))
      val after = map(lit("uid"), col("user_id"), lit("score"),
        pmod(col("event_id"), lit(7L)))
      // Serialized to CSV in the final projection: the driver's
      // pandas-based compare can't hash raw array cells, so both
      // sides emit the same comma-joined string. Sort narrow, diff
      // after (see cdc_json_format).
      events(s, dir).select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
        .select(col("event_id"),
          array_join(Transforms.changedColumns(before, after), ",")
            .as("changed"))
    }),

    // event-time interval join, batch-verified: each purchase paired
    // with the same user's signups within ±1h (equi-join on the key +
    // residual time bound; the keyed-join shape that lets a streaming
    // twin GC its state).
    // Exact integer-ns bound math on both engines.
    "cdc_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("user_id"),
          col("ts").as("s_ts"))
      purchases.join(signups, Seq("user_id"))
        .filter(col("s_ts") >= col("p_ts") - lit(3600000000000L) &&
          col("s_ts") <= col("p_ts") + lit(3600000000000L))
        .select(col("p_id"), col("s_id"), col("user_id"))
        .orderBy(col("p_id"), col("s_id"))
    }),

    // SCD-2 history build (operators/Scd2): the version-interval
    // table the as-of join probes, derived from the same CDC stream
    // the reference compacts into latest-row-only targets. One
    // key shuffle + one sort; error events play the delete role.
    "cdc_scd2_build" -> ((s, dir) => {
      // µs granularity: DuckDB truncates ns parquet timestamps to µs
      // on read, so ns-exact intervals can never hash-match — µs is
      // the finest cross-engine-stable unit (integer div is exact)
      val ev = events(s, dir).select(
        col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("value"),
        when(col("event_type") === "error", "delete")
          .otherwise("insert").as("op"))
      graft.operators.Scd2.build(ev, keys = Seq("user_id"),
        tsCol = "tsu", seqCol = "event_id", payload = Seq("value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // transactional-outbox routing (sources/OutboxAdapter): events
    // stand in for the outbox table (aggregatetype = event_type,
    // aggregateid = user_id, payload = props); the router re-shapes
    // outbox inserts into domain events — destination stream from the
    // aggregate type, payload JSON re-parsed as the after image with
    // the aggregate id injected as the pk.
    "cdc_outbox_route" -> ((s, dir) => {
      // sort narrow, build the envelope after (see cdc_json_format);
      // route() is filters + projections, so order survives to the
      // output and the final key (seq = event_id) is the sort key
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("props"))
        .orderBy(col("event_id"))
      val env = ev.select(
        lit("app").as("db"), lit("outbox").as("table"),
        lit("insert").as("op"),
        lit(null).cast(TimestampType).as("ts"),
        concat(lit("gtid:"), col("event_id")).as("pos"),
        col("event_id").as("seq"), lit(0).as("tableVersion"),
        map(lit("aggregatetype"), col("event_type"),
          lit("aggregateid"), col("user_id").cast(StringType),
          lit("payload"), col("props")).as("after"),
        lit(null).cast(MapType(StringType, StringType)).as("before"))
      graft.sources.OutboxAdapter.route(env)
        .select(col("table").as("dest"), col("after")("id").as("id"),
          col("after")("k").as("k"), col("seq"))
    }),

    // DBLog-style chunked snapshot interleaved with the live stream
    // (ops/ChunkedSnapshot): snapshot = state at seq 500, pk chunks
    // of width 4, stream advancing 20 positions per chunk read; the
    // output is the surviving snapshot rows — keys untouched inside
    // their chunk's watermark window. ONE distributed anti-join
    // reconciles every chunk (key equality + per-chunk seq residual);
    // no driver loop, chunks parallelize because sinks arbitrate by
    // seq. The convergence invariant is pinned by ChunkedSnapshotSpec.
    "cdc_chunked_backfill" -> ((s, dir) =>
      graft.ops.ChunkedSnapshot.backfillSimulated(
        events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), col("value")),
        keys = Seq("user_id"), seqCol = "event_id",
        startSeq = 500L, chunkWidth = 4L, seqPerChunk = 20L)
        .select(col("chunk_id"), col("user_id"), col("event_id"),
          col("event_type"), col("value"))
        .orderBy(col("user_id"))),

    // sensitive-column masking (Transforms.maskColumns — the
    // Debezium-SMT-style compliance transform the reference chain
    // lacks): props partially masked (last 4 chars survive),
    // event_type hashed (sha256 — masked values still join/group),
    // value redacted to a constant. All scan-stage projections;
    // nulls stay null in every mode.
    "cdc_mask_columns" -> ((s, dir) =>
      Transforms.maskColumns(
        "props" -> "partial", "event_type" -> "hash",
        "value" -> "redact")(
        events(s, dir).select(col("event_id"), col("event_type"),
          col("value"), col("props")))
        .orderBy(col("event_id"))),

    // source<->target consistency checksums (ops/TableChecksum —
    // the pt-table-checksum shape the reference family assumes users
    // run out-of-band): orders vs a drifted replica (keys % 7919
    // missing, prices % 997 off by +1.00); per-500-key chunks reduce
    // to (n_rows, order-independent 60-bit md5 sum), and only the
    // divergent chunks — the re-sync worklist — survive the diff.
    // Each side is one scan + one map-side-combinable aggregate; the
    // join moves #chunks rows, never table rows.
    "cdc_table_checksum" -> ((s, dir) => {
      val (src, tgt) = orderChecksumSides(s, dir)
      // sums render as VARCHAR: the driver's pandas bridge collapses
      // DECIMAL(38,0) to float64 (exact above 2^53 only as a string),
      // so a raw decimal column can never driver-hash-match even when
      // the values agree — r8's only correctness failures were this
      graft.ops.TableChecksum.diff(src, tgt)
        .select(col("chunk"), col("src_rows"), col("tgt_rows"),
          col("src_sum").cast("string").as("src_sum"),
          col("tgt_sum").cast("string").as("tgt_sum"), col("status"))
        .orderBy(col("chunk"))
    }),

    // Merkle rollup localization (TableChecksum.rollup): 8 child
    // chunks collapse into one parent (sums adding exactly, row
    // counts adding, pk ranges unioning), and the top-down diff
    // names only the DIVERGENT parents — the O(log) protocol that
    // turns a full-table audit into a few chunk-list exchanges when
    // divergence is localized. The oracle re-aggregates directly at
    // parent granularity (o_orderkey // 500 // 8), which must equal
    // the engine's level-1 rollup because the 60-bit row hashes sum
    // associatively — a green row proves the rollup arithmetic, not
    // just the leaf checksums.
    "cdc_checksum_rollup" -> ((s, dir) => {
      val (src, tgt) = orderChecksumSides(s, dir)
      def up(df: DataFrame) = graft.ops.TableChecksum.rollup(df, 8L)
      graft.ops.TableChecksum.diff(up(src), up(tgt))
        .select(col("chunk"), col("src_rows"), col("tgt_rows"),
          col("src_sum").cast("string").as("src_sum"),
          col("tgt_sum").cast("string").as("tgt_sum"), col("status"))
        .orderBy(col("chunk"))
    }),

    // incremental checksum MAINTENANCE (continuous verification):
    // the event stream is read as a per-user changelog (first event
    // = insert, rest = updates whose before image is the lagged
    // value), each event contributes signed per-chunk deltas in ONE
    // scan, and — because the sums telescope — the accumulated
    // deltas must EQUAL a fresh checksum of the compacted final
    // state. The query emits both sides per chunk plus the verdict,
    // so target drift would surface as consistent=false without ever
    // rescanning history against state.
    "cdc_incremental_checksum" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        col("value"))
      def rendered(v: Column): Column =
        floor(v * 1000000d).cast(LongType)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val ch = ev
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .select(
          when(col("rn") === 1, lit("insert")).otherwise(lit("update"))
            .as("op"),
          col("user_id").as("a_pk"), rendered(col("value")).as("a_v"),
          col("user_id").as("b_pk"), rendered(col("prev_value")).as("b_v"))
      val inc = graft.ops.TableChecksum.incrementalChecksums(ch, col("op"),
        col("a_pk"), Seq(col("a_pk"), col("a_v")),
        col("b_pk"), Seq(col("b_pk"), col("b_v")), chunkSize = 25L)
      // compacted state via max_by, not a second (desc-sorted) window
      // pass (r15): `event_id` is the events table's PRIMARY KEY —
      // globally unique, hence unique per user (QueriesSpec pins this
      // on the testdata and the window form ≡ max_by form equality)
      // — so "the row row_number()-desc ranks first" IS "the row with
      // max event_id", and max_by is deterministic here. The
      // aggregate combines map-side (one partial row per user per
      // partition crosses the exchange) where the window form
      // shuffled and SORTED every event row.
      val state = ev
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
        .select(col("user_id"), rendered(col("value")).as("v"))
      val fresh = graft.ops.TableChecksum.chunkChecksums(state,
        col("user_id"), Seq(col("user_id"), col("v")), chunkSize = 25L)
        .select(col("chunk"), col("n_rows"), col("checksum"))
      fresh.join(inc, Seq("chunk"), "full_outer")
        // consistency compares the exact decimals; the OUTPUT renders
        // them as VARCHAR (driver's pandas bridge turns DECIMAL(38,0)
        // into lossy float64 — see cdc_table_checksum)
        .select(col("chunk"), col("n_rows"),
          col("checksum").cast("string").as("checksum"),
          col("d_rows"), col("d_sum").cast("string").as("d_sum"),
          (col("n_rows") <=> col("d_rows") &&
            col("checksum") <=> col("d_sum")).as("consistent"))
        .orderBy(col("chunk"))
    })
  )

  val oracle: Map[String, String] = Map(
    "cdc_rename_column" ->
      """SELECT event_id, user_id AS uid, value AS amount
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_delete_column" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_route_filter" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type IN ('purchase', 'signup') ORDER BY event_id""".stripMargin,
    "cdc_enrich_dim" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "cdc_drop_hook" ->
      """SELECT event_id, value FROM events
        |WHERE NOT (value < 50.0) ORDER BY event_id""".stripMargin,
    "cdc_column_mapper" ->
      """SELECT event_id AS id, user_id AS uid, event_type AS etype,
        | value AS amount FROM events ORDER BY id""".stripMargin,
    "cdc_delete_sign" ->
      """SELECT event_id, event_type,
        | CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS "_delete_sign_"
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_compact_window" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "cdc_compact_agg" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "cdc_json_format" ->
      """SELECT event_id,
        | to_json(struct_pack(event_id := event_id, event_type := event_type,
        |   user_id := user_id)) AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_partition_assign" ->
      """SELECT event_id, user_id, user_id % 8 AS part_id
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_hourly_rollup" ->
      """SELECT date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)) AS hr,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    "cdc_streamload_format" ->
      """SELECT to_json(struct_pack(
        |   event_id := event_id, user_id := user_id, value := value,
        |   "_delete_sign_" := CASE WHEN event_type = 'error'
        |                           THEN 1 ELSE 0 END)) AS row_json,
        | event_id AS row_id
        |FROM events ORDER BY row_id""".stripMargin,
    "cdc_kafka_json_format" ->
      """SELECT to_json(struct_pack(
        |   database := 'app', "table" := 'events',
        |   type := CASE WHEN event_type = 'error'
        |                THEN 'delete' ELSE 'insert' END,
        |   ts := CAST(floor(epoch(make_timestamp(epoch_ns(ts) // 1000)))
        |              AS BIGINT),
        |   data := MAP {'event_id': CAST(event_id AS VARCHAR),
        |                'user_id': CAST(user_id AS VARCHAR)},
        |   old := MAP {'event_id': CAST(event_id AS VARCHAR)})) AS value,
        | event_id AS row_id
        |FROM events ORDER BY row_id""".stripMargin,
    "cdc_debezium_format" ->
      """SELECT to_json(struct_pack(
        |   before := CASE WHEN event_type = 'signup' THEN NULL
        |     ELSE MAP {'event_id': CAST(event_id AS VARCHAR)} END,
        |   after := CASE WHEN event_type = 'error' THEN NULL
        |     ELSE MAP {'event_id': CAST(event_id AS VARCHAR),
        |               'user_id': CAST(user_id AS VARCHAR)} END,
        |   source := struct_pack(
        |     connector := 'graft', db := 'app', "table" := 'events',
        |     pos := concat('seq:', CAST(event_id AS VARCHAR))),
        |   op := CASE WHEN event_type = 'error' THEN 'd'
        |              WHEN event_type = 'signup' THEN 'c'
        |              ELSE 'u' END,
        |   ts_ms := CAST(floor(epoch(make_timestamp(epoch_ns(ts) // 1000)))
        |              AS BIGINT) * 1000)) AS value,
        | event_id AS row_id
        |FROM events ORDER BY row_id""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, e.user_id AS user_id, signup_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, value AS signup_value
        |   FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY event_id""".stripMargin,
    "cdc_enrich_asof" ->
      """WITH hist AS (
        |  SELECT o_custkey AS user_id,
        |    epoch_ns(o_orderdate) AS ots,
        |    MAX(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT event_id, e.user_id AS user_id, h.last_orderkey
        |FROM events e ASOF LEFT JOIN hist h
        |  ON e.user_id = h.user_id AND epoch_ns(e.ts) >= h.ots
        |ORDER BY event_id""".stripMargin,
    "cdc_canal_format" ->
      """SELECT to_json(struct_pack(
        |   id := event_id,
        |   database := 'app', "table" := 'events',
        |   gtid := ['gtid:' || CAST(event_id AS VARCHAR)],
        |   pkNames := ['event_id'],
        |   isDdl := false,
        |   type := CASE WHEN event_type = 'error'
        |                THEN 'DELETE' ELSE 'INSERT' END,
        |   es := CAST(floor(epoch(make_timestamp(epoch_ns(ts) // 1000)))
        |              AS BIGINT) * 1000,
        |   ts := 1700000000000,
        |   sql := '',
        |   serverId := '',
        |   sqlType := MAP {'event_id': 8, 'user_id': 8},
        |   mysqlType := MAP {'event_id': 'bigint', 'user_id': 'bigint'},
        |   data := [MAP {'event_id': CAST(event_id AS VARCHAR),
        |                 'user_id': CAST(user_id AS VARCHAR)}],
        |   old := [MAP {'event_id': CAST(event_id AS VARCHAR)}])) AS value,
        | event_id AS row_id
        |FROM events ORDER BY row_id""".stripMargin,
    "cdc_sessionize" ->
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
        | COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts, event_id,
        |          lag(ts) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS prev_ts
        |        FROM events) x) y
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cdc_changed_columns" ->
      """SELECT event_id,
        |  coalesce(array_to_string(list_sort(
        |    CASE WHEN event_id % 3 = 0 THEN ['old_flag'] ELSE [] END ||
        |    CASE WHEN event_id % 7 <> event_id % 5
        |         THEN ['score'] ELSE [] END), ','), '') AS changed
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_interval_join" ->
      """SELECT p.event_id AS p_id, s.event_id AS s_id,
        | p.user_id AS user_id
        |FROM events p JOIN events s
        |  ON p.user_id = s.user_id
        | AND p.event_type = 'purchase' AND s.event_type = 'signup'
        | AND epoch_ns(s.ts) >= epoch_ns(p.ts) - 3600000000000
        | AND epoch_ns(s.ts) <= epoch_ns(p.ts) + 3600000000000
        |ORDER BY p_id, s_id""".stripMargin,
    "cdc_scd2_build" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value,
        |    CASE WHEN event_type = 'error' THEN 'delete'
        |         ELSE 'insert' END AS op
        |  FROM events),
        |v AS (
        |  SELECT user_id, event_id, value, op, tsu AS valid_from,
        |    lead(tsu) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS valid_to
        |  FROM e)
        |SELECT user_id, event_id, value, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'delete'
        |ORDER BY user_id, event_id""".stripMargin,
    "cdc_outbox_route" ->
      """SELECT event_type AS dest, CAST(user_id AS VARCHAR) AS id,
        |  json_extract_string(props, '$.k') AS k, event_id AS seq
        |FROM events ORDER BY seq""".stripMargin,
    "cdc_chunked_backfill" ->
      """WITH snap AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT user_id, event_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |                         ORDER BY event_id DESC) rn
        |    FROM events
        |    WHERE event_id <= 500 + (user_id // 4) * 20) t
        |  WHERE rn = 1),
        |c AS (SELECT snap.*, user_id // 4 AS chunk_id FROM snap)
        |SELECT c.chunk_id, c.user_id, c.event_id, c.event_type, c.value
        |FROM c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.user_id = c.user_id
        |    AND e.event_id > 500 + c.chunk_id * 20
        |    AND e.event_id <= 500 + c.chunk_id * 20 + 20)
        |ORDER BY c.user_id""".stripMargin,
    "cdc_table_checksum" ->
      """WITH src_r AS (
        |  SELECT o_orderkey, concat_ws(chr(1),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        |    coalesce(o_orderstatus, chr(0)),
        |    coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |             chr(0)),
        |    coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), chr(0)),
        |    coalesce(o_orderpriority, chr(0))) AS r
        |  FROM orders),
        |tgt_r AS (
        |  SELECT o_orderkey, concat_ws(chr(1),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        |    coalesce(o_orderstatus, chr(0)),
        |    coalesce(CAST(CAST(CASE WHEN o_orderkey % 997 = 0
        |        THEN o_totalprice + 1 ELSE o_totalprice END
        |      AS DECIMAL(18,2)) AS VARCHAR), chr(0)),
        |    coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), chr(0)),
        |    coalesce(o_orderpriority, chr(0))) AS r
        |  FROM orders WHERE o_orderkey % 7919 <> 0),
        |s AS (
        |  SELECT o_orderkey // 500 AS chunk, COUNT(*) AS src_rows,
        |    CAST(SUM(CAST(concat('0x', substring(md5(r), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS src_sum
        |  FROM src_r GROUP BY 1),
        |t AS (
        |  SELECT o_orderkey // 500 AS chunk, COUNT(*) AS tgt_rows,
        |    CAST(SUM(CAST(concat('0x', substring(md5(r), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS tgt_sum
        |  FROM tgt_r GROUP BY 1)
        |SELECT * FROM (
        |  SELECT coalesce(s.chunk, t.chunk) AS chunk, s.src_rows, t.tgt_rows,
        |    CAST(s.src_sum AS VARCHAR) AS src_sum,
        |    CAST(t.tgt_sum AS VARCHAR) AS tgt_sum,
        |    CASE WHEN s.chunk IS NULL THEN 'missing_in_source'
        |         WHEN t.chunk IS NULL THEN 'missing_in_target'
        |         WHEN s.src_rows <> t.tgt_rows THEN 'row_count'
        |         WHEN s.src_sum <> t.tgt_sum THEN 'checksum'
        |         ELSE 'ok' END AS status
        |  FROM s FULL OUTER JOIN t ON s.chunk = t.chunk) x
        |WHERE status <> 'ok' ORDER BY chunk""".stripMargin,
    "cdc_checksum_rollup" ->
      """WITH src_r AS (
        |  SELECT o_orderkey, concat_ws(chr(1),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        |    coalesce(o_orderstatus, chr(0)),
        |    coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |             chr(0)),
        |    coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), chr(0)),
        |    coalesce(o_orderpriority, chr(0))) AS r
        |  FROM orders),
        |tgt_r AS (
        |  SELECT o_orderkey, concat_ws(chr(1),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        |    coalesce(o_orderstatus, chr(0)),
        |    coalesce(CAST(CAST(CASE WHEN o_orderkey % 997 = 0
        |        THEN o_totalprice + 1 ELSE o_totalprice END
        |      AS DECIMAL(18,2)) AS VARCHAR), chr(0)),
        |    coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), chr(0)),
        |    coalesce(o_orderpriority, chr(0))) AS r
        |  FROM orders WHERE o_orderkey % 7919 <> 0),
        |s AS (
        |  SELECT o_orderkey // 500 // 8 AS chunk, COUNT(*) AS src_rows,
        |    CAST(SUM(CAST(concat('0x', substring(md5(r), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS src_sum
        |  FROM src_r GROUP BY 1),
        |t AS (
        |  SELECT o_orderkey // 500 // 8 AS chunk, COUNT(*) AS tgt_rows,
        |    CAST(SUM(CAST(concat('0x', substring(md5(r), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS tgt_sum
        |  FROM tgt_r GROUP BY 1)
        |SELECT * FROM (
        |  SELECT coalesce(s.chunk, t.chunk) AS chunk, s.src_rows, t.tgt_rows,
        |    CAST(s.src_sum AS VARCHAR) AS src_sum,
        |    CAST(t.tgt_sum AS VARCHAR) AS tgt_sum,
        |    CASE WHEN s.chunk IS NULL THEN 'missing_in_source'
        |         WHEN t.chunk IS NULL THEN 'missing_in_target'
        |         WHEN s.src_rows <> t.tgt_rows THEN 'row_count'
        |         WHEN s.src_sum <> t.tgt_sum THEN 'checksum'
        |         ELSE 'ok' END AS status
        |  FROM s FULL OUTER JOIN t ON s.chunk = t.chunk) x
        |WHERE status <> 'ok' ORDER BY chunk""".stripMargin,
    "cdc_mask_columns" ->
      """SELECT event_id,
        |  CASE WHEN event_type IS NULL THEN NULL
        |       ELSE sha256(event_type) END AS event_type,
        |  CASE WHEN value IS NULL THEN NULL ELSE '***' END AS value,
        |  CASE WHEN props IS NULL THEN NULL
        |       WHEN length(props) <= 4
        |         THEN regexp_replace(props, '(?s).', '*', 'g')
        |       ELSE regexp_replace(substring(props, 1, length(props) - 4),
        |              '(?s).', '*', 'g') || right(props, 4) END AS props
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_incremental_checksum" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v FROM events),
        |ord AS (SELECT user_id, v,
        |    lag(v) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS rn
        |  FROM ev),
        |contrib AS (
        |  SELECT user_id // 25 AS chunk, 1 AS d_rows,
        |    CAST(concat('0x', substring(md5(concat_ws(chr(1),
        |      coalesce(CAST(user_id AS VARCHAR), chr(0)),
        |      coalesce(CAST(v AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT)
        |      AS d_sum
        |  FROM ord
        |  UNION ALL
        |  SELECT user_id // 25, -1,
        |    - CAST(concat('0x', substring(md5(concat_ws(chr(1),
        |      coalesce(CAST(user_id AS VARCHAR), chr(0)),
        |      coalesce(CAST(pv AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT)
        |  FROM ord WHERE rn > 1),
        |inc AS (SELECT chunk, CAST(SUM(d_rows) AS BIGINT) AS d_rows,
        |    CAST(SUM(d_sum) AS DECIMAL(38,0)) AS d_sum
        |  FROM contrib GROUP BY 1),
        |state AS (SELECT user_id, v FROM (
        |    SELECT user_id, v, row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rnd FROM ev) x
        |  WHERE rnd = 1),
        |fresh AS (SELECT user_id // 25 AS chunk,
        |    COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(concat('0x', substring(md5(concat_ws(chr(1),
        |      coalesce(CAST(user_id AS VARCHAR), chr(0)),
        |      coalesce(CAST(v AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS checksum
        |  FROM state GROUP BY 1)
        |SELECT coalesce(f.chunk, i.chunk) AS chunk, f.n_rows,
        |  CAST(f.checksum AS VARCHAR) AS checksum,
        |  i.d_rows, CAST(i.d_sum AS VARCHAR) AS d_sum,
        |  (f.n_rows IS NOT DISTINCT FROM i.d_rows AND
        |   f.checksum IS NOT DISTINCT FROM i.d_sum) AS consistent
        |FROM fresh f FULL OUTER JOIN inc i ON f.chunk = i.chunk
        |ORDER BY chunk""".stripMargin
  )
}
