package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.meta.SchemaRegistry

/** Runtime schema evolution — SURVEY §3.2 / §7.5.2, the reference's
  * hardest semantic (binlog QueryEvent → parse → versioned registry
  * update; DML pinned to `tableVersion`).
  *
  * The streaming schema is the fixed generic envelope (maps), so DDL
  * never changes the streaming query's schema, only the per-batch
  * projection. [[Pipeline.processBatch]], given a
  * [[Pipeline.Evolution]], runs the two steps this object owns:
  *
  *  1. [[applyDdl]]: DDL events (`op = "ddl"`, statement in
  *     `after["sql"]`) update the SchemaRegistry in seq order at the
  *     top of the batch (driver-side, control-plane);
  *  2. [[routedVersioned]]: DML rows project through the schema
  *     version they're PINNED to (`tableVersion`), then union-by-name
  *     onto the latest shape (missing new columns → null) — the
  *     reference's version-resolved serialization
  *     (`outputs/kafka/kafka.go:135-140`), generalized.
  */
object SchemaEvolution {

  val DdlOp = "ddl"

  /** Apply any DDL rows in the batch to the registry (seq order).
    * Returns the number applied. Driver-side: DDL frequency is
    * human-scale, the collect is a few rows.
    *
    * `forward` receives each parsed statement (with its source db)
    * AFTER the registry update — the hook where [[Pipeline]] forwards
    * it to the routes' targets (e.g. through a
    * [[graft.sinks.JdbcDdlForwarder]]) so it lands before this batch's
    * (and every later batch's) DML writes. A forwarding failure
    * propagates and fails the batch BEFORE its checkpoint commits — the restart replays the DDL,
    * where the forwarder's metadata probe makes a landed ALTER a
    * no-op. Note the same at-least-once caveat as the watermark: the
    * registry skip-guard is in-memory, so `forward` implementations
    * must tolerate replay (the JDBC forwarder does). */
  def applyDdl(batch: DataFrame, registry: SchemaRegistry,
      forward: (String, graft.meta.DdlStatement) => Unit =
        (_, _) => ()): Int = {
    val stmts = batch.filter(col("op") === DdlOp)
      .select(col("db"), col("after").getItem("sql").as("sql"), col("seq"))
      .orderBy(col("seq"))
      .collect()
      // foreachBatch is at-least-once: skip DDL at or below the
      // registry's applied watermark so a replayed batch can't bump
      // versions twice and desync tableVersion pinning.
      .filter(_.getLong(2) > registry.ddlWatermark)
    stmts.foreach { r =>
      val (db, sql) = (r.getString(0), r.getString(1))
      registry.applySql(sql, db)
      graft.meta.DdlParser.parse(sql, db).foreach { case (pdb, ss) =>
        ss.foreach(forward(pdb, _))
      }
      registry.ddlWatermark = r.getLong(2)
    }
    stmts.length
  }

  /** Route + type a batch with version-pinned decoding: each
    * tableVersion group projects through ITS schema version, then
    * all groups align onto the current shape via unionByName with
    * null-fill. Carries the envelope's op/seq/pos/ts metadata — the
    * SAME contract as [[Pipeline.routed]], so every sink that reads
    * `ts` (kafka/canal/lake provenance) works under evolution too. */
  def routedVersioned(batch: DataFrame, db: String, table: String,
      registry: SchemaRegistry): DataFrame = {
    val meta = Seq(col("op"), col("seq"), col("pos"), col("ts"))
    val routed = batch.filter(col("db") === db && col("table") === table &&
      col("op") =!= DdlOp)
    val current = registry.current(db, table).getOrElse(
      return routed.select(meta: _*))
    val versions = routed.select(col("tableVersion")).distinct()
      .collect().map(_.getInt(0)).sorted
    val frames = versions.toSeq.map { v =>
      val t = registry.get(db, table, v).getOrElse(current)
      // decode with the PINNED version's names, but LABEL each column
      // with its name at the current version (rename lineage) — else
      // a renamed column's pre-rename rows would null out under
      // unionByName.
      val typedCols = t.columns.map { c =>
        col("after").getItem(c.name).cast(c.sparkType)
          .as(registry.nameAt(db, table, v, current.version, c.name))
      }
      routed.filter(col("tableVersion") === v)
        .select(typedCols ++ meta: _*)
    }
    val unified = frames.reduceOption(
      _.unionByName(_, allowMissingColumns = true))
      .getOrElse(routed.select(meta: _*))
    // align to the current column order, null-filling columns that
    // no present version carries
    val cols = current.columnNames.map(n =>
      if (unified.columns.contains(n)) col(n)
      else lit(null).cast(current.column(n).get.sparkType).as(n))
    unified.select(cols ++ meta: _*)
  }
}
