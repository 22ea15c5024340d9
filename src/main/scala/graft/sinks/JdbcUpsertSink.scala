package graft.sinks

import java.sql.Connection

import org.apache.spark.sql.{DataFrame, Row}

import graft.meta.TableDef
import graft.streaming.Pipeline
import graft.streaming.Pipeline.BatchSink

/** JDBC executor for the MySQL upsert/delete sink — the transport
  * that actually runs [[SqlGen]]'s statements
  * (≙ `outputs/mysql/mysql.go:129-226` `execute`/`executeSQL`).
  *
  * Execution is per-partition on the executors: each partition opens
  * one connection, chunks its rows into bounded multi-row statements,
  * and binds/executes them — nothing flows through the driver. The
  * sink compacts the batch to last-event-per-key itself (it
  * [[mergesByKey]], so the pipeline hands it the batch uncompacted),
  * so each key appears once and upsert/delete ordering within a batch
  * is immaterial (the reference's order-preserving run-splitting,
  * `outputs/mysql/mysql.go:172-202`, is unnecessary — SURVEY §7.5.1).
  *
  * Statement-level retry: 3 tries with linear 5s·attempt backoff
  * ≙ `executeSQL` (`outputs/mysql/mysql.go:204-226`).
  *
  * Poison-row quarantine (opt-in via `quarantineTable`): when a
  * multi-row statement still fails after its transient retries, the
  * chunk is BISECTED — halves re-execute (single-try: the full-chunk
  * retries already absorbed transients) until the failure isolates to
  * individual rows, which are written to the quarantine table with
  * the target table, op, batch id, a JSON rendering of the row, and
  * the error. Healthy rows in the same chunk still land, so one
  * malformed event (constraint violation, oversized value, bad cast)
  * stops poisoning the whole pipeline — the sink-side counterpart of
  * the changelog source's onCorrupt=mark DLQ. Cost is O(log chunk)
  * statements per poison row, paid only on failure. Without a
  * quarantine table the batch fails before the checkpoint advances
  * (the default, exactly-once-preserving behavior).
  *
  * @param connect serializable connection factory, invoked on the
  *                executor (e.g. `() => DriverManager.getConnection(url)`)
  * @param quarantineTable DLQ table for poison rows; expected columns
  *                `(target_table VARCHAR, op VARCHAR, batch_id BIGINT,
  *                row_json VARCHAR, error VARCHAR)`. None = fail the
  *                batch (default).
  */
final class JdbcUpsertSink(
    connect: () => Connection,
    maxRowsPerStatement: Int = 1024,
    retries: Int = 3,
    retryBackoffMs: Long = 5000,
    quarantineTable: Option[String] = None) extends BatchSink {

  override def mergesByKey: Boolean = true

  override def write(batch: DataFrame, t: TableDef, batchId: Long): Unit = {
    val cols = t.columnNames
    val pks = t.pkColumns.map(_.name)
    // ≙ `outputs/mysql/mysql.go:130-132`: pk-less tables unsupported
    require(pks.nonEmpty,
      s"${t.schema}.${t.name}: JDBC upsert sink requires primary keys")
    // Upserts run before deletes within a chunk, so correctness needs
    // ONE event per key: compact on the monotone `seq` when the batch
    // carries it (the pipeline path), else verify key-uniqueness and
    // fail loudly — feeding an uncompacted frame through would
    // silently reorder delete-then-insert sequences (the ordering the
    // reference preserves via run-splitting,
    // `outputs/mysql/mysql.go:172-202`).
    val safe =
      if (batch.columns.contains("seq"))
        graft.operators.Compactor.lastEventPerKeyAgg(pks, "seq")(batch)
      else {
        import org.apache.spark.sql.functions.{col, count, lit}
        val dups = batch.groupBy(pks.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
        require(dups == 0,
          s"${t.schema}.${t.name}: batch has multiple events per key and no " +
            "'seq' column to compact on — compact upstream or add 'seq'")
        batch
      }
    val (cf, tt, mx, rt, bo, qt) =
      (connect, t, maxRowsPerStatement, retries, retryBackoffMs,
        quarantineTable)
    safe.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = cf()
        try {
          rows.grouped(mx).foreach { chunk =>
            val (dels, ups) = chunk.partition(_.getAs[String]("op") == "delete")
            if (ups.nonEmpty) {
              val maps = ups.map(r => cols.map(c => c -> r.getAs[Any](c)).toMap)
              JdbcUpsertSink.executeOrQuarantine(conn, tt, "upsert", maps,
                ms => SqlGen.upsertSql(tt, ms), rt, bo, qt, batchId)
            }
            if (dels.nonEmpty) {
              val maps = dels.map(r => pks.map(c => c -> r.getAs[Any](c)).toMap)
              JdbcUpsertSink.executeOrQuarantine(conn, tt, "delete", maps,
                ms => SqlGen.deleteSql(tt, ms), rt, bo, qt, batchId)
            }
          }
        } finally conn.close()
      }
    }
  }
}

object JdbcUpsertSink {
  /** Prepare + bind + execute one statement with linear-backoff retry
    * (≙ `executeSQL`, `outputs/mysql/mysql.go:204-226`). */
  private[sinks] def execute(conn: Connection, sql: String,
      binds: Seq[Any], retries: Int, backoffMs: Long): Unit =
    Pipeline.retry(retries, backoffMs) {
      val ps = conn.prepareStatement(sql)
      try {
        binds.zipWithIndex.foreach { case (v, i) =>
          ps.setObject(i + 1, v)
        }
        ps.executeUpdate()
      } finally ps.close()
    }

  /** Full-retry execute; on exhausted failure, either rethrow (no
    * quarantine table — the exactly-once default) or bisect the row
    * set to isolate and quarantine the poison rows (see class doc).
    * The bisect levels run SINGLE-try: the full-chunk retries already
    * absorbed transient faults, so what is left fails
    * deterministically and backing off per level would multiply the
    * isolation latency by retries·log(chunk). */
  private[sinks] def executeOrQuarantine(conn: Connection, t: TableDef,
      op: String, rows: Seq[Map[String, Any]],
      mkSql: Seq[Map[String, Any]] => (String, Seq[Any]),
      retries: Int, backoffMs: Long,
      quarantine: Option[String], batchId: Long): Unit = {
    val (sql, binds) = mkSql(rows)
    try execute(conn, sql, binds, retries, backoffMs)
    catch {
      case scala.util.control.NonFatal(e) =>
        quarantine match {
          case None => throw e
          case Some(qt) => bisect(conn, t, op, rows, mkSql, qt, batchId, e)
        }
    }
  }

  private def bisect(conn: Connection, t: TableDef, op: String,
      rows: Seq[Map[String, Any]],
      mkSql: Seq[Map[String, Any]] => (String, Seq[Any]),
      qt: String, batchId: Long, cause: Throwable): Unit =
    if (rows.length == 1) {
      quarantineRow(conn, t, op, rows.head, qt, batchId, cause)
    } else {
      val (lo, hi) = rows.splitAt(rows.length / 2)
      Seq(lo, hi).foreach { half =>
        val (sql, binds) = mkSql(half)
        try execute(conn, sql, binds, retries = 1, backoffMs = 0)
        catch {
          case scala.util.control.NonFatal(e) =>
            bisect(conn, t, op, half, mkSql, qt, batchId, e)
        }
      }
    }

  private def quarantineRow(conn: Connection, t: TableDef, op: String,
      row: Map[String, Any], qt: String, batchId: Long,
      cause: Throwable): Unit = {
    val ins = s"INSERT INTO $qt (target_table, op, batch_id, row_json," +
      " error) VALUES (?, ?, ?, ?, ?)"
    // the DLQ write itself gets no quarantine fallback: if even the
    // DLQ rejects the row, fail the batch — silently dropping data
    // is the one outcome this path must never produce
    execute(conn, ins, Seq(s"${t.schema}.${t.name}", op,
      java.lang.Long.valueOf(batchId), rowJson(row),
      String.valueOf(cause.getMessage).take(512)),
      retries = 1, backoffMs = 0)
  }

  /** Sorted-key JSON rendering of a row for the DLQ (diagnostic
    * payload — values via toString, strings escaped). */
  private[sinks] def rowJson(row: Map[String, Any]): String =
    row.toSeq.sortBy(_._1).map { case (k, v) =>
      val rendered = v match {
        case null => "null"
        case n: java.lang.Number => n.toString
        case b: java.lang.Boolean => b.toString
        case other => "\"" + other.toString.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      }
      s""""$k":$rendered"""
    }.mkString("{", ",", "}")
}
