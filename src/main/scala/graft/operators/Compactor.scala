package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-event-per-key micro-batch compaction.
  *
  * The reference preserves upsert/delete ordering by splitting each
  * batch into maximal same-kind runs and replaying them in binlog
  * order (`outputs/mysql/mysql.go:172-202`). Spark batches are
  * unordered sets, so we instead carry a monotone sequence column
  * (binlog position / offset) and keep only the LAST event per
  * primary key — a strictly stronger guarantee that is also
  * idempotent under at-least-once replay.
  *
  * Scale note: one shuffle on the PK (hash partition), then a
  * per-partition window. With AQE on, skewed keys are split.
  */
object Compactor {

  /** Keep the last event per `pks` tuple ordered by `seq` (ties
    * broken deterministically by the tiebreakers). */
  def lastEventPerKey(pks: Seq[String], seq: Column,
                      tiebreak: Seq[Column] = Nil): DataFrame => DataFrame = { df =>
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy((seq.desc +: tiebreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregation-based variant: max_by every payload column on the
    * sequence. Avoids the window sort — a hash aggregate with
    * map-side partial combine, which at 100 TB is the cheaper plan
    * (no per-partition sort, partial aggregation before the
    * shuffle). Requires a totally-ordered unique `seqCol`. */
  def lastEventPerKeyAgg(pks: Seq[String], seqCol: String): DataFrame => DataFrame = { df =>
    val payload = df.columns.filterNot(c => pks.contains(c) || c == seqCol)
    df.groupBy(pks.map(col): _*)
      .agg(max(col(seqCol)).as(seqCol),
           payload.toSeq.map(c => max_by(col(c), col(seqCol)).as(c)): _*)
      .select(df.columns.toSeq.map(col): _*) // restore original column order
  }

  /** Drop rows whose final state is a delete — the post-compaction
    * step before an upsert-only sink. */
  def dropDeleted(opCol: String = "op", deleteOp: String = "delete"): DataFrame => DataFrame =
    df => df.filter(col(opCol) =!= deleteOp)
}
