package graft.sinks

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.ChangeEvent
import graft.meta.{ColumnDef, TableDef}
import graft.streaming.Pipeline

/** Change logs with several events per key inside one batch, driven
  * through [[Pipeline.processBatch]] into a sink, and the seq-order
  * last-state oracle the target must equal. */
object MergeCases {
  val target = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("v", "int")))

  def ev(seq: Long, op: String, id: Long, v: Int,
      table: String = "t1"): ChangeEvent =
    ChangeEvent("db1", table, op, new Timestamp(1700000000000L + seq),
      s"gtid:$seq", seq, 0, Map("id" -> id.toString, "v" -> v.toString), null)

  /** State before [[batch]]: keys 1, 3 and 5. */
  val prior = Seq(ev(1, "insert", 1, 10), ev(2, "insert", 3, 30),
    ev(3, "insert", 5, 50))

  /** One batch, interleaved: key 1 insert→update→delete→re-insert, a
    * delete of the absent key 2, key 3 touched once, and key 4
    * inserted then deleted. */
  val batch = Seq(
    ev(10, "insert", 1, 11), ev(11, "update", 1, 12), ev(12, "delete", 1, 0),
    ev(13, "delete", 2, 0), ev(14, "insert", 1, 13), ev(15, "update", 3, 31),
    ev(16, "insert", 4, 40), ev(17, "delete", 4, 0))

  /** Last (id, v) per key: every event applied in `seq` order. */
  def oracle(log: Seq[ChangeEvent]): Seq[(Long, Int)] =
    log.sortBy(_.seq).foldLeft(Map.empty[Long, Int]) { (m, e) =>
      val id = e.after("id").toLong
      if (e.op == "delete") m - id else m + (id -> e.after("v").toInt)
    }.toSeq.sorted

  /** One pipeline batch of `log` through a single route onto `t`. */
  def drive(spark: SparkSession, log: Seq[ChangeEvent], sink: Pipeline.BatchSink,
      batchId: Long, t: TableDef = target): Unit = {
    import spark.implicits._
    Pipeline.processBatch(log.toDF(),
      Seq(Pipeline.Route(t.schema, t.name, t)), sink, batchId)
  }

  /** (id, v) rows of a target, sorted, duplicates kept. */
  def state(df: DataFrame): Seq[(Long, Int)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getInt(1)))
      .toSeq.sorted
}
