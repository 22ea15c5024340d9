package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.TableChecksum

/** Table-verification CLI — the operational face of
  * [[graft.ops.TableChecksum]]: checksum two parquet tables (a
  * source export and a replica, two lake snapshots, a backfill vs
  * its origin) and print the divergent chunks as one JSON line.
  *
  * ```
  * spark-submit --class graft.ChecksumMain graft.jar \
  *   /data/src.parquet /data/tgt.parquet pk_col 100000 [col1,col2,…]
  * ```
  *
  * Column list defaults to the COMMON columns of the two sides (name
  * order), so schema drift narrows the comparison instead of
  * crashing it — the explicit list is for pinning. Rendering is the
  * engine's string cast on both sides; both sides run the xxhash64
  * fast path ([[TableChecksum.fastRowHash]] — engine-to-engine, no
  * cross-engine constraint). Exit code 1 when chunks diverge, so the
  * run slots into a cron/CI gate.
  */
object ChecksumMain {

  /** Compare two loaded frames; returns (divergent rows as JSON-able
    * tuples, compared column list). Public and driver-free so the
    * spec exercises the full path without a JVM exit. */
  def run(a: DataFrame, b: DataFrame, pkCol: String, chunkSize: Long,
      colsArg: Option[String]):
      (Seq[(Long, Any, Any, Any, Any, String)], Seq[String]) = {
    val cols = colsArg match {
      case Some(cs) => cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        val common = a.columns.toSet.intersect(b.columns.toSet)
        require(common.contains(pkCol),
          s"pk column '$pkCol' must exist on both sides")
        a.columns.filter(common).toSeq // side-A order, names in both
    }
    require(cols.contains(pkCol),
      s"compared columns must include the pk '$pkCol' to catch pk drift")
    def side(df: DataFrame) = TableChecksum.chunkChecksums(
      df, col(pkCol), cols.map(col), chunkSize, TableChecksum.fastRowHash)
    val d = TableChecksum.diff(side(a), side(b))
      .orderBy(col("chunk"))
      .collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.get(4),
        r.getString(5)))
      .toSeq
    (d, cols)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ChecksumMain <parquetA> <parquetB> <pkCol> <chunkSize> " +
        "[col1,col2,…]")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_MASTER",
      s"local[${Session.cores}]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (divergent, cols) = run(
      spark.read.parquet(args(0)), spark.read.parquet(args(1)),
      args(2), args(3).toLong, args.lift(4))
    val rows = divergent.map { case (c, sr, tr, ss, ts, st) =>
      s"""{"chunk":$c,"src_rows":$sr,"tgt_rows":$tr,""" +
        s""""src_sum":"$ss","tgt_sum":"$ts","status":"$st"}"""
    }.mkString("[", ",", "]")
    // one machine-readable line, CurateMain-style
    println(s"""{"divergent_chunks":${divergent.length},""" +
      s""""columns":"${cols.mkString(",")}","chunks":$rows}""")
    spark.stop()
    if (divergent.nonEmpty) sys.exit(1)
  }
}
