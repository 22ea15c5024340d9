package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

/** One source table of the synthetic changelog: a BIGINT primary key
  * plus typed payload columns, each drawn from the seeded generator. */
final case class TableSpec(name: String, pk: String,
    cols: Seq[(String, String, SplittableRandom => String)]) {

  def ddl(db: String): String =
    s"CREATE TABLE $db.$name ($pk BIGINT NOT NULL, " +
      cols.map { case (c, t, _) => s"$c $t" }.mkString(", ") +
      s", PRIMARY KEY ($pk))"
}

object Changelog {
  val Db = "shop"

  private def money(r: SplittableRandom) = (r.nextInt(1000000) / 100.0).toString
  private def word(prefix: String, n: Int)(r: SplittableRandom) =
    prefix + r.nextInt(n)

  /** Four tables of different widths and types, so route/cast and the
    * sink's per-table merge run once per table per batch. */
  val Tables: Seq[TableSpec] = Seq(
    TableSpec("orders", "order_id", Seq(
      ("customer_id", "BIGINT", r => r.nextLong(1000000L).toString),
      ("status", "VARCHAR(16)", word("st", 6)),
      ("amount", "DOUBLE", money))),
    TableSpec("items", "item_id", Seq(
      ("sku", "VARCHAR(32)", word("sku-", 100000)),
      ("qty", "INT", r => r.nextInt(500).toString),
      ("price", "DOUBLE", money))),
    TableSpec("users", "user_id", Seq(
      ("name", "VARCHAR(64)", word("user", 1000000)),
      ("email", "VARCHAR(64)", r => s"u${r.nextInt(1000000)}@example.com"),
      ("score", "DOUBLE", money))),
    TableSpec("events", "event_id", Seq(
      ("user_id", "BIGINT", r => r.nextLong(1000000L).toString),
      ("kind", "VARCHAR(16)", word("kind", 12)),
      ("note", "VARCHAR(128)", r => "n" + r.nextLong().toHexString * 3))))

  def ddlScript(tables: Seq[TableSpec] = Tables): String =
    tables.map(_.ddl(Db)).mkString("", ";\n", ";\n")

  /** One changelog event in the JSONL envelope of `cdc.ChangeEvent`.
    * Generated values are drawn from [a-z0-9@.-], so the JSON needs no
    * escaping. */
  final case class Event(seq: Long, table: Int, op: String, key: Long,
      values: Array[String], ts: Long) {
    def json(tables: Seq[TableSpec]): String = {
      val t = tables(table)
      val sb = new StringBuilder(160)
      sb.append("{\"db\":\"").append(Db).append("\",\"table\":\"")
        .append(t.name).append("\",\"op\":\"").append(op)
        .append("\",\"ts\":").append(ts)
        .append(",\"pos\":\"gtid:").append(seq)
        .append("\",\"seq\":").append(seq)
        .append(",\"tableVersion\":0,\"after\":{\"")
        .append(t.pk).append("\":\"").append(key).append('"')
      if (values != null) t.cols.indices.foreach { i =>
        sb.append(",\"").append(t.cols(i)._1).append("\":\"")
          .append(values(i)).append('"')
      }
      sb.append("}}").toString
    }
  }

  /** Canonical text of one target row (`seq` included, so a stale
    * version with an identical payload still differs). */
  def canonical(table: String, key: Long, seq: Long, values: Seq[String]): String =
    (table +: key.toString +: seq.toString +: values).mkString("\u0001")

  /** Order-insensitive 64-bit hash of a multiset of canonical rows. */
  def rowHash(canon: String): Long =
    (MurmurHash3.stringHash(canon, 0x1f2e3d4c).toLong << 32) ^
      (MurmurHash3.stringHash(canon, 0x5a6b7c8d).toLong & 0xffffffffL)
}

/** The generator's own last-state-per-key model of the target: the
  * expected result of applying every event in `seq` order with
  * last-writer-wins per primary key, deletes removing the row. */
final class LastState(tables: Seq[TableSpec], keysPerTable: Int) {
  private val rows = Array.fill(tables.size)(new Array[Array[String]](keysPerTable))
  private val seqs = Array.fill(tables.size)(Array.fill(keysPerTable)(-1L))
  private val present = Array.fill(tables.size)(new Array[Boolean](keysPerTable))

  /** Last writer wins on `seq`: a replayed (older or equal) event is a
    * no-op, as it is for the idempotent sinks. */
  def apply(e: Changelog.Event): Unit = {
    val k = e.key.toInt
    if (e.seq <= seqs(e.table)(k)) return
    seqs(e.table)(k) = e.seq
    if (e.op == "delete") { present(e.table)(k) = false; rows(e.table)(k) = null }
    else { present(e.table)(k) = true; rows(e.table)(k) = e.values }
  }

  def isLive(table: Int, key: Long): Boolean = present(table)(key.toInt)

  /** Expected row count and order-insensitive hash over all tables. */
  def summary: (Long, Long) = {
    var n = 0L
    var h = 0L
    for (t <- tables.indices; k <- 0 until keysPerTable if present(t)(k)) {
      n += 1
      h += Changelog.rowHash(Changelog.canonical(tables(t).name, k,
        seqs(t)(k), rows(t)(k).toSeq))
    }
    (n, h)
  }
}

/** Seeded changelog generator over a bounded key space. The first
  * event of a key inserts it; later events update a live key, delete
  * it with probability `deleteShare`, or re-insert a deleted one. */
final class ChangeGen(seed: Long, val tables: Seq[TableSpec],
    val keysPerTable: Int, deleteShare: Double) {
  private val rnd = new SplittableRandom(seed)
  val model = new LastState(tables, keysPerTable)
  private var nextSeq = 0L

  def seqsIssued: Long = nextSeq

  private def emit(t: Int, op: String, key: Long, ts: Long): Changelog.Event = {
    val vals =
      if (op == "delete") null
      else tables(t).cols.map(_._3(rnd)).toArray
    val e = Changelog.Event(nextSeq, t, op, key, vals, ts)
    nextSeq += 1
    model(e)
    e
  }

  /** Insert every key of every table, tables interleaved. */
  def insertAll(ts: Long): Vector[Changelog.Event] =
    (for (k <- 0 until keysPerTable; t <- tables.indices)
      yield emit(t, "insert", k, ts)).toVector

  /** One event on a uniformly drawn (table, key). */
  def next(ts: Long): Changelog.Event = {
    val t = rnd.nextInt(tables.size)
    val k = rnd.nextInt(keysPerTable).toLong
    val op =
      if (!model.isLive(t, k)) "insert"
      else if (rnd.nextDouble() < deleteShare) "delete"
      else "update"
    emit(t, op, k, ts)
  }
}

object LogFiles {

  /** Write events into `shards` files (`seq` mod shards), each in
    * rising `seq` order — the source's per-file contract. */
  def writeSharded(dir: Path, events: Seq[Changelog.Event],
      tables: Seq[TableSpec], shards: Int): Unit = {
    Files.createDirectories(dir)
    val bufs = Array.fill(shards)(new StringBuilder)
    events.foreach { e =>
      bufs((e.seq % shards).toInt).append(e.json(tables)).append('\n')
    }
    bufs.indices.foreach { i =>
      Files.write(dir.resolve(f"part-$i%03d.jsonl"), bufs(i).toString.getBytes(UTF_8))
    }
  }

  /** Publish one complete file atomically: the source lists only
    * `.jsonl` names, so it never sees a half-written file. */
  def publish(dir: Path, name: String, events: Seq[Changelog.Event],
      tables: Seq[TableSpec]): Unit = {
    val sb = new StringBuilder
    events.foreach(e => sb.append(e.json(tables)).append('\n'))
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The CDC output check: a target read back from the sink directory
  * against the generator's model. */
object TargetCheck {

  /** `rows` are (table index, key, seq, payload values as text). */
  def verify(model: LastState, rows: Seq[(Int, Long, Long, Seq[String])],
      tables: Seq[TableSpec]): Option[String] = {
    val (wantN, wantH) = model.summary
    var h = 0L
    rows.foreach { case (t, k, s, vs) =>
      h += Changelog.rowHash(Changelog.canonical(tables(t).name, k, s, vs))
    }
    val deletedPresent = rows.count { case (t, k, _, _) => !model.isLive(t, k) }
    if (deletedPresent > 0)
      Some(s"$deletedPresent deleted key(s) present in the target")
    else if (rows.size != wantN)
      Some(s"target has ${rows.size} rows, model has $wantN")
    else if (h != wantH)
      Some(f"target hash $h%016x differs from model hash $wantH%016x")
    else None
  }
}
