package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.cdc.ChangeEvent
import graft.meta.{ColumnDef, DdlParser, DdlStatement, SchemaRegistry, TableDef}
import graft.operators.Transforms
import graft.sinks.ParquetUpsertSink

/** End-to-end changelog replay (SURVEY §5.2): MemoryStream envelope
  * → route → transform → compact → parquet upsert sink, asserted
  * against the naively-applied oracle state. */
class PipelineSpec extends SparkSpec {
  import PipelineSpec._
  import spark.implicits._

  private val target = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("k", "int"),
    ColumnDef("c", "varchar(120)")))

  private def ev(op: String, seq: Long, id: Long, k: Int, c: String,
      table: String = "t1"): ChangeEvent =
    ChangeEvent("db1", table, op, new Timestamp(1700000000000L + seq), s"gtid:$seq",
      seq, 0, Map("id" -> id.toString, "k" -> k.toString, "c" -> c), null)

  test("changelog replay: insert/update/delete/reinsert + routing + idempotent replay") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val sink = new ParquetUpsertSink(dir)
    val route = Pipeline.Route("db1", "t1", target,
      transforms = Seq(Transforms.dropWhere(col("op") === "replace")))

    // batch 1: FIXTURES A.5 — same-key insert→update→delete→insert,
    // a second key ending deleted, an unrouted table, a replace drop.
    // Data added BEFORE start: AvailableNow snapshots its target
    // offset at query start.
    mem.addData(
      ev("insert", 1, 1, 10, "a"),
      ev("update", 2, 1, 11, "a2"),
      ev("delete", 3, 1, 0, ""),
      ev("insert", 4, 1, 12, "a3"),
      ev("insert", 5, 2, 20, "b"),
      ev("delete", 6, 2, 0, ""),
      ev("insert", 7, 9, 99, "unrouted", table = "t_other"),
      ev("replace", 8, 3, 30, "dropped-by-transform"))
    val q = Pipeline.start(mem.toDF(), Seq(route), sink, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    val state1 = spark.read.parquet(s"$dir/db1.t1")
      .select($"id", $"k", $"c").as[(Long, Int, String)].collect().sortBy(_._1)
    assert(state1.toSeq == Seq((1L, 12, "a3")))

    // batch 2 (restart from checkpoint): update key 1, re-insert key 2
    mem.addData(ev("update", 9, 1, 13, "a4"), ev("insert", 10, 2, 21, "b2"))
    val q2 = Pipeline.start(mem.toDF(), Seq(route), sink, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.processAllAvailable()
    q2.stop()

    val state2 = spark.read.parquet(s"$dir/db1.t1")
      .select($"id", $"k", $"c").as[(Long, Int, String)].collect().sortBy(_._1)
    assert(state2.toSeq == Seq((1L, 13, "a4"), (2L, 21, "b2")))
  }

  test("routed() projects the map envelope onto typed columns") {
    val df = Seq(ev("insert", 1, 7, 70, "x")).toDF()
    val out = Pipeline.routed(df, Pipeline.Route("db1", "t1", target))
    assert(out.schema("id").dataType.typeName == "long")
    assert(out.schema("k").dataType.typeName == "integer")
    val row = out.select($"id", $"k", $"c", $"op", $"seq")
      .as[(Long, Int, String, String, Long)].head()
    assert(row == (7L, 70, "x", "insert", 1L))
  }

  test("retry: linear backoff then success / exhaustion") {
    var n = 0
    val got = Pipeline.retry(tries = 3, backoffMs = 1) {
      n += 1; if (n < 3) sys.error("boom") else 42
    }
    assert(got == 42 && n == 3)
    var m = 0
    val ex = intercept[RuntimeException] {
      Pipeline.retry(tries = 2, backoffMs = 1) { m += 1; sys.error("always") }
    }
    assert(ex.getMessage == "always" && m == 2)
  }

  private def tableDef(name: String) = target.copy(name = name)

  private def stateOf(dir: String, t: String): Seq[(Long, Int, String)] =
    spark.read.parquet(s"$dir/db1.$t")
      .select($"id", $"k", $"c").as[(Long, Int, String)].collect()
      .toSeq.sortBy(_._1)

  /** Four routes onto their own targets plus two sources onto one
    * shared target, all in one batch. */
  private val distinct = Seq("t1", "t2", "t3", "t4")
  private val multiRoutes =
    distinct.map(t => Pipeline.Route("db1", t, tableDef(t))) ++
      Seq("s_a", "s_b").map(s => Pipeline.Route("db1", s, tableDef("shared")))

  /** Random insert/update/delete traffic over small key spaces. The
    * shared target's keys overlap across its two sources, and every
    * `s_b` event follows every `s_a` event, so applying the routes in
    * declaration order is the same as applying the events by `seq`. */
  private def multiLog(seed: Long): Seq[ChangeEvent] = {
    val rnd = new Random(seed)
    var seq = 0L
    def next(table: String, keys: Range): ChangeEvent = {
      seq += 1
      val op = Seq("insert", "update", "delete")(rnd.nextInt(3))
      val id = keys(rnd.nextInt(keys.size)).toLong
      ev(op, seq, id, rnd.nextInt(1000), s"$table-$seq", table)
    }
    (0 until 60).flatMap { i =>
      distinct.map(next(_, 1 to 8)) :+
        (if (i < 30) next("s_a", 1 to 10) else next("s_b", 5 to 15))
    }
  }

  /** Last state per target: every event applied in `seq` order. */
  private def oracle(log: Seq[ChangeEvent]): Map[String, Seq[(Long, Int, String)]] = {
    val targetOf = Map("s_a" -> "shared", "s_b" -> "shared").withDefault(identity)
    log.groupBy(e => targetOf(e.table)).map { case (t, evs) =>
      val state = evs.sortBy(_.seq).foldLeft(Map.empty[Long, (Long, Int, String)]) {
        (m, e) =>
          val id = e.after("id").toLong
          if (e.op == "delete") m - id
          else m + (id -> (id, e.after("k").toInt, e.after("c")))
      }
      t -> state.values.toSeq.sortBy(_._1)
    }
  }

  private def drain(mem: MemoryStream[ChangeEvent], routes: Seq[Pipeline.Route],
      sink: Pipeline.BatchSink, ckpt: String) = {
    val q = Pipeline.start(mem.toDF(), routes, sink, ckpt,
      trigger = Trigger.AvailableNow())
    // a failed query rethrows here; callers inspect q.exception
    try q.awaitTermination(120000)
    catch { case _: StreamingQueryException => () }
    q
  }

  test("multi-route batch: concurrent targets and a shared target equal the oracle") {
    val dir = Files.createTempDirectory("graft-multi").toString
    val ckpt = Files.createTempDirectory("graft-multi-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val log = multiLog(7)
    mem.addData(log: _*)
    val q = drain(mem, multiRoutes, new ParquetUpsertSink(dir), ckpt)
    assert(q.exception.isEmpty, q.exception)
    assert(Files.exists(Paths.get(ckpt, "commits", "0")))
    val want = oracle(log)
    assert(want("shared").nonEmpty)
    (distinct :+ "shared").foreach { t =>
      assert(stateOf(dir, t) == want(t), s"target $t")
    }
  }

  test("multi-route batch: a failing target fails the batch with its own " +
      "exception after every group finished; a restart converges") {
    val dir = Files.createTempDirectory("graft-fail").toString
    val ckpt = Files.createTempDirectory("graft-fail-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val log = multiLog(11)
    mem.addData(log: _*)

    // direct call: the sink's own exception type, and every sleeping
    // group's write landed before processBatch threw
    val failing = new RecordingSink(new ParquetUpsertSink(
      Files.createTempDirectory("graft-fail-direct").toString),
      failOn = Some("t2"), sleepMs = 400)
    intercept[SinkBoom] {
      Pipeline.processBatch(log.toDF(), multiRoutes, failing, 0L)
    }
    val atThrow = failing.log.asScala.toVector
    assert(failing.inFlight.get == 0)
    assert(atThrow.exists(_.table == "t1"))
    Thread.sleep(600)
    assert(failing.log.asScala.toVector == atThrow)

    // through the query: no commit for the failed batch
    val q = drain(mem, multiRoutes, new RecordingSink(new ParquetUpsertSink(dir),
      failOn = Some("t2"), sleepMs = 100), ckpt)
    val err = q.exception.getOrElse(fail("the batch should have failed"))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[SinkBoom]), err)
    assert(!chain.exists(_.isInstanceOf[java.util.concurrent.ExecutionException]), err)
    assert(!Files.exists(Paths.get(ckpt, "commits", "0")))

    // restart with a healthy sink ≡ a clean drain
    val q2 = drain(mem, multiRoutes, new ParquetUpsertSink(dir), ckpt)
    assert(q2.exception.isEmpty, q2.exception)
    val cleanDir = Files.createTempDirectory("graft-clean").toString
    drain(mem, multiRoutes, new ParquetUpsertSink(cleanDir),
      Files.createTempDirectory("graft-clean-ckpt").toString)
    val want = oracle(log)
    (distinct :+ "shared").foreach { t =>
      assert(stateOf(dir, t) == stateOf(cleanDir, t), s"target $t")
      assert(stateOf(dir, t) == want(t), s"target $t")
    }
  }

  test("multi-route batch: query.stop() returns only after every group finished") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    mem.addData(multiLog(13): _*)
    val sink = new RecordingSink(new ParquetUpsertSink(
      Files.createTempDirectory("graft-stop").toString), sleepMs = 30000)
    val q = Pipeline.start(mem.toDF(), multiRoutes, sink,
      Files.createTempDirectory("graft-stop-ckpt").toString,
      trigger = Trigger.AvailableNow())
    // four groups in flight at once (local[4]), each inside its write
    assert(sink.entered.await(60, TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    q.stop()
    val stopS = (System.nanoTime() - t0) / 1e9
    assert(sink.inFlight.get == 0)
    val atStop = sink.log.asScala.toVector
    Thread.sleep(500)
    assert(sink.inFlight.get == 0 && sink.log.asScala.toVector == atStop)
    assert(stopS < 30, s"stop took $stopS s")
  }

  test("multi-route batch: sink writes see the stream thread's Spark thread-locals") {
    implicit val sqlCtx = spark.sqlContext
    // two queries in a row: the second runs on pooled threads the
    // first created, so nothing passes by thread inheritance alone
    (1 to 2).foreach { n =>
      val mem = MemoryStream[ChangeEvent]
      mem.addData(multiLog(17 + n): _*)
      val sink = new RecordingSink(new ParquetUpsertSink(
        Files.createTempDirectory("graft-tl").toString))
      val q = drain(mem, multiRoutes, sink,
        Files.createTempDirectory("graft-tl-ckpt").toString)
      assert(q.exception.isEmpty, q.exception)
      val writes = sink.log.asScala.toVector
      assert(writes.map(_.table).toSet == (distinct :+ "shared").toSet)
      writes.foreach { w =>
        assert(w.thread.startsWith("graft-route-"), w)
        assert(w.jobGroup == q.runId.toString, w)
        assert(w.queryId == q.id.toString, w)
        assert(w.activeIsBatchSession, w)
        assert(w.executionId == null, w)
      }
    }
  }

  test("evolution: a route with transforms is refused before a query starts") {
    val registry = new SchemaRegistry
    registry.register(target)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val ckpt = Files.createTempDirectory("graft-evo-refused-ckpt")
    val route = Pipeline.Route("db1", "t1", target,
      transforms = Seq(Transforms.dropWhere(col("op") === "replace")))
    val before = spark.streams.active.map(_.id).toSet
    intercept[IllegalArgumentException] {
      Pipeline.start(mem.toDF(), Seq(route), new ParquetUpsertSink(
        Files.createTempDirectory("graft-evo-refused").toString),
        ckpt.toString, trigger = Trigger.AvailableNow(),
        evolution = Some(Pipeline.Evolution(registry)))
    }
    assert(spark.streams.active.map(_.id).toSet == before)
    assert(Files.list(ckpt).count() == 0)
  }

  private def evo(seq: Long, table: String, op: String, ver: Int,
      after: (String, String)*): ChangeEvent =
    ChangeEvent("db1", table, op, new Timestamp(1700000000000L + seq),
      s"gtid:$seq", seq, ver, after.toMap, null)

  test("evolution: one batch forwards a table's DDL to its own route's target " +
      "only, and both renamed targets equal the oracle in the evolved shape") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE a (id BIGINT PRIMARY KEY, k INT)", "db1")
    registry.applySql("CREATE TABLE b (id BIGINT PRIMARY KEY, k INT)", "db1")
    val routes = Seq("a", "b").map(t => Pipeline.Route("db1", t,
      registry.current("db1", t).get.copy(schema = "tgt", name = t + "2")))
    val alter = "ALTER TABLE a ADD COLUMN note VARCHAR(10)"
    val log = Seq(
      evo(0, "a", "insert", 0, "id" -> "1", "k" -> "10"),
      evo(1, "a", "insert", 0, "id" -> "2", "k" -> "20"),
      evo(2, "b", "insert", 0, "id" -> "1", "k" -> "100"),
      evo(3, "a", "ddl", 0, "sql" -> alter),
      evo(4, "a", "update", 1, "id" -> "1", "k" -> "11", "note" -> "x"),
      evo(5, "b", "update", 0, "id" -> "1", "k" -> "101"),
      evo(6, "a", "insert", 1, "id" -> "3", "k" -> "30", "note" -> "y"),
      evo(7, "a", "delete", 1, "id" -> "2", "k" -> "20"),
      evo(8, "b", "insert", 0, "id" -> "2", "k" -> "200"),
      // a v0 straggler after the DDL: decodes through v0, note null
      evo(9, "a", "insert", 0, "id" -> "4", "k" -> "40"))
    val forwarded = new ConcurrentLinkedQueue[(DdlStatement, String)]
    val evolution = Pipeline.Evolution(registry, (stmt, t) => {
      forwarded.add((stmt, s"${t.schema}.${t.name}")); true
    })
    val dir = Files.createTempDirectory("graft-evo-routes").toString
    Pipeline.processBatch(log.toDF(), routes, new ParquetUpsertSink(dir), 0L,
      Some(evolution))

    assert(forwarded.asScala.toSeq ==
      DdlParser.parse(alter, "db1").get._2.map(_ -> "tgt.a2"))
    /** Last state per key, every event applied in `seq` order. */
    def oracle(table: String, cols: Seq[String]): Seq[Seq[Option[String]]] =
      log.filter(e => e.table == table && e.op != "ddl").sortBy(_.seq)
        .foldLeft(Map.empty[Long, Seq[Option[String]]]) { (m, e) =>
          val id = e.after("id").toLong
          if (e.op == "delete") m - id else m + (id -> cols.map(e.after.get))
        }.toSeq.sortBy(_._1).map(_._2)
    Seq("a" -> Seq("id", "k", "note"), "b" -> Seq("id", "k")).foreach {
      case (t, cols) =>
        val out = spark.read.parquet(s"$dir/tgt.${t}2")
        assert(out.columns.toSeq.take(cols.size) == cols, t)
        val got = out.select(cols.map(c => col(c).cast("string")): _*).collect()
          .map(r => r.toSeq.map(v => Option(v).map(_.toString))).toSeq
          .sortBy(_.head.get.toLong)
        assert(got == oracle(t, cols), t)
    }
  }
}

object PipelineSpec {
  final class SinkBoom(msg: String) extends RuntimeException(msg)

  final case class Write(table: String, thread: String, jobGroup: String,
      queryId: String, executionId: String, activeIsBatchSession: Boolean)

  /** Wraps `real`: records each write with the Spark thread-locals seen
    * at entry, throws [[SinkBoom]] on `failOn`, and sleeps `sleepMs`
    * before every other write. */
  final class RecordingSink(real: Pipeline.BatchSink,
      failOn: Option[String] = None, sleepMs: Long = 0) extends Pipeline.BatchSink {
    val log = new ConcurrentLinkedQueue[Write]
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val entered = new CountDownLatch(4)

    def write(batch: DataFrame, t: TableDef, batchId: Long): Unit = {
      val sc = batch.sparkSession.sparkContext
      val seen = Write(t.name, Thread.currentThread().getName,
        sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("sql.streaming.queryId"),
        sc.getLocalProperty("spark.sql.execution.id"),
        SparkSession.getActiveSession.exists(_ eq batch.sparkSession))
      inFlight.incrementAndGet()
      entered.countDown()
      try {
        if (failOn.contains(t.name)) throw new SinkBoom(s"${t.name} refused")
        Thread.sleep(sleepMs)
        real.write(batch, t, batchId)
        log.add(seen)
      } finally inFlight.decrementAndGet()
    }
  }
}
