package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Pins the event-analytics queries' semantics beyond the DuckDB
  * oracle: the banded lateness prefix-max must equal the naive
  * global-window form it replaces, funnel stages must be monotone
  * (a user can't convert without reaching the prior stage), and the
  * hourly rollup must equal its Structured Streaming replay.
  */
class EventQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("banded lateness profile ≡ naive global-window running max") {
    val ev = Tables.loadEventsNs(spark, sfDir).select($"event_id", $"ts")
    // the single-partition form the banded plan replaces — fine as a
    // test oracle at sf0.001, a scale-killer as a production plan
    val w = Window.orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = ev.withColumn("pmax", max($"ts").over(w))
      .filter($"pmax".isNotNull)
      .withColumn("late_ns", greatest($"pmax" - $"ts", lit(0L)))
      .withColumn("ord",
        when($"late_ns" === 0L, 0)
          .when($"late_ns" <= 60000000000L, 1)
          .when($"late_ns" <= 600000000000L, 2)
          .when($"late_ns" <= 3600000000000L, 3)
          .otherwise(4))
      .groupBy($"ord")
      .agg(count(lit(1)).as("n_events"), max($"late_ns").as("max_late_ns"))
      .select($"ord", $"n_events", $"max_late_ns")
      .as[(Int, Long, Long)].collect().toSet
    val banded = SparkEntry.queries("cdc_lateness_profile")(spark, sfDir)
      .select($"ord", $"n_events", $"max_late_ns")
      .as[(Int, Long, Long)].collect().toSet
    assert(banded == naive)
  }

  test("lateness buckets populate on planted out-of-order arrivals") {
    // the testdata arrives nearly in event-time order (profile = one
    // on_time bucket), so plant controlled disorder: arrival i carries
    // event-time that jumps ahead then falls behind by known gaps
    // spanning every bucket boundary
    val tmp = java.nio.file.Files.createTempDirectory("graft-lateness").toString
    val base = 1700000000000000000L
    val m = 60000000000L // 1 minute ns
    val rows = (0L until 2000L).map { i =>
      // high-watermark carriers every 100 events jump far ahead;
      // stragglers land behind by i%4-selected gaps
      val ts =
        if (i % 100 == 0) base + i * m * 100
        else {
          val hw = base + (i - i % 100) * m * 100
          (i % 4) match {
            case 0 => hw + i * 1000L   // ahead of watermark → on_time
            case 1 => hw - 30000000000L    // 30s late → le_1m
            case 2 => hw - 300000000000L   // 5m late → le_10m
            case _ => hw - 7200000000000L  // 2h late → gt_1h
          }
        }
      (i, ts)
    }
    rows.toDF("event_id", "ts").write.mode("overwrite")
      .parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("cdc_lateness_profile")(spark, tmp)
      .select($"bucket", $"n_events").as[(String, Long)].collect().toMap
    assert(Set("on_time", "le_1m", "le_10m", "gt_1h").subsetOf(out.keySet),
      s"expected planted buckets, got $out")
    // and the banded plan still equals the naive global window here
    val ev = Tables.loadEventsNs(spark, tmp).select($"event_id", $"ts")
    val w = org.apache.spark.sql.expressions.Window.orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = ev.withColumn("pmax", max($"ts").over(w))
      .filter($"pmax".isNotNull)
      .withColumn("late_ns", greatest($"pmax" - $"ts", lit(0L)))
      .agg(sum($"late_ns"), count(lit(1))).as[(Long, Long)].head()
    val banded = SparkEntry.queries("cdc_lateness_profile")(spark, tmp)
      .agg(sum($"max_late_ns") > lit(0L), sum($"n_events"))
      .as[(Boolean, Long)].head()
    assert(banded._2 == naive._2)
    assert(banded._1 == (naive._1 > 0))
  }

  test("funnel stages are monotone non-increasing") {
    val stages = SparkEntry.queries("q_event_funnel")(spark, sfDir)
      .orderBy($"stage").select($"n_users").as[Long].collect().toSeq
    assert(stages.size == 3)
    assert(stages == stages.sorted.reverse,
      s"stage counts must not grow down-funnel: $stages")
    assert(stages.head > 0)
  }

  test("retention cohorts: offset 0 row exists for every cohort and totals match") {
    val rows = SparkEntry.queries("q_retention_cohort")(spark, sfDir)
      .select($"cohort_week", $"offset_weeks", $"n_users")
      .as[(Long, Long, Long)].collect().toSeq
    val byCohort = rows.groupBy(_._1)
    // every cohort has its week-0 row, and its week-0 count bounds
    // every later offset (retention can't exceed the cohort size)
    byCohort.foreach { case (cw, rs) =>
      val w0 = rs.find(_._2 == 0L)
      assert(w0.isDefined, s"cohort $cw missing offset-0 row")
      assert(rs.forall(_._3 <= w0.get._3), s"cohort $cw retention > size")
    }
    // cohort sizes sum to the distinct-user count
    val users = Tables.loadEventsNs(spark, sfDir)
      .select($"user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum == users)
  }

  test("tumbling-window stream ≡ batch cdc_hourly_rollup on the same events") {
    // the oracle-checked batch rollup replayed as a Structured
    // Streaming aggregate over the same parquet, ts normalized through
    // the same contract probe the batch loader uses
    val eventsDir = java.nio.file.Files.createTempDirectory("graft-twin-events")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      eventsDir.resolve("events.parquet"))
    eventsDir.toFile.deleteOnExit()
    eventsDir.resolve("events.parquet").toFile.deleteOnExit()
    val schema = Tables.load(spark, sfDir, "events").schema
    val streamEvents = Tables.normalizeTsNs(
      spark.readStream.schema(schema).parquet(eventsDir.toString))

    val batch = SparkEntry.queries("cdc_hourly_rollup")(spark, sfDir)
      .select(col("hr").cast("string"), col("event_type"), col("n"),
        col("sum_value"))
      .collect().map(_.toString).toSet

    val rollup = streamEvents
      .withColumn("hr_t", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("hr_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").cast("string").as("hr"),
        col("event_type"), col("n"), col("sum_value"))
    // complete mode emits every group's final state without coupling
    // the test to watermark-flush timing
    val q = rollup.writeStream.format("memory").queryName("twin_rollup")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "twin_rollup did not finish")
    val streamed = spark.table("twin_rollup").collect().map(_.toString).toSet

    assert(streamed == batch,
      s"streaming rollup diverges: only-stream=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }
}
