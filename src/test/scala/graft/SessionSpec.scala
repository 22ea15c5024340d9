package graft

import org.apache.spark.sql.SparkSession

class SessionSpec extends SparkSpec {

  test("the test session and a Session-built session share the SQL conf") {
    val test = spark
    // a second session on the suite's SparkContext: only with no
    // active or default session does getOrCreate build a new one
    // instead of returning (and reconfiguring) the shared test session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val built =
      try Session.local().config("spark.sql.warehouse.dir",
        test.conf.get("spark.sql.warehouse.dir")).getOrCreate()
      finally {
        SparkSession.setDefaultSession(test)
        SparkSession.setActiveSession(test)
      }
    assert(!(built eq test))
    val expected = Session.conf.toMap
    Seq("spark.sql.extensions", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.optimizer.excludedRules",
      "spark.sql.adaptive.enabled").foreach { k =>
      assert(built.conf.get(k) == expected(k), k)
      assert(test.conf.get(k) == expected(k), k)
    }
    // shuffle partitions = cores; the test session pins its own 4 to
    // match local[4], and in-process mains (MainSpec) reset it at runtime
    assert(built.conf.get("spark.sql.shuffle.partitions") == Session.cores.toString)
    // the extension is live on the built session without the
    // imperative GraftExtensions.ensure a query would run
    assert(built.catalog.functionExists("dot_product"))
  }
}
