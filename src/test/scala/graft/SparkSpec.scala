package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  /** The mains' shared conf ([[Session.builder]]) on `local[4]`, so
    * the suite pins the same plans the bench runs. */
  lazy val spark: SparkSession = Session.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    // catalog tests register external tables; keep catalog
    // metadata out of the repo tree
    .config("spark.sql.warehouse.dir",
      System.getProperty("java.io.tmpdir") + "/graft-test-warehouse")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
