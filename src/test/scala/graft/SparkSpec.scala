package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // static conf: bucketed-table tests need a disposable catalog
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft-test-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // specs call operator functions directly, outside SparkEntry.queries'
    // per-query registration
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
  val sf1: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf1: String = TestSpark.sf1
}
