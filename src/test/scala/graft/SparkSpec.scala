package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession via getOrCreate). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // unpartitioned windows are deliberate in many queries; their per-plan
    // "No Partition Defined" warning would otherwise bury the test output
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
