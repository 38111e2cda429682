package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites
  * run in a single forked JVM, see build.sbt Test/fork). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's local filesystem, as Sessions.defaults sets it
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
