package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork), built
  * by the same factory as the runners and the CLI ([[etl.Sessions]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = etl.Sessions.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_test_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
