package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local SparkSession for the whole forked test JVM — session
  * startup is ~5 s, so per-suite sessions would dominate test wall time. */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Sessions.build(Seq(
      "spark.app.name" -> "graft-tests",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString),
    slots = 4, logLevel = "ERROR")
}

abstract class SparkTestBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark
}
