package graft.util

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

class SessionsSpec extends SparkTestBase {

  test("the test session carries the common confs at its own slot count") {
    val conf = spark.conf
    spark.sparkContext.master shouldBe "local[4]"
    conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    conf.get(LocalFsCheckpointFileManager.Key) shouldBe classOf[LocalFsCheckpointFileManager].getName
    spark.sparkContext.appName shouldBe "graft-tests"
  }

  /** The .scala files under `dir` whose text contains `needle`. */
  private def sourcesWith(dir: String, needle: String): List[String] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(_.toString).toList.sorted
    finally walk.close()
  }

  test("Sessions is the only file under src/ that builds a SparkSession") {
    sourcesWith("src", "SparkSession" + ".builder()") shouldBe
      List(Paths.get("src/main/scala/graft/util/Sessions.scala").toString)
  }

  test("Bench and Verify are the only mains under src/main") {
    // a print-only probe main belongs in the suite or in the test-scope
    // graft.Profile, where a check runs it
    sourcesWith("src/main", "def " + "main(") shouldBe
      List("Bench", "Verify").map(m => Paths.get(s"src/main/scala/graft/$m.scala").toString)
    sourcesWith("src/main", "extends " + "App") shouldBe Nil
  }
}
