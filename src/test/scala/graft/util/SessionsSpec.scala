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

  test("Sessions is the only file under src/ that builds a SparkSession") {
    val needle = "SparkSession" + ".builder()"
    val walk = Files.walk(Paths.get("src"))
    val builders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(_.toString).toList
    finally walk.close()
    builders shouldBe List(Paths.get("src/main/scala/graft/util/Sessions.scala").toString)
  }
}
