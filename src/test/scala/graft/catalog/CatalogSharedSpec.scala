package graft
package catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

class CatalogSharedSpec extends SparkTestBase {

  test("every Staging.dir label under src/main is staged at exactly one site") {
    val site = """Staging\.dir\("([^"]+)"""".r
    val walk = Files.walk(Paths.get("src/main"))
    val labels = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => site.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p.toString))
      .toList
    finally walk.close()
    labels should not be empty
    labels.groupBy(_._1).filter(_._2.size > 1) shouldBe empty
  }

  private def stagedIds(n: Int): String = {
    val dir = Files.createTempDirectory("graft_memsink_spec_").resolve("in").toString
    spark.range(n).write.parquet(dir)
    dir
  }

  test("memorySinkRows: post-processed sink rows come back as a local frame and the view is dropped") {
    val s2 = CatalogShared.isolated(spark, "spark.sql.shuffle.partitions" -> "2")
    val stream = s2.readStream.schema("id LONG").parquet(stagedIds(5))
    val out = CatalogShared.memorySinkRows(spark, stream, "graft_memsink_spec_ok",
      "append", post = _.where(col("id") % 2 === 0))
    out.sparkSession shouldBe spark
    out.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(0L, 2L, 4L)
    s2.catalog.tableExists("graft_memsink_spec_ok") shouldBe false
  }

  test("memorySinkRows: a failing post-processing surfaces and the sink's temp view is gone") {
    val stream = spark.readStream.schema("id LONG").parquet(stagedIds(3))
    val e = intercept[IllegalStateException] {
      CatalogShared.memorySinkRows(spark, stream, "graft_memsink_spec_fail", "append",
        post = { _ =>
          // the sink ran: its view is live when the post-processing fails
          spark.catalog.tableExists("graft_memsink_spec_fail") shouldBe true
          throw new IllegalStateException("post failed")
        })
    }
    e.getMessage shouldBe "post failed"
    spark.catalog.tableExists("graft_memsink_spec_fail") shouldBe false
  }
}
