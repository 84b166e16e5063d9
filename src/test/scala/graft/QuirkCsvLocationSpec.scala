package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Where a `graftcsv` location does not exist: a read fails loudly with
  * Spark's `PATH_NOT_FOUND`, naming the path, while batch and streaming
  * writes to a fresh directory still create it. */
class QuirkCsvLocationSpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String): Seq[String] =
    spark.read.format("graftcsv").load(dir).collect().map(_.mkString(","))
      .toSeq.sorted

  test("a read of a missing location fails naming the path") {
    val missing = s"${Files.createTempDirectory("csv_loc")}/no_such_table"
    val viaLoad = intercept[AnalysisException](
      spark.read.format("graftcsv").load(missing))
    viaLoad.getCondition shouldBe "PATH_NOT_FOUND"
    viaLoad.getMessage should include(s"$missing")
    val viaSql = intercept[AnalysisException] {
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW missing_csv USING graftcsv " +
        s"OPTIONS (path '$missing')")
      spark.sql("SELECT Region FROM missing_csv").collect()
    }
    viaSql.getCondition shouldBe "PATH_NOT_FOUND"
    viaSql.getMessage should include(s"$missing")
    new java.io.File(missing).exists() shouldBe false
  }

  test("an existing empty directory still reads as an empty schema") {
    val dir = Files.createTempDirectory("csv_empty").toString
    spark.read.format("graftcsv").load(dir).columns shouldBe empty
  }

  test("batch and streaming writes to a fresh directory create it") {
    val base = Files.createTempDirectory("csv_fresh").toString
    val batchDir = s"$base/batch"
    Seq(("a", "West"), ("b", "East")).toDF("k", "v")
      .write.format("graftcsv").mode("append").save(batchDir)
    rows(batchDir) shouldBe Seq("a,West", "b,East")

    val streamDir = s"$base/stream"
    val in = MemoryStream[(String, String)](spark)
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graftcsv")
      .option("path", streamDir)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      in.addData(("c", "South"))
      q.processAllAvailable()
    } finally q.stop()
    rows(streamDir) shouldBe Seq("c,South")
  }
}
