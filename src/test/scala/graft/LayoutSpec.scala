package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Scale

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("writeRangeLayout: files hold disjoint, sorted value ranges") {
    val dir = Files.createTempDirectory("graft_rangelayout").toString
    // skewed data: half the rows in a narrow band — range exchange must
    // still split into balanced, DISJOINT files
    val df = ((1L to 500L) ++ (10000L to 10500L)).toDF("v")
      .withColumn("payload", col("v") * 2)
    Scale.writeRangeLayout(df, dir, "v", numFiles = 4)

    val ranges = Scale.fileRanges(spark, dir, "v")
      .as[(String, Long, Long)].collect()
    ranges.length shouldBe 4
    // pairwise disjoint: each file's min exceeds the previous file's max
    ranges.sliding(2).foreach { case Array((_, _, hi1), (_, lo2, _)) =>
      lo2 should be > hi1
    }
    // nothing lost in the re-layout
    spark.read.parquet(dir).as[(Long, Long)].collect().toSeq.sorted shouldBe
      df.as[(Long, Long)].collect().toSeq.sorted
  }
}
