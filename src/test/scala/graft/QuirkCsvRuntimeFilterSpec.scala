package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `SupportsRuntimeFiltering` on the graftcsv scan: when the source side
  * of a broadcast join has a selective filter, Spark ships the ACTUAL
  * join-key values (an `In` built from the broadcast result) into the
  * scan at runtime, and the reader drops non-matching rows during the
  * parse — the DSv2 analog of dynamic partition pruning, except it works
  * on an unpartitioned raw file. */
class QuirkCsvRuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  // the committed day-1 extract (TESTDATA.md)
  private val csv =
    new File(getClass.getResource("/superstore/day1.csv").toURI).getPath

  private def fact: DataFrame =
    spark.read.format("graftcsv").load(csv)

  private def withDpp[T](body: => T): T = {
    // benefit estimation has no stats for an in-memory dim; force the
    // fallback path (still broadcast-reuse-only, the default)
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try body
    finally spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  test("broadcast join injects a runtime In-filter into the scan") {
    withDpp {
      // the dim must survive as a real scan with a Filter above it — an
      // in-memory Seq constant-folds to a LocalRelation and DPP sees no
      // selective predicate to reuse
      val dimPath =
        java.nio.file.Files.createTempDirectory("rf_dim").toString
      Seq(("West", 1), ("East", 2), ("Central", 3), ("South", 4))
        .toDF("r", "r_id").write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val joined = fact.join(dim.filter(col("r_id") === 1),
        col("Region") === col("r"))
      val rows = joined.collect()
      rows.length shouldBe
        fact.filter(col("Region") === "West").count()
      // the executed plan carries the dynamic-pruning subquery on the scan
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("RuntimeFilters: [")
      plan should include("dynamicpruning")
    }
  }

  test("runtime filter is an optimization only: non-evaluable ones drop") {
    // scan.filter receives whatever Spark derives; a filter on an
    // unknown column must be ignored, not crash the reader
    val scan = new graft.sources.QuirkCsvScanBuilderAccess()
      .scanFor(csv)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("Region", "West"),
      org.apache.spark.sql.sources.EqualTo("NoSuchColumn", "x"),
      org.apache.spark.sql.sources.GreaterThan("Region", "A")))
    // only the evaluable equality survives: reading through the factory
    // yields exactly the West rows
    val reader = scan.createReaderFactory().createReader(
      scan.planInputPartitions()(0))
    var n = 0
    while (reader.next()) n += 1
    reader.close()
    n shouldBe fact.filter(col("Region") === "West").count()
  }
}
