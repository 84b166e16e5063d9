package graft

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Limit pushdown (per-split early exit) and the reader's custom task
  * metrics (rowsEmitted / rowsFiltered) on the graftcsv source. */
class QuirkCsvLimitMetricsSpec extends SparkSpec {

  // the committed day-1 extract (TESTDATA.md) and its ground-truth line
  // count from the generator
  private def resource(name: String): String =
    new File(getClass.getResource(s"/superstore/$name").toURI).getPath
  private val csv = resource("day1.csv")
  private val totalRows = new ObjectMapper()
    .readTree(new File(resource("truth.json"))).at("/day1/lines").asLong

  private def graft(opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graftcsv"))((r, kv) =>
      r.option(kv._1, kv._2)).load(csv)

  /** Sum of a custom metric across the plan's BatchScan nodes. Metric
    * accumulators land via async task-end events, so poll until the
    * value is stable across a quiet window. */
  private def metric(df: DataFrame, name: String): Long = {
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
    : Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans)
    }
    def read: Long = scans(df.queryExecution.executedPlan)
      .map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
    var prev = -1L
    var cur = read
    var tries = 0
    while (cur != prev && tries < 40) {
      prev = cur; Thread.sleep(50); cur = read; tries += 1
    }
    cur
  }

  test("pushed limit stops each split early; Spark's Limit stays correct") {
    // splits of 8 KiB; limit 7 => each split parses <= 7 rows
    val opt = "maxSplitBytes" -> "8192"
    val splits = graft(opt).rdd.getNumPartitions
    splits should be > 1
    val df = graft(opt).limit(7)
    df.queryExecution.executedPlan.toString should
      include("PushedLimit: LIMIT 7 (per split)")
    df.collect().length shouldBe 7
    val emitted = metric(df, "rowsEmitted")
    emitted should be >= 7L
    emitted should be <= (splits * 7L)
  }

  test("rowsFiltered counts reader-side drops from pushed filters") {
    val df = graft().filter(col("Region") === "West")
    val n = df.collect().length.toLong
    metric(df, "rowsEmitted") shouldBe n
    metric(df, "rowsFiltered") shouldBe (totalRows - n)
  }

  test("aggregate pushdown reports the underlying parse volume") {
    val df = graft().agg(count(lit(1)))
    df.collect().head.getLong(0) shouldBe totalRows
    metric(df, "rowsEmitted") shouldBe totalRows
  }
}
