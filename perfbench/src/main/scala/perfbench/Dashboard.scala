package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.superstore.{Marts, Staging}

/** The dashboard session of superstore_day, on the landed day-1 warehouse:
  * one closed-loop client replays the seeded slicer stream (stream.tsv),
  * one query at a time, each a fresh DataFrame collected to the client. One
  * unit = one query. The stream comes in blocks with a fixed kind mix, and
  * the session measures whole blocks, so every run has the same mix.
  * Answers go to answers.tsv as (row count, digest) for run.py to compare
  * with the ground-truth cube. */
object Dashboard {
  import Warehouse._

  final case class Query(kind: String, regions: Option[Seq[String]],
                         segments: Option[Seq[String]], year: Option[Int])

  def parse(line: String): Query = {
    val Array(kind, r, s, y) = line.split("\t", -1)
    def list(v: String) = if (v == "*") None else Some(v.split(",").toSeq)
    Query(kind, list(r), list(s), if (y == "*") None else Some(y.toInt))
  }

  final class Slicers(spark: SparkSession, cat: String,
                                fact: StructType, product: StructType,
                                date: StructType) {
    def staged: DataFrame = Staging.deduped(Staging.typed(
      spark.table(s"$cat.raw.superstore")
        .withColumn("ingested_at", to_timestamp(lit(runTs1)))))

    def factFor(year: Option[Int]): DataFrame = read(spark,
      s"$cat.fact.sales", fact, year.map(y => col("order_year") === y.toString))

    def frame(q: Query): DataFrame = q.kind match {
      case "pivotByCategory" => Marts.pivotByCategory(staged, q.regions, q.segments)
      case "pivotByOrderDate" => Marts.pivotByOrderDate(staged, q.regions, q.segments)
      case "chartCategoryBar" => Marts.chartCategoryBar(staged, q.regions, q.segments)
      case "chartYearMonthLine" =>
        Marts.chartYearMonthLine(staged, q.regions, q.segments)
      case "chartCategoryPie" => Marts.chartCategoryPie(staged, q.regions, q.segments)
      case "topProductsBySubCat" => Marts.topProductsBySubCat(factFor(q.year),
        read(spark, s"$cat.dim.product", product))
      case "customerCohort" => Marts.customerCohort(factFor(q.year),
        read(spark, s"$cat.dim.date", date))
    }
  }

  val kinds = Seq("pivotByCategory", "pivotByOrderDate", "chartCategoryBar",
    "chartYearMonthLine", "chartCategoryPie", "topProductsBySubCat",
    "customerCohort")

  /** Replays whole blocks of the stream until --seconds have passed. */
  def session(run: Run, wh: Slicers): Unit = {
    val stream = Files.readAllLines(Paths.get(s"${run.work}/stream.tsv"))
      .asScala.toIndexedSeq
    val seen = scala.collection.mutable.HashSet.empty[String]
    val answers = new StringBuilder
    var repeats, emitted, filtered = 0L
    val t = run.tracer
    val start = System.nanoTime
    var i = 0
    while ((System.nanoTime - start) / 1e9 < run.seconds || i % run.block != 0) {
      val line = stream(i % stream.size)
      val q = parse(line)
      if (!seen.add(line)) repeats += 1
      val on = run.beginUnit(i)
      run.attempted += 1
      val q0 = System.nanoTime
      val outcome = try {
        t.span(s"dashboard.query.${q.kind}") {
          val df = t.span("dashboard.plan") {
            val df = wh.frame(q)
            df.queryExecution.executedPlan
            df
          }
          val rows = t.span("dashboard.exec")(df.collect())
          if (on) {
            val (e, f) = SourceMetrics(df.queryExecution.executedPlan)
            emitted += e
            filtered += f
          }
          Right(rows)
        }
      } catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime - q0) / 1e6
      run.endUnit(ms, on)
      outcome match {
        case Right(rows) =>
          run.step("query_ms", ms)
          run.step(q.kind, ms)
          answers ++= s"$line\t${rows.length}\t${digest(rows, ordered(q.kind))}\n"
        case Left(e) =>
          run.failed(s"query $i ($line)", e)
          answers ++= s"$line\t-1\terror\n"
      }
      i += 1
    }
    Files.writeString(Paths.get(s"${run.work}/answers.tsv"), answers.toString)
    run.info("queries") = i.toString
    run.info("distinct_slicers") = seen.size.toString
    run.layers("dashboard.repeat_share") = repeats.toDouble / math.max(1, i)
    kinds.foreach { k =>
      run.layers(s"dashboard.$k.ms_p50") =
        run.steps.get(k).map(s => Stats.median(s.toSeq)).getOrElse(0.0)
    }
    if (run.traced) {
      val n = math.max(1, run.unitsMs.count(_._2)).toDouble
      run.layers("dashboard.plan_ms_p50") = Stats.median(t.durationsMs("dashboard.plan"))
      run.layers("dashboard.exec_ms_p50") = Stats.median(t.durationsMs("dashboard.exec"))
      run.layers("sources.rows_emitted") = emitted / n
      run.layers("sources.rows_filtered") = filtered / n
      run.layers("sources.skip_ratio") =
        filtered.toDouble / math.max(1L, emitted + filtered)
    }
  }

  private def ordered(kind: String): Boolean = kind.startsWith("chart")

  /** Canonical cell text; run.py's generator encodes the truth the same way. */
  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: java.math.BigDecimal =>
      (if (d.signum == 0) d.abs else d).toPlainString
    case d: Double => new java.math.BigDecimal(d).toPlainString
    case other => other.toString
  }

  def digest(rows: Array[Row], ordered: Boolean): String = {
    val lines = rows.map(_.toSeq.map(cell).mkString("\u001f"))
    val text = (if (ordered) lines else lines.sorted).mkString("\n")
    MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }
}

/** The `graftcsv` reader's rowsEmitted / rowsFiltered SQL metrics, read
  * from an executed plan (adaptive stages included). */
object SourceMetrics extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case s: BatchScanExec => s }
    def total(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (total("rowsEmitted"), total("rowsFiltered"))
  }
}
