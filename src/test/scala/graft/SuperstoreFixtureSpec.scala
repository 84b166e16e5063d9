package graft

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.superstore.{Ingest, Pipeline}
import graft.superstore.Pipeline.Outputs
import graft.superstore.StarSchema.SuperstoreDims

/** The Superstore pipeline on the committed extract pair under
  * `src/test/resources/superstore/` (TESTDATA.md): a day-1 extract and its
  * day-2 full refresh, a few hundred lines carrying every documented quirk,
  * plus the generator's ground truth (`truth.json`). Unlike the golden
  * specs on the reference CSV, these always run. */
class SuperstoreFixtureSpec extends SparkSpec {

  private def resource(name: String): String =
    new File(getClass.getResource(s"/superstore/$name").toURI).getPath
  private val day1 = resource("day1.csv")
  private val day2 = resource("day2.csv")
  private val runDate = "2018-04-01"

  private val noBroadcast = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** runIncremental's inputs, materialized (its read-then-overwrite rule). */
  private def frozen(d: SuperstoreDims): SuperstoreDims = SuperstoreDims(
    d.date.localCheckpoint(), d.shipMode.localCheckpoint(),
    d.category.localCheckpoint(), d.subCategory.localCheckpoint(),
    d.geography.localCheckpoint(), d.customer.localCheckpoint(),
    d.product.localCheckpoint())

  /** Day 1, then day 2 against the checkpointed day-1 dims and fact. */
  private def twoDays(): (Outputs, Outputs) = {
    val d1 = Pipeline.run(spark, day1)
    val d2 = Pipeline.runIncremental(spark, day2, frozen(d1.dims),
      d1.fact.localCheckpoint(), runDate)
    (d1, d2)
  }

  /** The fact, the seven dims and the seven marts of one run. */
  private def tables(o: Outputs): Seq[(String, DataFrame)] = Seq(
    "fact" -> o.fact,
    "date" -> o.dims.date, "shipMode" -> o.dims.shipMode,
    "category" -> o.dims.category, "subCategory" -> o.dims.subCategory,
    "geography" -> o.dims.geography, "customer" -> o.dims.customer,
    "product" -> o.dims.product,
    "loadIssues" -> o.loadIssues, "rolling30" -> o.rolling30,
    "customerCohort" -> o.customerCohort, "topProducts" -> o.topProducts,
    "suspiciousDiscounts" -> o.suspiciousDiscounts,
    "pivotByCategory" -> o.pivotByCategory,
    "pivotByOrderDate" -> o.pivotByOrderDate)

  /** Schema and sorted rows of every table, collected from the SAME
    * Dataset objects, so their AQE plans are final afterwards. */
  private def contents(o: Outputs): Seq[(String, String, Seq[String])] =
    tables(o).map { case (name, df) =>
      (name, df.schema.toDDL, df.collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u001f")).toSeq.sorted)
    }

  /** One MD5 per table over its [[contents]]: schema DDL, then the sorted
    * rows, newline-separated. `golden.json` pins these for both days. */
  private def digests(day: String, o: Outputs): Seq[(String, String)] =
    contents(o).map { case (name, ddl, rows) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest((ddl +: rows).mkString("\n").getBytes("UTF-8"))
      s"$day/$name" -> md5.map(b => f"$b%02x").mkString
    }

  /** Join operators of the fact's FINAL plan: AQE's plan string also
    * prints the initial plan, so walk the executed tree (query stages
    * included) instead. Read after [[contents]] has run the fact. */
  private def joins(o: Outputs): Seq[BaseJoinExec] =
    FinalPlan.collect(o.fact.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
  private object FinalPlan extends AdaptiveSparkPlanHelper

  /** The star joins (and the J5 guard): joins whose streamed side carries
    * the fact's numbered order lines — not the joins inside a dim's plan. */
  private def starJoins(o: Outputs): Seq[String] = {
    def factSide(p: SparkPlan) = FinalPlan.find(p) {
      case w: WindowExec => w.windowExpression.exists(_.name == "order_line_no")
      case _ => false
    }.isDefined
    joins(o).filter(j => factSide(j.left)).map(_.nodeName)
  }

  test("star joins: outputs identical whether dims broadcast or sort-merge") {
    val (b1, b2) = twoDays()
    val broadcastOut = Seq(contents(b1), contents(b2))
    // defaults: every day-1 join broadcasts, and so does every star join
    // of day 2 (the SCD2 merges' own joins are the planner's business)
    joins(b1).map(_.nodeName).toSet shouldBe Set("BroadcastHashJoin")
    starJoins(b1) shouldBe Seq.fill(5)("BroadcastHashJoin")
    starJoins(b2) shouldBe Seq.fill(6)("BroadcastHashJoin")
    withSQLConf(noBroadcast: _*) {
      val (s1, s2) = twoDays()
      val sortMergeOut = Seq(contents(s1), contents(s2))
      starJoins(s1) shouldBe Seq.fill(5)("SortMergeJoin")
      starJoins(s2) shouldBe Seq.fill(6)("SortMergeJoin")
      for ((day, (b, s)) <- Seq("day 1", "day 2").zip(broadcastOut.zip(sortMergeOut));
           ((name, bSchema, bRows), (_, sSchema, sRows)) <- b.zip(s)) {
        withClue(s"$day $name: ") {
          bRows should not be empty
          sSchema shouldBe bSchema
          sRows shouldBe bRows
        }
      }
    }
  }

  test("the fact and the marts read the seven dims through their caches") {
    // a cache is identified by its cached physical plan, one object per entry
    def cacheOf(name: String, dim: DataFrame): SparkPlan =
      spark.sessionState.executePlan(dim.queryExecution.analyzed)
        .withCachedData match {
        case r: InMemoryRelation => r.cachedPlan
        case other => fail(s"$name dim is not cached: ${other.nodeName}")
      }
    def reads(caches: Seq[SparkPlan], name: String, dim: DataFrame): Boolean =
      caches.exists(_ eq cacheOf(name, dim))
    def cachesRead(df: DataFrame): Seq[SparkPlan] =
      df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cachedPlan
      }
    // planning only, no action: the lazy day-1 outputs serve as day-2 priors
    val d1 = Pipeline.run(spark, day1)
    val d2 = Pipeline.runIncremental(spark, day2, d1.dims, d1.fact, runDate)
    for ((day, o) <- Seq("day 1" -> d1, "day 2" -> d2)) withClue(s"$day: ") {
      val d = o.dims
      // the five dims the fact joins, each through its own cache
      val factReads = cachesRead(o.fact)
      Seq("geography" -> d.geography, "shipMode" -> d.shipMode,
        "subCategory" -> d.subCategory, "customer" -> d.customer,
        "product" -> d.product).foreach { case (name, dim) =>
        withClue(s"fact -> $name: ")(reads(factReads, name, dim) shouldBe true)
      }
      // category reaches the fact inside the cached sub-category dim
      val subCategoryReads = FinalPlan.collect(
        cacheOf("subCategory", d.subCategory)) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }
      reads(subCategoryReads, "category", d.category) shouldBe true
      // the date dim is read by the date-based marts
      Seq(o.rolling30, o.customerCohort).foreach { mart =>
        reads(cachesRead(mart), "date", d.date) shouldBe true
      }
    }
  }

  test("building the outputs starts no more jobs than reading the extract") {
    val sc = spark.sparkContext
    val (_, read1) = JobCounter.count(sc)(Ingest.readRaw(spark, day1))
    val (d1, run1) = JobCounter.count(sc)(Pipeline.run(spark, day1))
    read1 should be > 0
    run1 should be <= read1
    val priorDims = frozen(d1.dims)
    val priorFact = d1.fact.localCheckpoint()
    val (_, read2) = JobCounter.count(sc)(Ingest.readRaw(spark, day2))
    val (_, run2) = JobCounter.count(sc)(
      Pipeline.runIncremental(spark, day2, priorDims, priorFact, runDate))
    run2 should be <= read2
  }

  test("day-1 and day-2 outputs match the generator's ground truth") {
    val mapper = new ObjectMapper()
    val truth = mapper.readTree(new File(resource("truth.json")))
    def want(path: String): Long = truth.at(path).asLong
    val (d1, d2) = twoDays()
    d1.raw.count() shouldBe want("/day1/lines")
    d1.deduped.count() shouldBe want("/day1/dedup_survivors")
    d1.fact.count() shouldBe want("/day1/fact_rows")
    Seq("date" -> d1.dims.date, "ship_mode" -> d1.dims.shipMode,
      "category" -> d1.dims.category, "sub_category" -> d1.dims.subCategory,
      "geography" -> d1.dims.geography, "customer" -> d1.dims.customer,
      "product" -> d1.dims.product).foreach { case (name, dim) =>
      withClue(s"day-1 $name dim: ")(dim.count() shouldBe want(s"/day1/dims/$name"))
    }
    d2.raw.count() shouldBe want("/day2/lines")
    d2.deduped.count() shouldBe want("/day2/dedup_survivors")
    d2.fact.count() shouldBe want("/day2/fact_rows")
    d2.dims.customer.count() shouldBe want("/day2/dims/customer")
    d2.dims.customer.filter(col("is_current")).count() shouldBe
      want("/day2/dims/customer_current")
    d2.dims.product.count() shouldBe want("/day2/dims/product")
    d2.dims.product.filter(col("is_current")).count() shouldBe
      want("/day2/dims/product_current")
    for (fact <- Seq(d1.fact, d2.fact)) {
      fact.filter(col("ship_mode_key").isNull || col("customer_key").isNull ||
        col("product_key").isNull || col("geography_key").isNull ||
        col("sub_category_key").isNull).count() shouldBe 0
    }
    // byte identity: every table's schema and rows, against the digests
    // recorded from a known-good build (TESTDATA.md, "golden.json"); a
    // failure lists each drifted table with the digest this build made
    val golden = mapper.readTree(new File(resource("golden.json")))
    val actual = digests("day1", d1) ++ digests("day2", d2)
    golden.size shouldBe actual.size
    actual.filter { case (table, md5) => golden.path(table).asText != md5 } shouldBe
      empty
  }
}
