package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.superstore.Pipeline

/** The Superstore pipeline at synthetic scale: the real 9,994-row CSV
  * grown 100× by textual replication with per-copy order ids — every
  * ingest quirk (trailing semicolons, fully-quoted rows, embedded quoted
  * commas, cp1252 NBSP, M/d/yyyy dates, the 8 duplicate order lines)
  * replicates verbatim, so the grown file exercises the same repair
  * paths at 100× volume.
  *
  * Growth model: same CATALOG, more ORDERS — customer/product/geography
  * ids are untouched, so dimension cardinalities must stay EXACTLY the
  * 1× profile while staging/fact/marts scale by the copy count. That is
  * the realistic 100-TB shape (fact grows, dims don't) and the shape the
  * star schema's broadcast joins rely on; the spec pins both the scaled
  * invariants and the plan (dims still broadcast, no new shuffles).
  */
class SuperstoreScaleSpec extends SparkSpec {
  import spark.implicits._

  private val csv = "/root/reference/Project1/superstore.csv"
  private def available = new java.io.File(csv).exists()

  // default 100x in-suite; the 1000x probe run (PLANS.md) sets
  // SUPERSTORE_SCALE_K=1000
  private val K = sys.env.get("SUPERSTORE_SCALE_K").map(_.toInt).getOrElse(100)

  /** Grow the CSV K×: each copy rewrites every order id
    * `XX-yyyy-nnnnnn` to `XX-yyyy-nnnnnn<kkk>` (format preserved —
    * ingest validates `^[A-Z]{2}-`), consistently across a copy so
    * multi-line orders stay multi-line. All other bytes are copied
    * verbatim, quirks included. */
  private def grow(k: Int): Path = {
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(csv), StandardCharsets.ISO_8859_1)
    val header = lines.get(0)
    val data = (1 until lines.size).map(lines.get)
    val orderId = "([A-Z]{2}-\\d{4}-\\d+)".r
    val out = Files.createTempFile("superstore_x" + k + "_", ".csv")
    val w = Files.newBufferedWriter(out, StandardCharsets.ISO_8859_1)
    try {
      w.write(header); w.newLine()
      (0 until k).foreach { c =>
        val suffix = f"$c%03d"
        data.foreach { line =>
          w.write(orderId.replaceAllIn(line, m => m.group(1) + suffix))
          w.newLine()
        }
      }
    } finally w.close()
    out
  }

  private lazy val grown = grow(K)
  private lazy val out1 = Pipeline.run(spark, csv)
  private lazy val outK = Pipeline.run(spark, grown.toString)

  private def shuffles(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length

  test(s"ingest and dedup invariants scale exactly ${K}x") {
    assume(available)
    outK.raw.count() shouldBe 9994L * K
    // the 8 duplicate order lines replicate per copy; order ids are
    // copy-unique so nothing collapses ACROSS copies
    outK.deduped.count() shouldBe 9986L * K
  }

  test("dimension cardinalities are scale-invariant (same catalog)") {
    assume(available)
    outK.dims.shipMode.count() shouldBe 4
    outK.dims.category.count() shouldBe 3
    outK.dims.subCategory.count() shouldBe 17
    outK.dims.customer.count() shouldBe 793
    outK.dims.product.select("product_id").distinct().count() shouldBe 1862
    outK.dims.geography.count() shouldBe out1.dims.geography.count()
    // SCD2 shape: exactly one CURRENT version per customer at any scale
    outK.dims.customer.filter(col("is_current"))
      .groupBy("customer_id").count()
      .filter(col("count") > 1).count() shouldBe 0
  }

  test(s"fact grain and mart totals scale exactly ${K}x") {
    assume(available)
    val fact = outK.fact.cache()
    try {
      fact.count() shouldBe 9986L * K
      // PK still unique at volume (copy-suffixed order ids can't collide)
      fact.groupBy("order_id", "order_line_no").count()
        .filter(col("count") > 1).count() shouldBe 0
      // no orphaned surrogate keys at volume
      fact.filter(col("customer_key").isNull || col("product_key").isNull ||
        col("geography_key").isNull || col("order_date_key").isNull)
        .count() shouldBe 0
    } finally { fact.unpersist(); () }
    // the pivot mart's grand total is K x the 1x total
    val total1 = out1.pivotByCategory.collect().find(_.isNullAt(0)).get
      .getAs[Long]("sum_quantity")
    val totalK = outK.pivotByCategory.collect().find(_.isNullAt(0)).get
      .getAs[Long]("sum_quantity")
    totalK shouldBe total1 * K
  }

  test(s"star joins at ${K}x: Spark's thresholds pick broadcast or " +
      "sort-merge, mart totals identical") {
    assume(available)
    val total = outK.pivotByCategory.collect().find(_.isNullAt(0)).get
      .getAs[Long]("sum_quantity")
    // default thresholds: every dim is under them, the fact stays
    // broadcast (checkpointing the SAME Dataset finalizes its AQE plan)
    val auto = Pipeline.run(spark, grown.toString)
    auto.fact.localCheckpoint().count() shouldBe 9986L * K
    (auto.fact.queryExecution.executedPlan.toString
      should not).include("SortMergeJoin")
    // both thresholds off — the posture of a dim too wide to broadcast:
    // the planner falls back to sort-merge and nothing changes but the plan
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val sortMerge = Pipeline.run(spark, grown.toString)
      sortMerge.fact.localCheckpoint().count() shouldBe 9986L * K
      sortMerge.fact.queryExecution.executedPlan.toString should
        include("SortMergeJoin")
      sortMerge.pivotByCategory.collect().find(_.isNullAt(0)).get
        .getAs[Long]("sum_quantity") shouldBe total
    }
  }

  test("plan shape survives the scale-up: dims stay broadcast, no new shuffles") {
    assume(available)
    outK.fact.count(); out1.fact.count() // finalize AQE plans
    val p1 = out1.fact.queryExecution.executedPlan.toString
    val pK = outK.fact.queryExecution.executedPlan.toString
    // 100x more fact rows must not flip any dim join off broadcast
    pK should not include "SortMergeJoin"
    withClue(s"1x shuffles:\n$p1\n${K}x shuffles:\n$pK\n") {
      shuffles(pK) should be <= shuffles(p1)
    }
  }

  test(s"SCD2 MERGE under a drifted snapshot at ${K}x: classifier work " +
      "stays dim-sized, history is exact, surviving keys are stable") {
    assume(available)
    val dim = outK.dims.customer.localCheckpoint() // read-then-overwrite rule
    val staged = graft.superstore.Staging.deduped(
      graft.superstore.Staging.typed(
        graft.superstore.Ingest.readRaw(spark, grown.toString)))
    // drift: every customer whose id hashes into bucket 0 (~10%)
    // changes segment — a tracked SCD2 column — consistently across all
    // of their rows, so the snapshot row (a per-customer aggregate)
    // changes deterministically
    val drifted = staged.withColumn("segment",
      when(pmod(xxhash64(col("customer_id")), lit(10)) === 0,
        concat(col("segment"), lit(" DRIFTED"))).otherwise(col("segment")))
    val nChanged = dim.filter(col("is_current") &&
      pmod(xxhash64(col("customer_id")), lit(10)) === 0).count()
    nChanged should be > 0L
    val t0 = System.nanoTime()
    val merged = graft.superstore.StarSchema
      .customerDimMerge(dim, drifted, runDate = "2017-06-01")
      .localCheckpoint() // materialize: the timed unit is the merge
    val wallS = (System.nanoTime() - t0) / 1e9
    // exactly one current row per customer; exactly the drifted bucket
    // closed; everyone else untouched
    merged.filter(col("is_current")).count() shouldBe 793L
    merged.filter(col("is_current"))
      .groupBy("customer_id").count()
      .filter(col("count") > 1).count() shouldBe 0
    merged.filter(!col("is_current") &&
      col("effective_to") === to_date(lit("2017-06-01")))
      .count() shouldBe nChanged
    merged.count() shouldBe 793L + nChanged
    // in-place key discipline: surviving rows keep their surrogate keys,
    // new versions take fresh keys past max(existing)
    val keptKeys = merged.filter(!col("is_current"))
      .select("customer_key").collect().map(_.getLong(0)).toSet
    val oldKeys = dim.filter(col("is_current") &&
        pmod(xxhash64(col("customer_id")), lit(10)) === 0)
      .select("customer_key").collect().map(_.getLong(0)).toSet
    keptKeys shouldBe oldKeys
    merged.agg(max("customer_key")).collect()(0)
      .getLong(0) shouldBe 793L + nChanged
    // the classifier's joins run over the 793-row current slice; the
    // only corpus-proportional work is the snapshot aggregation (the
    // pre-checkpoint plan's exchanges — the checkpointed frame itself
    // plans as a bare RDD scan, which is why the UN-checkpointed twin
    // is inspected here)
    val planShuffles = shuffles(graft.superstore.StarSchema
      .customerDimMerge(dim, drifted, runDate = "2017-06-01")
      .queryExecution.executedPlan.toString)
    info(f"scd2 merge at ${K}x: $wallS%.1f s wall, " +
      s"$planShuffles exchanges in the merge plan")
  }
}
