package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{NearDup, NearDupIndex}

/** The co-located band-table layout (`joinBuckets > 0`): identity
  * partitioning on a stored xxhash64 bucket of band_key makes the daily
  * candidate self-join a storage-partitioned join — ZERO shuffle of the
  * band table — while returning exactly the candidates the default
  * layout and the in-memory twin return. Also pins the flavor's
  * maintenance semantics under the two-level `(band_bucket, batch)`
  * layout: re-delivery is ONE overwrite-by-filter commit, retention is
  * a metadata-only partial-spec DELETE WHERE batch. */
class NearDupBucketedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat = {
    val r = java.nio.file.Files.createTempDirectory("graft_ndb").toString
    spark.conf.set("spark.sql.catalog.graft_ndb",
      classOf[graft.sources.QuirkCsvCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ndb.root", r)
    "graft_ndb"
  }

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "entirely different content about spark catalyst optimizers"),
    (4L, "the quick brown fox jumps over the lazy dog again today"),
    (5L, "completely unrelated text concerning csv ingestion quirks"),
    (6L, "entirely different content about spark catalyst optimizers")
  ).toDF("doc_id", "text")

  /** Non-broadcast joins in the plan, with the shuffle count BENEATH
    * each (descending through AQE wrappers): the co-location proof must
    * inspect the join's inputs, not the whole plan — the final
    * distinct() legitimately shuffles above the join. */
  private def joinShuffles(df: DataFrame): Seq[Int] = {
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def shufflesBelow(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      self + unwrap(p).map(shufflesBelow).sum
    }
    def joins(p: SparkPlan): Seq[BaseJoinExec] = p match {
      case j: BaseJoinExec => Seq(j)
      case other => unwrap(other).flatMap(joins)
    }
    joins(df.queryExecution.executedPlan)
      .filterNot(_.isInstanceOf[BroadcastHashJoinExec]) // hot-band anti-join
      .map(j => j.children.map(shufflesBelow).sum)
  }

  private def pairsOf(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("bucketed layout serves IDENTICAL candidates and plans the " +
      "candidate self-join with ZERO shuffles beneath it") {
    cat
    val base = docs.filter(col("doc_id") <= 4)
    val fresh = docs.filter(col("doc_id") > 4)
    NearDupIndex.build(spark, cat, "ns", "bkt", base, "doc_id", "text",
      joinBuckets = 8)
    NearDupIndex.indexBatch(spark, cat, "ns", "bkt", fresh, "doc_id",
      "text", "b1")
    NearDupIndex.pinnedJoinBuckets(spark, cat, "ns", "bkt") shouldBe 8
    // layout on disk: band_bucket value dirs, batch is a data column
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    val dirs = new java.io.File(s"$root/ns/bkt_bands").listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_"))
    all(dirs.toSeq) should startWith("band_bucket=")

    val twin = NearDup.minHashLshCandidates(
      docs.select(col("doc_id").cast("string").as("doc_id"), col("text")),
      "doc_id", "text")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // the join clusters on (band_bucket, band_id, band_key) while the
      // storage partitions on band_bucket alone — a valid co-partition
      // (equal buckets ⊇ equal keys) that the planner only accepts with
      // the all-cluster-keys requirement relaxed
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val served = NearDupIndex.candidatePairsFor(spark, cat, "ns",
        "bkt", "b1")
      pairsOf(served) shouldBe pairsOf(
        twin.filter(col("a_id").cast("long") > 4 ||
          col("b_id").cast("long") > 4))
      val allPairs = NearDupIndex.allCandidatePairs(spark, cat, "ns", "bkt")
      pairsOf(allPairs) shouldBe pairsOf(twin)
      // the storage-partitioned join: no exchange under either input
      val js = joinShuffles(served)
      js should not be empty
      all(js) shouldBe 0
      all(joinShuffles(allPairs)) shouldBe 0
    }
    // and the same serve WITHOUT the SPJ conf still answers identically
    // (the layout is a plan optimization, never a correctness knob)
    pairsOf(NearDupIndex.allCandidatePairs(spark, cat, "ns", "bkt")) shouldBe
      pairsOf(twin)
  }

  test("the serve is SELF-MANAGING: a fresh session conf (SPJ confs at " +
      "defaults) still plans the zero-shuffle join — candidatePairsFor " +
      "sets the plan-shape confs from its own meta") {
    cat
    val base = docs.filter(col("doc_id") <= 4)
    val fresh = docs.filter(col("doc_id") > 4)
    NearDupIndex.build(spark, cat, "ns", "bkt3", base, "doc_id", "text",
      joinBuckets = 8)
    NearDupIndex.indexBatch(spark, cat, "ns", "bkt3", fresh, "doc_id",
      "text", "b1")
    withSQLConf(
      // the non-default conf a caller would forget, pinned to its
      // DEFAULT here: the serve must flip it itself
      "spark.sql.requireAllClusterKeysForCoPartition" -> "true",
      // broadcast stays disabled so the plan shape is visible (a
      // broadcast of the small fixture side would hide the SPJ)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val served = NearDupIndex.candidatePairsFor(spark, cat, "ns",
        "bkt3", "b1")
      spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        .shouldBe("false")
      served.collect().length should be > 0 // finalize AQE on this QE
      val js = joinShuffles(served)
      js should not be empty
      all(js) shouldBe 0
    }
  }

  test("a reader racing batch replays only ever sees old-or-new " +
      "candidate sets (snapshot-pinned serves, single-commit lands)") {
    cat
    val base = docs.filter(col("doc_id") <= 4)
    NearDupIndex.build(spark, cat, "ns", "bkt4", base, "doc_id", "text",
      joinBuckets = 4)
    val freshA = Seq((5L,
      "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val freshB = Seq((6L,
      "entirely different content about spark catalyst optimizers"))
      .toDF("doc_id", "text")
    NearDupIndex.indexBatch(spark, cat, "ns", "bkt4", freshA,
      "doc_id", "text", "b1")
    val setA = pairsOf(NearDupIndex.allCandidatePairs(spark, cat, "ns",
      "bkt4"))
    NearDupIndex.indexBatch(spark, cat, "ns", "bkt4", freshB,
      "doc_id", "text", "b1") // REVISED content: replaces, not appends
    val setB = pairsOf(NearDupIndex.allCandidatePairs(spark, cat, "ns",
      "bkt4"))
    setA should not be setB
    // FINITE storm: the writer flips b1 between the two contents a
    // fixed number of times; every concurrent serve must be EXACTLY one
    // of the two committed states — never a torn union / double-counted
    // batch. A racing serve either returns a COMMITTED state or fails
    // LOUDLY (the pinned files moved to the attic mid-scan — retryable);
    // once the storm ends, reads deterministically succeed, so the
    // success target is machine-load-independent.
    val torn = new java.util.concurrent.atomic
      .AtomicReference[String](null)
    val writer = new Thread(() => {
      try (0 until 8).foreach { i =>
        NearDupIndex.indexBatch(spark, cat, "ns", "bkt4",
          if (i % 2 == 0) freshA else freshB, "doc_id", "text", "b1")
        Thread.sleep(500)
      } catch { case t: Throwable => torn.compareAndSet(null,
        s"writer failed: $t") }
    })
    writer.start()
    var ok = 0
    var attempts = 0
    while (ok < 10 && attempts < 300) {
      attempts += 1
      try {
        val got = pairsOf(NearDupIndex.allCandidatePairs(spark, cat, "ns",
          "bkt4"))
        if (got != setA && got != setB)
          torn.compareAndSet(null, s"torn read: $got")
        ok += 1
      } catch { case scala.util.control.NonFatal(_) => () } // loud retry
    }
    writer.join(120000)
    torn.get() shouldBe null
    ok shouldBe 10
  }

  test("re-delivered batch converges to one copy (single overwrite " +
      "commit); retention deletes the batch's rows metadata-only") {
    cat
    val base = docs.filter(col("doc_id") <= 4)
    val fresh = docs.filter(col("doc_id") > 4)
    NearDupIndex.build(spark, cat, "ns", "bkt2", base, "doc_id", "text",
      joinBuckets = 4)
    NearDupIndex.indexBatch(spark, cat, "ns", "bkt2", fresh, "doc_id",
      "text", "b1")
    val before = NearDupIndex.bands(spark, cat, "ns", "bkt2")
      .collect().map(_.toString).sorted.toSeq
    // two-level layout on disk: batch keeps its own leaf dirs under
    // every bucket it posts to
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    val b1Leaves = new java.io.File(s"$root/ns/bkt2_bands").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("band_bucket="))
      .flatMap(_.listFiles()).filter(_.getName == "batch=b1")
    b1Leaves should not be empty
    def version: Long = spark.sql(
      s"CALL $cat.system.current_version('ns.bkt2_bands')")
      .collect()(0).getLong(0)
    val v0 = version
    NearDupIndex.indexBatch(spark, cat, "ns", "bkt2", fresh, "doc_id",
      "text", "b1") // re-delivery
    version shouldBe (v0 + 1) // ONE commit, not delete-then-append
    NearDupIndex.bands(spark, cat, "ns", "bkt2")
      .collect().map(_.toString).sorted.toSeq shouldBe before
    NearDupIndex.dropBatch(spark, cat, "ns", "bkt2", "b1")
    val left = NearDupIndex.bands(spark, cat, "ns", "bkt2")
    left.filter(col("batch") === "b1").count() shouldBe 0
    left.filter(col("batch") === "base").count() should be > 0L
    // retention was metadata-only: the leaf dirs are gone, the buckets
    // (and the base batch's leaves) remain
    b1Leaves.foreach(_.exists() shouldBe false)
  }
}
