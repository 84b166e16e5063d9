package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK
import graft.plans.GroupedTopKExec

/** The custom grouped-top-k physical operator vs the window plan it
  * replaces: identical answers under a total order, partial+final execs
  * in the plan, and flush-cap degradation that stays correct.
  */
class GroupedTopKSpec extends SparkSpec {
  import spark.implicits._

  // 4 partitions, 40 groups x 50 rows, value not unique -> tiebreak on id
  private lazy val data: DataFrame = spark
    .range(0, 2000, 1, 4)
    .select(
      (col("id") % 40).as("g"),
      (pmod(col("id") * 2654435761L, lit(97))).as("v"),
      col("id"))
    .cache()

  private def windowed(k: Int): DataFrame =
    data.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
      .filter(col("rn") <= k).drop("rn")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("matches the window row_number plan under a total order") {
    val topk = TopK.perGroup(data, Seq(col("g")),
      Seq(col("v").desc, col("id")), 5)
    sortedRows(topk) shouldBe sortedRows(windowed(5))
  }

  test("k larger than every group returns the full input") {
    val topk = TopK.perGroup(data, Seq(col("g")),
      Seq(col("v"), col("id")), 1000)
    topk.count() shouldBe data.count()
  }

  test("plans as partial + final around one exchange") {
    val topk = TopK.perGroup(data, Seq(col("g")), Seq(col("v"), col("id")), 3)
    topk.collect() // materialize so AQE finalizes the plan
    val plan = topk.queryExecution.executedPlan.toString
    plan should include("GroupedTopKPartial")
    plan should include("GroupedTopKFinal")
    plan should include("Exchange hashpartitioning(g")
  }

  test("rank mode keeps boundary ties and matches the window rank plan") {
    // v = id % 7: heavy deliberate ties, incl. at every k boundary
    val tied = spark.range(0, 1000, 1, 4)
      .select((col("id") % 20).as("g"), (col("id") % 7).as("v"), col("id"))
    val expect = sortedRows(tied
      .withColumn("rk", rank().over(
        Window.partitionBy("g").orderBy(col("v").desc)))
      .filter(col("rk") <= 3).drop("rk"))
    val got = TopK.perGroupWithTies(tied.toDF(), Seq(col("g")),
      Seq(col("v").desc), 3)
    sortedRows(got) shouldBe expect
    // ties widen groups past k — rank() <= 3 over 7 distinct values in
    // 50-row groups keeps ~3/7 of each group, far more than 3 rows
    got.count() should be > (20L * 3)
    val plan = got.queryExecution.executedPlan.toString
    plan should include("GroupedTopKPartialWithTies")
    plan should include("GroupedTopKFinalWithTies")
  }

  test("rank mode: partial flush cap of 1 still yields the exact answer") {
    val tied = spark.range(0, 1000, 1, 4)
      .select((col("id") % 20).as("g"), (col("id") % 7).as("v"), col("id"))
    val expect = sortedRows(tied
      .withColumn("rk", rank().over(
        Window.partitionBy("g").orderBy(col("v"))))
      .filter(col("rk") <= 2).drop("rk"))
    val key = graft.plans.GroupedTopKExec.MaxGroupsConf
    spark.conf.set(key, "1")
    try {
      sortedRows(TopK.perGroupWithTies(tied.toDF(), Seq(col("g")),
        Seq(col("v")), 2)) shouldBe expect
    } finally spark.conf.unset(key)
  }

  test("rank mode: degenerate constant order fails fast in the final pass") {
    val flat = spark.range(0, 5000, 1, 4)
      .select(lit("one").as("g"), lit(0L).as("v"), col("id"))
    spark.conf.set(GroupedTopKExec.MaxTieRowsConf, "100")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        TopK.perGroupWithTies(flat.toDF(), Seq(col("g")),
          Seq(col("v")), 1).collect()
      }
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
      msgs(e) should include("maxTieRowsPerGroup")
    } finally spark.conf.unset(GroupedTopKExec.MaxTieRowsConf)
  }

  test("partial flush cap of 1 group still yields the exact answer") {
    val key = graft.plans.GroupedTopKExec.MaxGroupsConf
    spark.conf.set(key, "1")
    try {
      val topk = TopK.perGroup(data, Seq(col("g")),
        Seq(col("v").desc, col("id")), 5)
      sortedRows(topk) shouldBe sortedRows(windowed(5))
    } finally spark.conf.unset(key)
  }

  test("multi-column grouping and ascending order") {
    val df = data.withColumn("g2", col("id") % 2)
    val topk = TopK.perGroup(df, Seq(col("g"), col("g2")),
      Seq(col("v"), col("id")), 2)
    val expect = df.withColumn("rn", row_number().over(
        Window.partitionBy("g", "g2").orderBy(col("v"), col("id"))))
      .filter(col("rn") <= 2).drop("rn")
    sortedRows(topk) shouldBe sortedRows(expect)
  }

  test("composes downstream: aggregating the top-k output") {
    val topk = TopK.perGroup(data, Seq(col("g")),
      Seq(col("v").desc, col("id")), 5)
    val agg = topk.groupBy("g").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val expect = windowed(5).groupBy("g")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    sortedRows(agg) shouldBe sortedRows(expect)
  }

  test("group-key filters push through the node to the source") {
    // filter AFTER top-k on a group column: with the pushdown rule the
    // predicate lands below GroupedTopK (whole groups selected, same
    // answer), instead of scanning every group and discarding
    val topk = TopK.perGroup(data, Seq(col("g")),
      Seq(col("v").desc, col("id")), 5)
    val filtered = topk.filter(col("g") < 10)
    sortedRows(filtered) shouldBe sortedRows(windowed(5).filter(col("g") < 10))
    val optimized = filtered.queryExecution.optimizedPlan
    // the Filter must sit BELOW the GroupedTopKNode after optimization
    val node = optimized.collectFirst {
      case t: graft.plans.GroupedTopKNode => t }.get
    node.child.toString should include("Filter")
    optimized.toString.indexOf("graft.plans.GroupedTopKNode") // node present
  }

  test("filters on non-key or computed-key columns are NOT pushed") {
    // predicate on the ORDER column must stay above (it would change
    // each group's top-k if applied first)
    val topk = TopK.perGroup(data, Seq(col("g")),
      Seq(col("v").desc, col("id")), 5)
    val byValue = topk.filter(col("v") > 50)
    sortedRows(byValue) shouldBe sortedRows(windowed(5).filter(col("v") > 50))
    val n1 = byValue.queryExecution.optimizedPlan.collectFirst {
      case t: graft.plans.GroupedTopKNode => t }.get
    n1.child.toString should not include "Filter"

    // computed group key (g % 2): a filter on g feeds the key but does
    // not select whole groups — must stay above
    val computed = TopK.perGroup(data, Seq(col("g") % 2),
      Seq(col("v").desc, col("id")), 5).filter(col("g") < 10)
    val n2 = computed.queryExecution.optimizedPlan.collectFirst {
      case t: graft.plans.GroupedTopKNode => t }.get
    n2.child.toString should not include "Filter"
  }

  test("float group keys: -0.0/0.0 and NaN merge like the window plan") {
    // -0.0 survives UnsafeRow writes (only NaN is canonicalized there);
    // without NormalizeNaNAndZero in the key projection AND the required
    // distribution, 0.0/-0.0 split into two groups on different shuffle
    // partitions. The window plan merges them via Spark's
    // NormalizeFloatingNumbers rule — we must match it.
    val df = Seq(
      (0.0d, 1L), (-0.0d, 2L), (Double.NaN, 3L), (Double.NaN, 4L),
      (1.0d, 5L), (-0.0d, 6L)
    ).toDF("gv", "id").repartition(4)
    val topk = TopK.perGroup(df, Seq(col("gv")), Seq(col("id")), 1)
    val expect = df.withColumn("rn", row_number().over(
        Window.partitionBy("gv").orderBy(col("id"))))
      .filter(col("rn") <= 1).drop("rn")
    topk.count() shouldBe 3L // {0.0,-0.0}, {NaN}, {1.0}
    sortedRows(topk.select("id")) shouldBe sortedRows(expect.select("id"))
  }

  test("opt-in rewrite: the window row_number shape plans to GroupedTopKExec") {
    spark.conf.set(graft.plans.WindowTopKRewrite.RewriteConf, "true")
    try {
      val viaWindow = windowed(5) // Project(drop rn) over Filter over Window
      viaWindow.collect()
      val plan = viaWindow.queryExecution.executedPlan.toString
      plan should include("GroupedTopKPartial")
      plan should include("GroupedTopKFinal")
      plan should not include "Window"
      // oracle parity with the un-rewritten plan
      spark.conf.unset(graft.plans.WindowTopKRewrite.RewriteConf)
      val expect = sortedRows(windowed(5))
      spark.conf.set(graft.plans.WindowTopKRewrite.RewriteConf, "true")
      sortedRows(viaWindow) shouldBe expect
    } finally spark.conf.unset(graft.plans.WindowTopKRewrite.RewriteConf)
  }

  test("rewrite leaves rn-consuming and unbounded shapes on the window plan") {
    spark.conf.set(graft.plans.WindowTopKRewrite.RewriteConf, "true")
    try {
      // rn kept in the output: must stay a window
      val keepsRn = data.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") <= 5)
        .select("g", "v", "id", "rn")
      keepsRn.queryExecution.executedPlan.toString should include("Window")

      // k above the rewrite cap: stays a window
      spark.conf.set(graft.plans.WindowTopKRewrite.MaxKConf, "3")
      val bigK = windowed(5)
      bigK.queryExecution.executedPlan.toString should include("Window")
      spark.conf.unset(graft.plans.WindowTopKRewrite.MaxKConf)

      // rank() rewrites to the ties-kept heap (W4's actual window);
      // dense_rank has no heap equivalent and must stay a window
      val ranked = data.withColumn("rn", rank().over(
          Window.partitionBy("g").orderBy(col("v").desc)))
        .filter(col("rn") <= 5).drop("rn")
      ranked.queryExecution.executedPlan.toString should
        include("GroupedTopKFinalWithTies")
      val densed = data.withColumn("rn", dense_rank().over(
          Window.partitionBy("g").orderBy(col("v").desc)))
        .filter(col("rn") <= 5).drop("rn")
      densed.queryExecution.executedPlan.toString should include("Window")
    } finally {
      spark.conf.unset(graft.plans.WindowTopKRewrite.RewriteConf)
      spark.conf.unset(graft.plans.WindowTopKRewrite.MaxKConf)
    }
  }

  test("rewrite handles rn BETWEEN 1 AND k (vacuous lower bound dropped)") {
    spark.conf.set(graft.plans.WindowTopKRewrite.RewriteConf, "true")
    data.createOrReplaceTempView("topk_between_src")
    try {
      val sql = spark.sql("""
        SELECT g, v, id FROM (
          SELECT g, v, id,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) rn
          FROM topk_between_src) t
        WHERE rn BETWEEN 1 AND 5""")
      sql.collect()
      val plan = sql.queryExecution.executedPlan.toString
      plan should include("GroupedTopKFinal")
      plan should not include "Window"
      sortedRows(sql) shouldBe sortedRows(windowed(5))
      // a REAL lower bound (pagination) must still block the rewrite
      val page = spark.sql("""
        SELECT g, v, id FROM (
          SELECT g, v, id,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) rn
          FROM topk_between_src) t
        WHERE rn BETWEEN 2 AND 5""")
      page.queryExecution.executedPlan.toString should include("Window")
    } finally {
      spark.conf.unset(graft.plans.WindowTopKRewrite.RewriteConf)
      spark.catalog.dropTempView("topk_between_src")
      ()
    }
  }

  test("rewrite handles rn = 1 and mixed residual predicates") {
    spark.conf.set(graft.plans.WindowTopKRewrite.RewriteConf, "true")
    try {
      val latest = data.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") === 1 && col("v") > 10).drop("rn")
      latest.collect()
      val plan = latest.queryExecution.executedPlan.toString
      plan should include("GroupedTopKFinal")
      val expect = data.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") === 1).drop("rn").filter(col("v") > 10)
      sortedRows(latest) shouldBe sortedRows(expect)
    } finally spark.conf.unset(graft.plans.WindowTopKRewrite.RewriteConf)
  }

  test("rewrite fires from plain SQL text and composes with key pushdown") {
    spark.conf.set(graft.plans.WindowTopKRewrite.RewriteConf, "true")
    data.createOrReplaceTempView("topk_src")
    try {
      // the reference's T2 shape as SQL: rn computed in a subquery,
      // consumed by the outer WHERE, dropped by the outer SELECT — plus
      // a group-key predicate that must end up BELOW the node
      val sql = spark.sql("""
        SELECT g, v, id FROM (
          SELECT g, v, id,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) rn
          FROM topk_src) t
        WHERE rn <= 5 AND g < 10""")
      sql.collect()
      val plan = sql.queryExecution.executedPlan.toString
      plan should include("GroupedTopKFinal")
      plan should not include "Window"
      val node = sql.queryExecution.optimizedPlan.collectFirst {
        case t: graft.plans.GroupedTopKNode => t }.get
      node.child.toString should include("g#") // Filter(g < 10) pushed below
      node.child.toString should include("Filter")
      sortedRows(sql) shouldBe sortedRows(windowed(5).filter(col("g") < 10))
    } finally {
      spark.conf.unset(graft.plans.WindowTopKRewrite.RewriteConf)
      spark.catalog.dropTempView("topk_src")
      ()
    }
  }

  // ---- iterator-level tests for the rank-mode tie-cap paths: the
  // flush-vs-fail decision depends on per-partition arrival order, which
  // an end-to-end plan can't pin down deterministically, so the partial
  // pass's flush-on-tie-overflow contract is proven on the iterator
  // directly (owned rows, explicit caps).

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Ascending => CAsc, AttributeReference, GenericInternalRow, RowOrdering, SortOrder => CSortOrder, UnsafeProjection}
  import org.apache.spark.sql.execution.metric.SQLMetrics
  import org.apache.spark.sql.types.LongType

  private def runIterator(values: Seq[Long], k: Int, tieCap: Int,
                          flushCap: Int = 100000): (Seq[Long], Long) = {
    val attrs = Seq(AttributeReference("g", LongType, nullable = false)(),
      AttributeReference("v", LongType, nullable = false)())
    val rows: Iterator[InternalRow] = values.iterator
      .map(v => new GenericInternalRow(Array[Any](1L, v)))
    val outRows = SQLMetrics.createMetric(spark.sparkContext, "rows")
    val flushes = SQLMetrics.createMetric(spark.sparkContext, "flushes")
    val out = GroupedTopKExec.topKIterator(
      rows,
      UnsafeProjection.create(Seq(attrs.head), attrs),
      RowOrdering.create(Seq(CSortOrder(attrs(1), CAsc)), attrs),
      k, flushCap, outRows, flushes, withTies = true, tieCap = tieCap)
      .map(_.getLong(1)).toVector
    (out, flushes.value)
  }

  test("rank mode partial: tie-cap overflow in the eviction branch flushes " +
      "a consistent segment (no duplicate new row, no dropped evictee)") {
    // k=2, tieCap=1, values [5,5,5,3]: the 3 evicts a 5 whose value still
    // ties the new boundary while the tie buffer is full — add() must
    // refuse WITHOUT mutating, so the flush emits the three 5s intact and
    // the 3 re-offers to the next batch. (The historic mutate-then-fail
    // bug emitted [3,5,5] + a second 3: one 5 lost, the 3 duplicated.)
    val (out, flushes) = runIterator(Seq(5L, 5L, 5L, 3L), k = 2, tieCap = 1)
    out.sorted shouldBe Vector(3L, 5L, 5L, 5L)
    flushes shouldBe 1L
  }

  test("rank mode partial: degenerate constant order flushes in bounded " +
      "segments instead of accumulating the group in memory") {
    // k=1, tieCap=2: every segment holds at most 1 (heap) + 2 (ties) rows
    // before a flush; all rows must survive to the output exactly once
    // (the partial superset contract), with flushes actually firing.
    val (out, flushes) = runIterator(Seq.fill(10)(7L), k = 1, tieCap = 2)
    out shouldBe Vector.fill(10)(7L)
    flushes shouldBe 3L // segments of 3,3,3 then a final 1
  }

  test("rejects non-positive k and empty group list") {
    an[IllegalArgumentException] should be thrownBy
      TopK.perGroup(data, Seq(col("g")), Seq(col("v")), 0)
    an[IllegalArgumentException] should be thrownBy
      TopK.perGroup(data, Seq.empty, Seq(col("v")), 1)
  }
}
