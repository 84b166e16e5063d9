package graft.superstore

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Quality, Windows}

/** QA rules + the four analytical views + the two pivot marts
  * (SURVEY §2.2 P4, §2.5 W3-W5, §2.4 A5-A9; SQLproject1.sql:213-240,619-716
  * and the workbook pivot tables).
  */
object Marts {

  /** qa.LoadIssues: the reference's three DQ rule counts in one scan.
    * `createdAt` stamps the run (SQLproject1.sql:220), deterministic via
    * explicit parameter; None omits the column. */
  def loadIssues(stg: DataFrame, createdAt: Option[String] = None): DataFrame =
    Quality.check(stg, createdAt = createdAt, rules = Seq(
      Quality.Rule("NULL_DATES", "order_date or ship_date failed to parse",
        col("order_date").isNull || col("ship_date").isNull),
      Quality.Rule("NEGATIVE_PROFIT", "profit < 0", col("profit") < 0),
      Quality.Rule("INCONSISTENT_GEOGRAPHY", "region/state/city null",
        col("region").isNull || col("state").isNull || col("city").isNull)))

  /** qa.v_Rolling30: ROWS-framed 30-row rolling Sales/Profit per region
    * (SQLproject1.sql:628-638 — 30 fact rows, NOT 30 days; preserved). */
  def rolling30(fact: DataFrame, geography: DataFrame, date: DataFrame): DataFrame = {
    val joined = fact
      .join(geography.select("geography_key", "region"), "geography_key")
      .join(date.select(col("date_key").as("order_date_key"), col("date")),
        "order_date_key")
    Windows.rollingSum(
      Windows.rollingSum(joined, Seq(col("region")),
        Seq(col("date"), col("order_id"), col("order_line_no")),
        col("sales"), 30, "sales_30"),
      Seq(col("region")),
      Seq(col("date"), col("order_id"), col("order_line_no")),
      col("profit"), 30, "profit_30")
      .select("region", "date", "order_id", "order_line_no",
        "sales", "profit", "sales_30", "profit_30")
  }

  /** Scale-safe rolling mart at (region, day) grain: pre-aggregates BEFORE
    * the window so each task sorts days, not order lines — the q12/q43
    * formulation. [[rolling30]] keeps the reference's exact line-grain
    * 30-ROW semantics (correct, but its window sorts fact/|regions| rows
    * per task: at 100 TB use this variant instead).
    *
    * `calendarRange = false` (default) keeps a 30-ROW frame over ACTIVE
    * days — on a region with gap days the window spans more than 30
    * calendar days (the reference's last-30-observations intent at daily
    * grain). `calendarRange = true` switches to a true 30-calendar-day
    * RANGE frame over day numbers (gap days shrink the window, never
    * stretch it) — the q43 formulation. */
  def rolling30Daily(fact: DataFrame, geography: DataFrame,
                     date: DataFrame,
                     calendarRange: Boolean = false): DataFrame = {
    val daily = fact
      .join(geography.select("geography_key", "region"), "geography_key")
      .join(date.select(col("date_key").as("order_date_key"), col("date")),
        "order_date_key")
      .groupBy(col("region"), col("date"))
      .agg(sum(col("sales")).as("sales"), sum(col("profit")).as("profit"))
    val rolled =
      if (!calendarRange)
        Windows.rollingSum(
          Windows.rollingSum(daily, Seq(col("region")), Seq(col("date")),
            col("sales"), 30, "sales_30"),
          Seq(col("region")), Seq(col("date")), col("profit"), 30, "profit_30")
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("region")).orderBy(unix_date(col("date")))
          .rangeBetween(-29, org.apache.spark.sql.expressions.Window.currentRow)
        daily.withColumn("sales_30", sum(col("sales")).over(w))
          .withColumn("profit_30", sum(col("profit")).over(w))
      }
    rolled.select("region", "date", "sales", "profit", "sales_30", "profit_30")
  }

  /** qa.v_CustomerCohort: first-purchase cohort x order month
    * (SQLproject1.sql:645-673). */
  def customerCohort(fact: DataFrame, date: DataFrame): DataFrame = {
    val withDate = fact
      .join(date.select(col("date_key").as("order_date_key"), col("date")),
        "order_date_key")
      .select(col("customer_key"), col("date"))
    val first = withDate.groupBy("customer_key").agg(min("date").as("first_date"))
    val months = withDate
      .groupBy(col("customer_key"), last_day(col("date")).as("order_month"))
      .agg(count(lit(1)).as("orders_count"))
    months.join(first, "customer_key")
      .select(col("customer_key"),
        last_day(col("first_date")).as("cohort_month"),
        col("order_month"),
        ((year(col("order_month")) * 12 + month(col("order_month"))) -
          (year(col("first_date")) * 12 + month(col("first_date"))))
          .cast("int").as("months_since_first"),
        col("orders_count"))
  }

  /** qa.v_TopProductsBySubCat: top-5 by profit per sub-category via RANK,
    * ties kept (SQLproject1.sql:689-699), plus share-of-subcategory-total. */
  def topProductsBySubCat(fact: DataFrame, product: DataFrame): DataFrame = {
    val profits = fact
      .join(product.select("product_key", "product_name", "sub_category"),
        "product_key")
      .groupBy(col("sub_category"), col("product_name"))
      .agg(sum(col("profit")).as("total_profit"))
    // share divides by the FULL sub-category total — computed before the
    // rank filter, exactly as the reference's ranked CTE does
    // (SQLproject1.sql:693-699); filtering first would inflate shares to
    // sum to 1.0 over just the survivors
    val withShare = profits.withColumn("profit_share",
      (col("total_profit") * lit(1.0) /
        nullif(sum(col("total_profit")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("sub_category"))), lit(0)))
        .cast("decimal(9,4)"))
    Windows.topNPerGroup(withShare, Seq(col("sub_category")),
      col("total_profit"), 5)
  }

  /** qa.v_SuspiciousDiscounts: discounted lines whose margin falls outside
    * [5%, 50%] (SQLproject1.sql:703-716). */
  def suspiciousDiscounts(fact: DataFrame): DataFrame =
    fact.filter(col("discount") > 0)
      .withColumn("margin", col("profit") * lit(1.0) / nullif(col("sales"), lit(0)))
      .filter(col("margin").isNull || !col("margin").between(0.05, 0.50))
      .select("order_id", "order_line_no", "sales", "discount", "profit", "margin")

  /** PivotTable1 "By_Category" (A7): 3 measures by category with a rollup
    * grand total, matching the workbook's count/count/sum measure set. */
  def pivotByCategory(stg: DataFrame, regions: Option[Seq[String]] = None,
                      segments: Option[Seq[String]] = None): DataFrame =
    slice(stg, regions, segments)
      .rollup(col("category"))
      .agg(count(col("sales")).as("count_sales"),
        count(col("profit")).as("count_profit"),
        sum(col("quantity")).as("sum_quantity"))

  /** PivotTable8 (A8): Year -> Month -> Date rollup lattice with the same
    * measures; grouping_id disambiguates subtotal rows. */
  def pivotByOrderDate(stg: DataFrame, regions: Option[Seq[String]] = None,
                       segments: Option[Seq[String]] = None): DataFrame =
    slice(stg, regions, segments)
      .rollup(year(col("order_date")).as("order_year"),
        month(col("order_date")).as("order_month"),
        col("order_date"))
      .agg(count(col("sales")).as("count_sales"),
        count(col("profit")).as("count_profit"),
        sum(col("quantity")).as("sum_quantity"),
        grouping_id().cast("int").as("gid"))

  /** A9: the Region/Segment slicer cross-filter. */
  private def slice(stg: DataFrame, regions: Option[Seq[String]],
                    segments: Option[Seq[String]]): DataFrame = {
    val r = regions.map(rs => col("region").isin(rs.map(lit(_)): _*)).getOrElse(lit(true))
    val s = segments.map(ss => col("segment").isin(ss.map(lit(_)): _*)).getOrElse(lit(true))
    stg.filter(r && s)
  }

  // ------------------------------------------------------- chart series

  /** chart1 (column bar) / chart2 (horizontal bar) of the workbook
    * (`xl/charts/chart1.xml`, `chart2.xml`): the three pivot measures —
    * "Count of Sales", "Count of Profit;", "Sum of Quantity" — as series
    * over the category axis (`By_Category!$A$4:$A$7`, leaf rows only, NO
    * grand total, category ascending). Both bar charts render the SAME
    * series; only the bar direction differs, which is presentation. */
  def chartCategoryBar(stg: DataFrame,
                       regions: Option[Seq[String]] = None,
                       segments: Option[Seq[String]] = None): DataFrame =
    slice(stg, regions, segments)
      .groupBy(col("category"))
      .agg(count(col("sales")).as("count_sales"),
        count(col("profit")).as("count_profit"),
        sum(col("quantity")).as("sum_quantity"))
      .orderBy(col("category"))

  /** chart3, the line chart "Sales, Profit & Quantity by Year/Month"
    * (`xl/charts/chart3.xml`): the same three measures at MONTH grain
    * over the order-date axis, ordered (year, month) — the pivot range
    * `By_Category!$Q$10:$Q$62` without the year subtotal rows (a chart
    * series is leaf-grain; subtotals live in [[pivotByOrderDate]]'s
    * rollup lattice). */
  def chartYearMonthLine(stg: DataFrame,
                         regions: Option[Seq[String]] = None,
                         segments: Option[Seq[String]] = None): DataFrame =
    slice(stg, regions, segments)
      .groupBy(year(col("order_date")).as("order_year"),
        month(col("order_date")).as("order_month"))
      .agg(count(col("sales")).as("count_sales"),
        count(col("profit")).as("count_profit"),
        sum(col("quantity")).as("sum_quantity"))
      .orderBy(col("order_year"), col("order_month"))

  /** chart4, the 3-D pie (`xl/charts/chart4.xml`): a pie renders ONE
    * series — the first, "Count of Sales" — as slice angles; the mart
    * emits the slice value plus its share of the total (the angle,
    * dimensionless) so a renderer needs no second pass. Exact-integer
    * division into double: both engines compute the same IEEE quotient. */
  def chartCategoryPie(stg: DataFrame,
                       regions: Option[Seq[String]] = None,
                       segments: Option[Seq[String]] = None): DataFrame = {
    val sliced = slice(stg, regions, segments)
    val byCat = sliced.groupBy(col("category"))
      .agg(count(col("sales")).as("count_sales"))
    byCat
      .withColumn("share", col("count_sales").cast("double") /
        sum(col("count_sales")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .orderBy(col("category"))
  }
}
