package graft.superstore

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{DateSpine, Dims, Scd2, Windows}

/** Star-schema builders: dims + fact (SURVEY §2.3-§2.5; SQLproject1.sql
  * stages 7-11). Dims are tiny at reference cardinality; the fact build
  * joins them plainly and Spark picks the strategy from their size —
  * broadcast under `spark.sql.autoBroadcastJoinThreshold` (statically, or
  * at run time through AQE), sort-merge for a dim that outgrows it. The
  * fact itself shuffles once on order_id for line numbering. Day-2 dim
  * merges never number keys themselves: the insert-only ones are
  * [[Dims.insertOnlyMerge]], the SCD2 ones [[Scd2.mergeKeyed]], and both
  * take their fresh keys from the one offset numbering in [[Dims]].
  */
object StarSchema {

  /** dim.Date from data-driven bounds (X1; SQLproject1.sql:246-286). */
  def dateDim(stg: DataFrame): DataFrame =
    DateSpine.fromBounds(
      stg.select(col("order_date").as("lo"), col("ship_date").as("hi")),
      col("lo"), col("hi"))

  /** Simple conformed dims (A1/J7; SQLproject1.sql:288-447). */
  def shipModeDim(stg: DataFrame): DataFrame =
    Dims.buildDim(stg.filter(col("ship_mode").isNotNull), Seq("ship_mode"),
      "ship_mode_key")

  def categoryDim(stg: DataFrame): DataFrame =
    Dims.buildDim(stg.filter(col("category").isNotNull), Seq("category"),
      "category_key")

  /** dim.SubCategory: (category, sub_category) pairs keyed like every other
    * conformed dim, with `category_key` attached from the category dim. */
  def subCategoryDim(stg: DataFrame, catDim: DataFrame): DataFrame =
    withCategoryKey(Dims.buildDim(subCategories(stg), SubCategoryKey,
      "sub_category_key"), catDim,
      Seq("category", "sub_category", "category_key", "sub_category_key"))

  private val SubCategoryKey = Seq("category", "sub_category")
  private def subCategories(stg: DataFrame): DataFrame =
    stg.filter(col("category").isNotNull && col("sub_category").isNotNull)
  private def withCategoryKey(subCats: DataFrame, catDim: DataFrame,
                              order: Seq[String]): DataFrame =
    subCats.join(catDim.select("category", "category_key"), "category")
      .select(order.map(col): _*)

  /** dim.Geography with normalized postal codes and a persisted MD5 hash
    * key (P7/X3/J2; SQLproject1.sql:314-447). */
  def geographyDim(stg: DataFrame): DataFrame = {
    val geo = stg
      .filter(col("region").isNotNull || col("state").isNotNull ||
        col("city").isNotNull)
      .select(col("country"), col("city"), col("state"),
        Staging.normalizePostal(col("postal_code")).as("postal_code"),
        col("region"))
      .distinct()
    Dims.buildDim(geo, Seq("country", "state", "city", "postal_code", "region"),
        "geography_key")
      .withColumn("hash_key", Hashing.hashKey(Seq(
        col("country"), col("state"), col("city"), col("postal_code"),
        col("region"))))
  }

  /** Latest-attribute snapshot per natural key (A2 — MAX, not latest-by-
    * time; preserved exactly, SQLproject1.sql:454-463). */
  def customerSnapshot(stg: DataFrame): DataFrame =
    stg.filter(col("customer_id").isNotNull)
      .groupBy(col("customer_id"))
      .agg(max(col("customer_name")).as("customer_name"),
        max(col("segment")).as("segment"),
        max(col("region")).as("region"))

  def productSnapshot(stg: DataFrame): DataFrame =
    stg.filter(col("product_id").isNotNull)
      .groupBy(col("product_id"), col("category"), col("sub_category"))
      .agg(max(col("product_name")).as("product_name"))

  /** SCD2 dims via the generic merge (J8; SQLproject1.sql:449-560), with a
    * dense surrogate key per version row (§7.4 strategy a). */
  def customerDim(stg: DataFrame): DataFrame =
    Scd2.initialLoad(customerSnapshot(stg),
        Seq("customer_name", "segment", "region"))
      .withColumn("customer_key",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("customer_id"), col("effective_from"))).cast("long"))

  def productDim(stg: DataFrame): DataFrame =
    Scd2.initialLoad(productSnapshot(stg),
        Seq("product_name", "category", "sub_category"))
      .withColumn("product_key",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("product_id"), col("category"), col("sub_category"),
            col("effective_from"))).cast("long"))

  // ---- day-2 merges: the reference script is re-runnable against the ----
  // ---- existing warehouse (SQLproject1.sql:288-560)                  ----

  /** Insert-only geography merge (J7): existing rows keep their surrogate
    * keys; new geos append past max(key). `hash_key` is derived from the
    * natural key, so it is recomputed uniformly over the union. */
  def geographyDimMerge(existing: DataFrame, stg: DataFrame): DataFrame = {
    val geoKey = Seq("country", "state", "city", "postal_code", "region")
    val incoming = stg
      .filter(col("region").isNotNull || col("state").isNotNull ||
        col("city").isNotNull)
      .select(col("country"), col("city"), col("state"),
        Staging.normalizePostal(col("postal_code")).as("postal_code"),
        col("region"))
    Dims.insertOnlyMerge(existing.drop("hash_key"), incoming, geoKey,
        "geography_key")
      .withColumn("hash_key", Hashing.hashKey(Seq(
        col("country"), col("state"), col("city"), col("postal_code"),
        col("region"))))
  }

  /** Insert-only sub-category merge ([[Dims.insertOnlyMerge]] over
    * (category, sub_category)): existing pairs keep their keys, new pairs
    * append past max(sub_category_key), and every pair takes its
    * `category_key` from the (already-merged) category dim. */
  def subCategoryDimMerge(existing: DataFrame, stg: DataFrame,
                          catDim: DataFrame): DataFrame =
    withCategoryKey(Dims.insertOnlyMerge(existing.drop("category_key"),
      subCategories(stg), SubCategoryKey, "sub_category_key"), catDim,
      existing.columns.toIndexedSeq)

  /** SCD2 day-2 merges (J8), one classifier join each: surviving version
    * rows keep their surrogate keys, new versions get keys past max —
    * [[graft.operators.Scd2.mergeKeyed]]. */
  def customerDimMerge(existing: DataFrame, stg: DataFrame,
                       runDate: String): DataFrame =
    Scd2.mergeKeyed(existing, customerSnapshot(stg), Seq("customer_id"),
      Seq("customer_name", "segment", "region"), runDate, "customer_key")

  def productDimMerge(existing: DataFrame, stg: DataFrame,
                      runDate: String): DataFrame =
    Scd2.mergeKeyed(existing, productSnapshot(stg),
      Seq("product_id", "category", "sub_category"),
      Seq("product_name", "category", "sub_category"), runDate, "product_key")

  /** fact.Sales: stable line numbers + all dim keys (W2/J1/J3/J5;
    * SQLproject1.sql:562-617). Grain = order line.
    *
    * `loadTs` is the reference's `LoadTS DATETIME2 DEFAULT SYSDATETIME()`
    * audit column (SQLproject1.sql:378) — an explicit parameter like
    * `runDate`, never a wall-clock call, so loads stay deterministic and
    * re-runnable. None omits the column. */
  def salesFact(stg: DataFrame, dims: SuperstoreDims,
                loadTs: Option[String] = None): DataFrame = {
    val numbered = Windows.lineNumber(stg,
      Seq(col("order_id")), Seq(col("product_id"), col("product_name")),
      "order_line_no")
    val geoKeyed = numbered
      .withColumn("__geo_hash", Hashing.hashKey(Seq(
        col("country"), col("state"), col("city"),
        Staging.normalizePostal(col("postal_code")), col("region"))))
      .join(dims.geography.select(col("hash_key").as("__geo_hash"),
        col("geography_key")), Seq("__geo_hash"), "left")
    val selected = geoKeyed
      .join(dims.shipMode, Seq("ship_mode"), "left")
      .join(dims.subCategory.select("sub_category", "category_key",
        "sub_category_key")
        .withColumnRenamed("category_key", "__ck"), Seq("sub_category"), "left")
      // the filtered-unique invariant (UX_*_Current) makes the current slice
      // 1:1 on the natural key, so a plain inner-shaped left join replaces
      // the reference's CROSS APPLY TOP(1) (J3)
      .join(dims.customer.filter(col("is_current"))
        .select("customer_id", "customer_key"), Seq("customer_id"), "left")
      .join(dims.product.filter(col("is_current"))
        .select("product_id", "sub_category", "product_key"),
        Seq("product_id", "sub_category"), "left")
      .select(
        col("order_id"), col("order_line_no"),
        date_format(col("order_date"), "yyyyMMdd").cast("int").as("order_date_key"),
        date_format(col("ship_date"), "yyyyMMdd").cast("int").as("ship_date_key"),
        col("ship_mode_key"), col("customer_key"), col("product_key"),
        col("geography_key"), col("__ck").as("category_key"),
        col("sub_category_key"),
        col("sales"), col("quantity"), col("discount"), col("profit"))
    loadTs.fold(selected)(ts =>
      selected.withColumn("load_ts", to_timestamp(lit(ts))))
  }

  /** J5: idempotent fact (re-)load — only lines whose (order_id,
    * order_line_no) key is absent from the existing fact are appended
    * (the reference's NOT EXISTS guard, SQLproject1.sql:612-615). A
    * re-run with an already-loaded batch is a no-op. */
  def appendFactIdempotent(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.unionByName(
      incoming.join(existing.select("order_id", "order_line_no"),
        Seq("order_id", "order_line_no"), "left_anti"))

  final case class SuperstoreDims(
      date: DataFrame, shipMode: DataFrame, category: DataFrame,
      subCategory: DataFrame, geography: DataFrame,
      customer: DataFrame, product: DataFrame)
}
