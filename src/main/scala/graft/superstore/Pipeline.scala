package graft.superstore

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DateSpine, Dims}
import graft.superstore.StarSchema.SuperstoreDims

/** End-to-end Superstore ELT pipeline (SURVEY §3.1's 13-stage DAG as lazy
  * DataFrames; the caller decides where to write/materialize). Building
  * the outputs runs no Spark job beyond reading the extract: [[run]] and
  * [[runIncremental]] run only the CSV reader's first-line schema job, and
  * [[runViaCatalog]]'s only eager work is the raw-table overwrite.
  *
  * Every run marks `deduped` and the seven dims for caching (`.cache()`,
  * lazy: the first action that reads one fills it). The fact, the four
  * fact-based marts and any landing of the dims then read one
  * materialization instead of re-running the dims' windows and, on day 2,
  * the SCD2 and insert-only merges. The fact and the marts stay uncached:
  * the fact's star joins stay visible to the planner, and a day-2 fact
  * reads the table its landing appends to. The caller owns the cached
  * entries and unpersists them when done.
  *
  * Mirrors the reference script order: raw load -> typed staging -> dedup ->
  * QA -> date spine -> simple dims -> SCD2 dims -> fact -> views/marts.
  */
object Pipeline {

  /** One run's lazy outputs. `deduped` and the seven `dims` are cached
    * (see [[Pipeline]]); unpersist them once the run's actions are done. */
  final case class Outputs(
      raw: DataFrame, staged: DataFrame, deduped: DataFrame,
      loadIssues: DataFrame, dims: SuperstoreDims, fact: DataFrame,
      rolling30: DataFrame, customerCohort: DataFrame,
      topProducts: DataFrame, suspiciousDiscounts: DataFrame,
      pivotByCategory: DataFrame, pivotByOrderDate: DataFrame)

  /** First (full) load. `runTs` stamps the audit columns — fact.load_ts and
    * qa.LoadIssues.created_at (SQLproject1.sql:378,220) — as an explicit
    * parameter, never wall clock; None omits them. */
  def run(spark: SparkSession, csvPath: String,
          excelCompat: Boolean = false,
          runTs: Option[String] = None): Outputs =
    fullLoad(Ingest.readRaw(spark, csvPath, excelCompat), runTs)

  /** [[run]] with the RAW layer as an addressable `graft_cat` TABLE read
    * through the `graftcsv` DSv2 source — the reference's raw layer is a
    * real table (`SQLproject1.sql:82-127`), not a function call, and this
    * is the end-to-end shape a 100-TB deployment runs: extract loaded
    * once into a catalog-managed, region-range-clustered raw table;
    * every downstream consumer scans THROUGH the source, so raw-layer
    * slicer filters reach the reader as `PushedFilters` and the zone-map
    * sidecar skips whole part files.
    *
    * Reload semantics match the reference's TRUNCATE + BULK INSERT: the
    * load is an overwrite-by-truncate, so re-running replaces the raw
    * table instead of appending duplicate extracts. `source_file`
    * records the extract path (one load = one extract, like the
    * reference's single BULK INSERT source); `ingested_at` is stamped at
    * read exactly as [[Ingest.readRaw]] stamps it. */
  def runViaCatalog(spark: SparkSession, csvPath: String,
                    catalogRoot: String,
                    excelCompat: Boolean = false,
                    runTs: Option[String] = None,
                    rawLayoutFiles: Int = 0,
                    catalogName: String = "graft_cat"): Outputs = {
    // NOTE: Spark caches catalog INSTANCES per name — the first use of a
    // name pins its root for the session. Callers sharing a session with
    // other graft_cat users should pass a distinct catalogName.
    spark.conf.set(s"spark.sql.catalog.$catalogName",
      classOf[graft.sources.QuirkCsvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalogName.root", catalogRoot)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalogName.raw")
    val cols = (Ingest.rawColumns :+ "source_file")
      .map(c => s"$c STRING").mkString(", ")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $catalogName.raw.superstore ($cols)")
    val extract = spark.read.format("graftcsv")
      .option("excelCompat", excelCompat.toString)
      .load(csvPath)
      .withColumn("source_file", lit(csvPath))
    // region-range clustering: each part file covers a tight Region
    // range, so the zone-map sidecar prunes slicer scans to the files
    // that can match — the layout decision that matters at 100 TB.
    // rawLayoutFiles pins the file count (size-based in production);
    // 0 lets AQE pick — which at toy scale coalesces to ONE file, so
    // callers who want a pruning-capable layout pass a real number.
    val clustered =
      if (rawLayoutFiles > 0)
        extract.repartitionByRange(rawLayoutFiles, col("Region"))
      else extract.repartitionByRange(col("Region"))
    clustered
      .writeTo(s"$catalogName.raw.superstore")
      .overwrite(lit(true))
    val raw = spark.table(s"$catalogName.raw.superstore")
      .withColumn("ingested_at",
        runTs.map(t => to_timestamp(lit(t)))
          .getOrElse(current_timestamp()))
    fullLoad(raw, runTs)
  }

  /** Land the sales fact as a YEAR-partitioned `graft_cat` table with
    * the reference's idempotent (re-)load (`NOT EXISTS` guard,
    * SQLproject1.sql:612-615) in its strongest catalog-native form: the
    * incoming batch anti-joins the table on the fact grain
    * (order_id, order_line_no) and only absent lines APPEND — a re-run
    * of an already-loaded batch writes NOTHING, so every partition
    * directory stays byte-identical, and a one-day increment touches
    * only the value dirs that actually receive rows. (The MERGE INTO
    * form also works against this table — q345's partition-granular
    * copy-on-write — but rewrites matched partitions even when no row
    * changes; the anti-join append is the no-op-on-replay shape.)
    * Columns land as strings (the raw-layer contract); `order_year`
    * derives from order_date_key. Returns the table read back. */
  def landFactPartitioned(spark: SparkSession, fact: DataFrame,
                          catalogName: String, ns: String = "fact",
                          table: String = "sales"): DataFrame = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalogName.$ns")
    val ddl = (fact.columns :+ "order_year")
      .map(c => s"$c STRING").mkString(", ")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS $catalogName.$ns.$table
      ($ddl) PARTITIONED BY (order_year)""")
    val target = s"$catalogName.$ns.$table"
    val incoming = fact
      .select(fact.columns.map(c => col(c).cast("string")): _*)
      .withColumn("order_year", substring(col("order_date_key"), 1, 4))
    // the J5 guard through the catalog: the probe reads only the two
    // grain columns (pruned at the scan), the append routes into value
    // dirs, untouched years' files are never opened for write
    val existing = spark.table(target).select("order_id", "order_line_no")
    incoming.join(existing, Seq("order_id", "order_line_no"), "left_anti")
      .writeTo(target).append()
    spark.table(target)
  }

  /** Day-2+ run: the reference script re-executed against the existing
    * warehouse (SQLproject1.sql:288-617) — every MERGE lands on the PRIOR
    * tables instead of empty ones.
    *
    * CONTRACT: `csvPath` must be the FULL refreshed extract, exactly like
    * the reference (its staging table is rebuilt from the whole file every
    * run, :288-310). Line numbers (`order_line_no`) are assigned per run
    * over the staged data, so they are only stable when each run sees
    * every line of an order; feeding a partial delta whose orders are
    * missing lines would collide batch-local numbers with warehouse
    * numbers at the J5 guard — the same failure the reference's
    * ROW_NUMBER-per-run staging has. New orders, drifted attributes, and
    * re-sent rows are all fine; partially-delivered ORDERS are not.
    *  - simple dims take insert-only merges (J7): existing surrogate keys
    *    are untouched, unseen natural keys append past max(key);
    *  - customer/product take the SCD2 merge (J8): changed keys close their
    *    current version at `runDate` and open a new one, key-preserving;
    *  - the date spine is re-derived over prior ∪ new bounds (date keys are
    *    value-derived, so regeneration is stable);
    *  - fact rows are built against the merged dims and appended through
    *    the NOT EXISTS guard (J5) — re-running an already-loaded batch is a
    *    no-op.
    *
    * Prior dims/fact should be MATERIALIZED inputs (read from storage, or
    * checkpointed): the merge both reads them and produces their
    * replacement, the classic read-then-overwrite hazard (SURVEY §7.5.1).
    */
  def runIncremental(spark: SparkSession, csvPath: String,
                     priorDims: SuperstoreDims, priorFact: DataFrame,
                     runDate: String, excelCompat: Boolean = false,
                     runTs: Option[String] = None): Outputs = {
    val raw = Ingest.readRaw(spark, csvPath, excelCompat)
    val staged = Staging.typed(raw)
    val deduped = Staging.deduped(staged).cache()

    // union'd bounds: the prior spine's ends + the new batch's dates
    val bounds = deduped
      .select(col("order_date").as("lo"), col("ship_date").as("hi"))
      .unionByName(priorDims.date
        .select(col("date").as("lo"), col("date").as("hi")))
    val category = Dims.insertOnlyMerge(priorDims.category,
      deduped.filter(col("category").isNotNull), Seq("category"),
      "category_key")
    val dims = cached(SuperstoreDims(
      date = DateSpine.fromBounds(bounds, col("lo"), col("hi")),
      shipMode = Dims.insertOnlyMerge(priorDims.shipMode,
        deduped.filter(col("ship_mode").isNotNull), Seq("ship_mode"),
        "ship_mode_key"),
      category = category,
      subCategory = StarSchema.subCategoryDimMerge(priorDims.subCategory,
        deduped, category),
      geography = StarSchema.geographyDimMerge(priorDims.geography, deduped),
      customer = StarSchema.customerDimMerge(priorDims.customer, deduped,
        runDate),
      product = StarSchema.productDimMerge(priorDims.product, deduped,
        runDate)))

    // use runTs consistently across runs: a stamped batch can only append
    // to a fact that already carries load_ts (unionByName is strict)
    val incoming = StarSchema.salesFact(deduped, dims, runTs)
    val fact = StarSchema.appendFactIdempotent(priorFact, incoming)
    outputs(raw, staged, deduped, dims, fact, runTs)
  }

  /** Day-1 build shared by [[run]] and [[runViaCatalog]]: staged ->
    * deduped -> the seven dims -> fact -> marts, over any raw layer. */
  private def fullLoad(raw: DataFrame, runTs: Option[String]): Outputs = {
    val staged = Staging.typed(raw)
    // dedup output feeds every downstream consumer: cache it (S5 — the
    // reference materializes #temp tables for the same reason)
    val deduped = Staging.deduped(staged).cache()
    val categoryDim = StarSchema.categoryDim(deduped)
    val dims = cached(SuperstoreDims(
      date = StarSchema.dateDim(deduped),
      shipMode = StarSchema.shipModeDim(deduped),
      category = categoryDim,
      subCategory = StarSchema.subCategoryDim(deduped, categoryDim),
      geography = StarSchema.geographyDim(deduped),
      customer = StarSchema.customerDim(deduped),
      product = StarSchema.productDim(deduped)))
    val fact = StarSchema.salesFact(deduped, dims, runTs)
    outputs(raw, staged, deduped, dims, fact, runTs)
  }

  /** Marks the seven dims for caching, in field order: `category` before
    * `subCategory`, whose cached plan then reads the cached category dim. */
  private def cached(d: SuperstoreDims): SuperstoreDims = SuperstoreDims(
    d.date.cache(), d.shipMode.cache(), d.category.cache(),
    d.subCategory.cache(), d.geography.cache(), d.customer.cache(),
    d.product.cache())

  private def outputs(raw: DataFrame, staged: DataFrame, deduped: DataFrame,
                      dims: SuperstoreDims, fact: DataFrame,
                      runTs: Option[String]): Outputs =
    Outputs(
      raw = raw, staged = staged, deduped = deduped,
      loadIssues = Marts.loadIssues(deduped, runTs),
      dims = dims, fact = fact,
      rolling30 = Marts.rolling30(fact, dims.geography, dims.date),
      customerCohort = Marts.customerCohort(fact, dims.date),
      topProducts = Marts.topProductsBySubCat(fact, dims.product),
      suspiciousDiscounts = Marts.suspiciousDiscounts(fact),
      pivotByCategory = Marts.pivotByCategory(deduped),
      pivotByOrderDate = Marts.pivotByOrderDate(deduped))
}
