package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew and co-location tools for the 100 TB posture (SURVEY §7.6).
  *
  * These address the two places where a plan that is correct at sf0.1
  * falls over at cluster scale:
  *
  *  - a handful of hot keys (the Region=4 problem): `saltedAggregate`
  *    splits each hot group across `buckets` sub-groups and re-combines;
  *    `saltedJoin` replicates the small side per salt so the big side's
  *    hot key spreads over `buckets` tasks. AQE's skew-join handles sort-
  *    merge skew automatically; explicit salting remains necessary for
  *    aggregations and for deterministic layout control.
  *
  *  - dimension surrogate keys that need a global row_number (single-task
  *    sort): `hashKeyDim` derives keys with xxhash64 on the natural key —
  *    fully parallel, stable across runs and clusters, no window. The
  *    trade-off is non-dense 64-bit keys and a (vanishingly small but
  *    checkable) collision risk, surfaced via `hashCollisionCount`.
  */
object Scale {

  /** Salted sum: two-phase aggregation that never concentrates a hot key
    * in one task. The same shape generalizes to any decomposable
    * aggregate (count/min/max: re-aggregate the partials; avg: carry
    * sum+count). */
  def saltedSum(df: DataFrame, keys: Seq[String], value: Column,
                saltSource: Column, buckets: Int, as: String): DataFrame =
    df.withColumn("__salt", pmod(saltSource, lit(buckets)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(value).as(as))
      .groupBy(keys.map(col): _*)
      .agg(sum(col(as)).as(as))

  /** Salted equi-join: big side salted deterministically, small side
    * replicated `buckets`×. Semantics identical to
    * `big.join(small, keys)`; the hot key's probe work spreads over
    * `buckets` tasks at the cost of replicating the small side. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltSource: Column, buckets: Int): DataFrame = {
    // NULL saltSource must not drop the row (NULL never equi-joins):
    // bucket 0 keeps semantics identical to the unsalted join
    val b = big.withColumn("__salt",
      coalesce(pmod(saltSource, lit(buckets)), lit(0)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    b.join(s, keys :+ "__salt").drop("__salt")
  }

  /** §7.4(c): hash surrogate keys — parallel, stable, windowless. */
  def hashKeyDim(src: DataFrame, naturalKey: Seq[String],
                 keyCol: String): DataFrame =
    src.select(naturalKey.map(col): _*).distinct()
      .withColumn(keyCol, xxhash64(naturalKey.map(col): _*))

  /** Post-build collision check (must be 0 before trusting hash keys). */
  def hashCollisionCount(dim: DataFrame, keyCol: String): Long =
    dim.groupBy(col(keyCol)).count().filter(col("count") > 1).count()

  /** Range-clustered parquet layout: range-partition on `orderCol` into
    * `numFiles` files, sorted within each. Files then hold DISJOINT
    * value ranges, so parquet's per-row-group min/max statistics prune
    * selective scans down to one or two files — the poor man's
    * Z-ordering for a single cluster column, and the difference between
    * "scan 100 TB" and "scan the 100 GB that can match" for
    * range-filtered queries on an unpartitioned column (partitionBy
    * directories do this for LOW-cardinality columns; range layout is
    * the tool for high-cardinality ones like ids, timestamps, prices).
    *
    * Writes with maxRecordsPerFile unset — one task = one file. The
    * range exchange samples the column to build balanced bounds, so
    * skewed distributions still give even file sizes. */
  def writeRangeLayout(df: DataFrame, path: String, orderCol: String,
                       numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.repartitionByRange(numFiles, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Layout audit for [[writeRangeLayout]]: per-file min/max of
    * `orderCol`, ordered by min. Ranges must not overlap (tested) —
    * overlap would defeat min/max pruning. */
  def fileRanges(spark: org.apache.spark.sql.SparkSession, path: String,
                 orderCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(orderCol)).as("lo"), max(col(orderCol)).as("hi"))
      .orderBy(col("lo"))

  /** Day-partitioned parquet sink with DYNAMIC partition overwrite: a
    * re-run replaces ONLY the day directories present in `df`, leaving
    * every other day untouched — the idempotent daily-load contract
    * (re-processing yesterday must not truncate the year). Spark's
    * default overwrite mode drops the whole table; the dynamic setting
    * is per-write here, not a session-wide toggle.
    *
    * Scale: `partitionBy` routes rows by day directory; pair with
    * `repartition(dayCol)` upstream if a load spans many days, so each
    * day is written by the tasks that own it rather than every task
    * writing a sliver of every day (the small-file explosion). */
  def writeDayPartitioned(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn("day", to_date(col(tsCol)))
      .repartition(col("day"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("day")
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(rows / targetRowsPerFile) files. Streaming sinks and
    * per-batch appends leave thousands of KB-sized files whose open/seek
    * overhead dominates scans at scale; periodic compaction is the
    * standard fix. Returns (filesBefore, filesAfter). Writes to
    * `destPath` (compact-then-swap — compacting in place would race
    * readers). */
  def compact(spark: org.apache.spark.sql.SparkSession, srcPath: String,
              destPath: String, targetRowsPerFile: Long): (Long, Long) = {
    require(targetRowsPerFile >= 1,
      s"targetRowsPerFile must be >= 1, got $targetRowsPerFile")
    val src = spark.read.parquet(srcPath)
    // file counts come from the file index (free), not a data scan —
    // input_file_name() per row would read the table just to count files
    val filesBefore = src.inputFiles.length.toLong
    val rows = src.count() // metadata-only for parquet
    val numFiles = math.min(
      math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile),
      Int.MaxValue.toLong).toInt
    src.repartition(numFiles).write.mode("overwrite").parquet(destPath)
    val filesAfter = spark.read.parquet(destPath).inputFiles.length.toLong
    (filesBefore, filesAfter)
  }

  /** In-place compaction for a graftcsv directory — the maintenance pass
    * a long-running graftcsv STREAMING sink needs (one part file per
    * epoch × partition accumulates into thousands of small files, and
    * both split planning and the zone-map sidecar grow with file count).
    *
    * Safe against a LIVE sink and a crash at any point: the
    * implementation pins the input file listing as a snapshot, reads
    * exactly that snapshot (the source's `pinnedFiles` option), folds
    * into a hidden tmp directory, records a durable two-set intent
    * (folded names + originals to delete), and only then swaps the
    * folded files in and deletes exactly the pinned originals. Epochs a
    * concurrent sink commits mid-compaction are neither read nor
    * deleted — they survive untouched. (The earlier `mode("overwrite")`
    * form deleted every file the compacting job didn't write at commit,
    * i.e. a racing epoch was dropped unread; the earlier
    * append-into-place form could bake permanent duplicates when a
    * crash landed between the fold commit and the intent.) Full
    * protocol + concurrency contract:
    * [[graft.sources.QuirkCsvMaintenance]]. Returns
    * (filesBefore, filesAfter). */
  def compactCsv(spark: org.apache.spark.sql.SparkSession, dir: String,
                 numFiles: Int): (Long, Long) =
    graft.sources.QuirkCsvMaintenance.compactCsv(spark, dir, numFiles)

  /** As [[compactCsv]], folding range-clustered on `sortBy` (or pass
    * None to auto-detect the table's `_graft_cluster` marker): folded
    * files carry disjoint key ranges, so the per-dir zone map prunes a
    * selective probe to one file. */
  def compactCsvClustered(spark: org.apache.spark.sql.SparkSession,
                          dir: String, numFiles: Int,
                          sortBy: Option[String]): (Long, Long) =
    graft.sources.QuirkCsvMaintenance.compactCsv(spark, dir, numFiles,
      sortBy)

  /** 32-bit Morton (Z-order) key over two numeric columns: each column is
    * min/max-scaled to 16 bits and the bits are interleaved. Rows close in
    * Z-key are close in BOTH dimensions, which is what makes the key a
    * multi-column clustering order. Linear min/max scaling is
    * skew-sensitive (a production layout would use sampled quantile
    * bounds per column); bounds are parameters so callers scale however
    * they like. */
  def zorderKey(a: Column, b: Column,
                aMin: Column, aMax: Column,
                bMin: Column, bMax: Column): Column = {
    // clamp to the 16-bit range: with SAMPLED bounds (the documented
    // production mode) out-of-range rows exist by construction, and an
    // unclamped negative scale would sign-extend 1-bits into every
    // interleave position while a >16-bit value would corrupt the other
    // column's bit lanes. NULL coordinates propagate to a NULL key (the
    // bare greatest/least SKIP nulls and would silently conflate NULL
    // with the max corner): NULL-key rows then cluster together under
    // nulls-first range partitioning instead of scattering.
    def scale16(x: Column, lo: Column, hi: Column): Column =
      when(x.isNull, lit(null).cast("long"))
        .when(hi > lo, greatest(lit(0L), least(lit(65535L),
          floor((x - lo).cast("double") / (hi - lo) * 65535.0).cast("long"))))
        .otherwise(lit(0L))
    val sa = scale16(a, aMin, aMax)
    val sb = scale16(b, bMin, bMax)
    (0 until 16).map { i =>
      shiftleft(shiftright(sa, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(sb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order-clustered parquet layout: [[writeRangeLayout]] generalized to
    * TWO cluster columns. Files hold compact Z-ranges, i.e. rectangles in
    * (colA, colB) space, so parquet min/max statistics prune selective
    * scans on EITHER column — a single-column range layout can only prune
    * one. The multi-column answer to "analysts filter this table by user
    * OR by time, and we can only sort it one way".
    *
    * Cost/scale: one cheap global min/max agg, then exactly the
    * writeRangeLayout plan (range exchange + in-partition sort) — nothing
    * here is per-row driver work, and the write parallelism is
    * numFiles. */
  def writeZorderLayout(df: DataFrame, path: String, colA: String,
                        colB: String, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val b = df.agg(min(col(colA)), max(col(colA)),
      min(col(colB)), max(col(colB))).collect()(0)
    val (aMin, aMax, bMin, bMax) =
      (lit(b.get(0)), lit(b.get(1)), lit(b.get(2)), lit(b.get(3)))
    df.withColumn("__z",
        zorderKey(col(colA), col(colB), aMin, aMax, bMin, bMax))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Layout audit for [[writeZorderLayout]]: per-file min/max RECTANGLE
    * over both cluster columns. Pruning power on a predicate is "how many
    * rectangles intersect it" (tested against the one-column layout). */
  def fileRectangles(spark: org.apache.spark.sql.SparkSession, path: String,
                     colA: String, colB: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(colA)).as("a_lo"), max(col(colA)).as("a_hi"),
        min(col(colB)).as("b_lo"), max(col(colB)).as("b_hi"))

  /** Bloom-pruned equi-join: a manual runtime filter for the regime where
    * the small side is too big to BROADCAST but its key FINGERPRINT still
    * fits in memory. The small side's join keys feed a bloom filter
    * (built distributed via treeAggregate inside `stat.bloomFilter`, so
    * no key set ever lands on the driver — only the fixed-size bitmap);
    * the big side is filtered against it BEFORE its shuffle, so rows that
    * cannot join never enter the exchange. False positives are removed by
    * the join itself — output is EXACTLY `big.join(small, key)`.
    *
    * This hand-rolls what Spark's `runtime.bloomFilter` optimizer
    * injection does, but deterministically and regardless of whether the
    * planner's selectivity heuristics fire. The probe is a non-codegen
    * scalar (one xxhash + k bit tests per row against a broadcast
    * bitmap); it trades that per-row cost for shuffling `selectivity ×
    * |big|` instead of `|big|` — at 100 TB with a 1% selective dimension
    * filter, a 99% shuffle cut.
    *
    * `key` must be a LONG column on both sides (surrogate/natural integer
    * keys — the star-schema case); `expectedItems`/`fpp` size the bitmap
    * (n=1M, fpp=0.01 ≈ 1.2 MB). */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, key: String,
                      expectedItems: Long, fpp: Double): DataFrame = {
    require(big.schema(key).dataType == org.apache.spark.sql.types.LongType &&
      small.schema(key).dataType == org.apache.spark.sql.types.LongType,
      s"bloomPrunedJoin key '$key' must be LONG on both sides")
    val bf = small.stat.bloomFilter(col(key), expectedItems, fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    big.filter(mightContain(col(key))).join(small, key)
  }

  /** Key-skew profile: a log2 histogram of rows-per-key — the diagnostic
    * you run BEFORE choosing a join/agg strategy at scale. Each key's row
    * count lands in bucket floor(log2(count)); the output is one row per
    * non-empty bucket with key and row totals plus the bucket's min/max
    * count. A healthy equi-join key shows mass in low buckets; a
    * `saltedJoin` candidate shows a lone key in bucket 20.
    *
    * floor(log2(n)) is computed as length(bin(n)) - 1 — pure integer
    * arithmetic, because float log2 on exact powers of two can land a
    * hair under the integer and floor to the wrong bucket. Scale: the
    * per-key count is one map-side-combined aggregation; the bucket
    * rollup then runs over one row per DISTINCT key, and the final
    * histogram is ≤ 64 rows. */
  /** Dirty-partition incremental rollup refresh (the warehouse
    * `insert_overwrite` pattern, and the complement of
    * [[Cdc.mergePartials]]): late-arriving facts touch a handful of day
    * partitions; rebuild ONLY those days from facts, and keep every
    * clean day's rows straight from the stored rollup — the fact table
    * is scanned once filtered to dirty days (partition-pruned at 100 TB:
    * the filter is on the partition column), and clean days cost one
    * scan of the (tiny) aggregate table. mergePartials handles
    * insert-only deltas cheaper; this shape is the one that stays
    * correct when late data REWRITES history (updates/deletes within a
    * day, reprocessed files), because dirty days are recomputed from
    * scratch, not patched.
    *
    * `baseAgg` must carry (dayCol, groupCols..., n_rows, sum_measure)
    * — the layout this function's full-recompute twin `rollup` emits.
    * Returns the refreshed rollup in the same layout; differential
    * equality with a from-scratch rollup over (baseFacts ∪ lateFacts)
    * is the operator's contract (spec + q148 oracle).
    *
    * Sums run in DECIMAL(18,2): exact and associative, so incremental
    * and full recompute agree to the BIT, not within float noise. */
  def incrementalRollup(baseAgg: DataFrame, baseFacts: DataFrame,
                        lateFacts: DataFrame, dayCol: String,
                        groupCols: Seq[String],
                        measureCol: String): DataFrame =
    refreshDays(baseAgg, baseFacts.unionByName(lateFacts),
      lateFacts.select(col(dayCol)).distinct(), dayCol, groupCols,
      measureCol)

  /** The dirty-day core of [[incrementalRollup]], for callers whose fact
    * store ALREADY contains the late rows (e.g. an append-then-refresh
    * stream): rebuild exactly `dirtyDays` from `facts`, keep every other
    * day's rows from `baseAgg`. */
  def refreshDays(baseAgg: DataFrame, facts: DataFrame,
                  dirtyDays: DataFrame, dayCol: String,
                  groupCols: Seq[String], measureCol: String): DataFrame = {
    val clean = baseAgg.join(broadcast(dirtyDays), Seq(dayCol), "left_anti")
    val dirty = rollup(
      facts.join(broadcast(dirtyDays), Seq(dayCol), "left_semi"),
      dayCol, groupCols, measureCol)
    clean.unionByName(dirty)
  }

  /** The full-recompute twin of [[incrementalRollup]]: day + group grain,
    * exact decimal sums. Use it to seed `baseAgg` and as the equality
    * oracle. */
  def rollup(facts: DataFrame, dayCol: String, groupCols: Seq[String],
             measureCol: String): DataFrame =
    facts
      .groupBy((dayCol +: groupCols).map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(measureCol).cast("decimal(18,2)")).as("sum_measure"))

  /** Relabel every entity outside the global top-`n` (by total of
    * `valueCol`, exact decimal, ties broken by entity string) as
    * "other" — the leaderboard-plus-other serving pattern that keeps a
    * dashboard's category axis bounded no matter how many entities
    * exist. Returns the input with an added `entity_label` column;
    * group by it downstream.
    *
    * Scale: one map-side-combined total per entity, a k-row
    * TakeOrdered for the top set, and a broadcast join back — the
    * full data is scanned once and never shuffled on the entity key a
    * second time. */
  def topNOther(df: DataFrame, entityCol: String, valueCol: String,
                n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val totals = df
      .filter(col(entityCol).isNotNull)
      .groupBy(col(entityCol))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("__tot"))
    // orderBy+limit plans as TakeOrderedAndProject: partial top-n per
    // partition, n-row merge — no single-task global window over the
    // entity totals
    val top = totals
      .orderBy(col("__tot").desc, col(entityCol).asc)
      .limit(n)
      .select(col(entityCol), lit(true).as("__is_top"))
    df.join(broadcast(top), Seq(entityCol), "left_outer")
      .withColumn("entity_label",
        when(col("__is_top"), col(entityCol).cast("string"))
          .otherwise(lit("other")))
      .drop("__is_top")
  }

  /** Salt planner: turn the skew diagnosis ([[keySkewProfile]]) into
    * the concrete remediation — for every key whose row count exceeds
    * `targetRowsPerKey`, the salt bucket count that splits it back
    * under the target: `salt_buckets = ceil(n_rows / target)` (exact
    * integer ceil-division). Feed the result into
    * [[saltedSum]]/[[saltedJoin]] bucket choices, or broadcast it to
    * salt ONLY the listed hot keys (cold keys keep the unsalted path
    * and pay no fan-out). Emits (key…, n_rows, salt_buckets), hot keys
    * only — at most rows/target of them, a bounded frame by
    * construction.
    *
    * Scale: one map-side-combined count per key + a threshold filter;
    * nothing leaves the executors. */
  def saltPlanner(df: DataFrame, keyCols: Seq[String],
                  targetRowsPerKey: Long): DataFrame = {
    require(keyCols.nonEmpty, "saltPlanner needs at least one key column")
    require(targetRowsPerKey >= 1,
      s"targetRowsPerKey must be >= 1, got $targetRowsPerKey")
    val ks = keyCols.map(c => col(s"`$c`"))
    df.filter(ks.map(_.isNotNull).reduce(_ && _))
      .groupBy(ks: _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > targetRowsPerKey)
      .withColumn("salt_buckets",
        expr(s"(n_rows + $targetRowsPerKey - 1) div $targetRowsPerKey")
          .cast("int"))
  }

  def keySkewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keySkewProfile needs at least one key column")
    val counts = df
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    counts
      .groupBy((length(bin(col("__cnt"))) - 1).cast("int").as("log2_bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__cnt")).as("n_rows"),
        min(col("__cnt")).as("min_rows_per_key"),
        max(col("__cnt")).as("max_rows_per_key"))
  }

  /** Serving-layer nested export: children collapsed into a
    * DETERMINISTICALLY ORDERED `array<struct>` per parent row — the
    * denormalized document shape an API or search index serves, built
    * without a per-request join. Ordering matters: `collect_list` order
    * is partition-arrival nondeterminism, so the collected structs are
    * `array_sort`ed (struct compare = field by field over `itemCols`,
    * which must therefore form a total order — include a unique child
    * key). Parents with no children get an EMPTY array, not NULL (the
    * serving contract: every document has an items field).
    *
    * Emits every parent column plus (items, n_items).
    *
    * Scale: one child-side groupBy on the parent key (map-side combined
    * into array state), one key-equi join; the array is bounded by the
    * real children-per-parent fanout — the same bound any nested
    * document store carries. */
  /** Distributed GLOBAL row numbering under (value ASC, tiebreak ASC) —
    * the primitive that replaces `row_number() over (order by v)`'s
    * single-task global sort. Same telescoping as the token-budget cut:
    * values range-bucket onto `buckets` equal-width bins (monotone, so
    * bucket-major + within-bucket order IS the global order), per-bucket
    * counts (≤ `buckets` rows) prefix-sum into exclusive offsets, and
    * each row's number is its bucket offset plus a WITHIN-bucket
    * `row_number` — windows parallel across buckets.
    *
    * `tiebreakCol` must be unique (it totalizes the order); NULL values
    * are rejected (no position in the order). Emits the input plus
    * `global_rn` (1-based). Skewed value distributions degrade toward
    * one window partition — the usual keyed-window contract; raise
    * `buckets` or pre-spread if a single value dominates.
    *
    * SIZE-DISPATCHED (the connectedComponents discipline):
    * inputs at or under `smallInputMaxRows` take the plain one-shuffle
    * global window — a single sorted partition of ≤ that many rows beats
    * the telescoped plan's ~6 stages of job overhead. Above the cap (or
    * with the cap set to 0) the telescoped form runs; both paths are
    * output-identical (pinned in R5jOpsSpec). The dispatch count is one
    * column-pruned scan. */
  def globalRowNumber(df: DataFrame, valueCol: String, tiebreakCol: String,
                      buckets: Int = 4096,
                      smallInputMaxRows: Long = 2000000L): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull)
    // upper-bound dispatch count on the unfiltered input: metadata-only
    // for a bare scan, and never evaluates a derived value column
    if (smallInputMaxRows > 0 && df.count() <= smallInputMaxRows)
      return base.withColumn("global_rn",
        row_number().over(
          Window.orderBy(col(valueCol).asc, col(tiebreakCol).asc))
          .cast("long"))
    val bounds = base.agg(min(v).as("__lo"), max(v).as("__hi"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .withColumn("__bucket",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(lit(buckets - 1),
            floor((v - col("__lo")) /
              ((col("__hi") - col("__lo")) / lit(buckets.toDouble)))
              .cast("int"))))
      .drop("__lo", "__hi")
    val offsets = bucketed.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__offset",
        coalesce(sum(col("__bn")).over(
          Window.orderBy(col("__bucket").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bucket"), col("__offset"))
    val w = Window.partitionBy(col("__bucket"))
      .orderBy(col(valueCol).asc, col(tiebreakCol).asc)
    bucketed
      .join(broadcast(offsets), Seq("__bucket"))
      .withColumn("global_rn", col("__offset") + row_number().over(w))
      .drop("__bucket", "__offset")
  }

  def nestedChildren(parent: DataFrame, child: DataFrame, key: String,
                     itemCols: Seq[String]): DataFrame = {
    val items = child
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(itemCols.map(col): _*)))
        .as("items"))
    val emptyArr = array().cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(
          itemCols.map(c => org.apache.spark.sql.types.StructField(c,
            child.schema(c).dataType, child.schema(c).nullable)))))
    parent
      .join(items, Seq(key), "left")
      .withColumn("items", coalesce(col("items"), emptyArr))
      .withColumn("n_items", size(col("items")))
  }

  /** Top-`bits` bucket of `x` within the data range `[lo, hi]` by pure
    * integer bit arithmetic: bucket = (x − lo) >> max(bitwidth(hi−lo) −
    * bits, 0), where bitwidth comes from `length(bin(·))` — no floating
    * division, so the mapping replays exactly in any engine with shifts
    * (unlike `floor((x−lo)·2^bits / range)`, whose double rounding can
    * disagree across engines at bucket edges). Monotonic in x; range
    * predicates on x map to contiguous bucket ranges. */
  def powerOfTwoBucket(x: Column, lo: Column, hi: Column,
                       bits: Int): Column = {
    require(bits >= 1 && bits <= 62, s"bits must be in 1..62, got $bits")
    val width = length(bin(hi.cast("long") - lo.cast("long")))
    val shift = greatest(width - lit(bits), lit(0))
    call_function("shiftright", x.cast("long") - lo.cast("long"), shift)
  }

  /** Morton / Z-order interleave of two `bits`-bit bucket values (the
    * Delta/Iceberg OPTIMIZE ZORDER layout key): bit i of `a` lands at
    * position 2i, bit i of `b` at 2i+1. Rows sorted by this key cluster
    * in BOTH dimensions at once, so min/max zone maps prune range
    * predicates on either column — the multi-dimensional answer to
    * sort-on-write clustering on one column. Pure bit expressions,
    * codegen'd, engine-replayable. */
  def zorderValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in 1..31, got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(
          shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Rendezvous (highest-random-weight) shard assignment: the shard is
    * argmax over s in 0..shards-1 of md5(key || '#' || s). Growing the
    * shard count from n to m > n moves only the rows whose new winner is
    * one of the ADDED shards (expected (m-n)/m of them), because the
    * surviving candidates keep their hashes — vs mod hashing, which
    * remaps ~(1 - 1/lcm) of all rows. Pure per-row expression: no
    * shuffle, codegen'd, engine-reproducible (md5 + lexicographic
    * argmax). */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards >= 1 && shards <= 1024,
      s"shards must be in 1..1024, got $shards")
    array_max(array((0 until shards).map(s =>
      struct(md5(concat(key.cast("string"), lit("#"), lit(s.toString)))
        .as("h"), lit(s).as("s"))): _*)).getField("s")
  }
}
