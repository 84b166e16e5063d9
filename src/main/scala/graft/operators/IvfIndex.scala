package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF ANN index as a MAINTAINED CATALOG ARTIFACT — the similarity
  * tier's "index as a table" story, matching the raw tier's: the
  * centroid set and the vector→centroid assignment persist as graft_cat
  * tables, new batches are assigned INCREMENTALLY (one scan of the new
  * vectors against the broadcast centroids — the already-assigned corpus
  * is never rescanned), and a drift report over the persisted assignment
  * tells the owner when appending must stop and a re-train must run.
  *
  * Layout (all-string raw layer):
  *  - `<name>_centroids (centroid_id, emb)` — emb is the float array
  *    encoded as comma-joined `CAST(float AS STRING)` values; Java's
  *    float→string→float round-trip is exact, so assignment against
  *    decoded centroids is bit-identical to assignment against the
  *    originals (proven by the q348 oracle: the incremental table
  *    hash-matches a from-scratch full re-assignment).
  *  - `<name>_assign (vec_id, centroid_id, batch)` PARTITIONED BY
  *    (batch) — each ingest batch is one partition, so re-running a
  *    batch is a dynamic-partition overwrite (idempotent, and it can
  *    never touch other batches' files), re-assigning one batch after
  *    a centroid change rewrites one value dir, and batch retention is
  *    DROP PARTITION. The partitioned-table tier does the index
  *    maintenance bookkeeping.
  *  - `coLocate = true` at [[build]] flips the assignment layout to
  *    the two-level PARTITIONED BY (centroid_id, batch) — the SemDeDup
  *    blocking key LEADS the partitioning, so [[semanticDupPairs]]'
  *    within-bucket self-join plans as a storage-partitioned join with
  *    ZERO shuffle of the assignment table (IvfBucketedSpec
  *    plan-asserts it; the scan's grouped mode keys on the leading
  *    column, join key == grouping key exactly, so no co-partition
  *    conf is needed) — while `batch` keeps its own leaf dirs:
  *    re-delivery is ONE overwrite-by-filter commit (converges even
  *    for revised content) and retention is a METADATA-ONLY
  *    partial-spec delete, the same properties as the default layout.
  *
  * At 100 TB: centroids are k rows (broadcast); each appendBatch scans
  * only the new batch; driftReport aggregates the assignment table
  * (id + centroid + batch — no embeddings); retrain is the only
  * full-corpus pass, and the drift alert is exactly the signal that
  * amortizes it. */
object IvfIndex {

  private def centTbl(cat: String, ns: String, name: String) =
    s"$cat.$ns.${name}_centroids"
  private def asgTbl(cat: String, ns: String, name: String) =
    s"$cat.$ns.${name}_assign"

  private def encodeEmb(c: Column): Column =
    concat_ws(",", transform(c, _.cast("string")))
  private def decodeEmb(c: Column): Column =
    transform(split(c, ","), _.cast("float"))

  /** Train (deterministic seed draw, [[Similarity.ivfCentroids]]) on
    * `corpus` and persist centroids + the full base assignment (batch
    * label `base`). Drops any previous index of this name — this IS the
    * re-train path. */
  def build(spark: SparkSession, cat: String, ns: String, name: String,
            corpus: DataFrame, idCol: String, embCol: String, k: Int,
            baseBatch: String = "base", coLocate: Boolean = false): Unit = {
    Seq("catalog" -> cat, "namespace" -> ns, "index name" -> name)
      .foreach { case (kk, v) => NearDupIndex.requireSafeIdent(kk, v) }
    require(k >= 1, s"k must be >= 1, got $k")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
    IndexMaintenanceLock.withLock(spark, cat, ns, name) {
      spark.sql(s"DROP TABLE IF EXISTS ${centTbl(cat, ns, name)}")
      spark.sql(s"DROP TABLE IF EXISTS ${asgTbl(cat, ns, name)}")
      spark.sql(s"""CREATE TABLE ${centTbl(cat, ns, name)}
        (centroid_id STRING, emb STRING)""")
      spark.sql(s"""CREATE TABLE ${asgTbl(cat, ns, name)}
        (vec_id STRING, centroid_id STRING, batch STRING)
        PARTITIONED BY (${if (coLocate) "centroid_id, batch"
          else "batch"})""")
      val cents = Similarity.ivfCentroids(corpus, idCol, embCol, k)
      cents.select(col("centroid_id").cast("string"),
          encodeEmb(col("centroid_emb")).as("emb"))
        .writeTo(centTbl(cat, ns, name)).append()
      assignBatchUnlocked(spark, cat, ns, name, corpus, idCol, embCol,
        baseBatch)
    }
  }

  /** Persisted centroids, decoded back to `array<float>` — exact by the
    * float round-trip guarantee. */
  def centroids(spark: SparkSession, cat: String, ns: String,
                name: String): DataFrame =
    spark.table(centTbl(cat, ns, name))
      .select(col("centroid_id"),
        decodeEmb(col("emb")).as("centroid_emb"))

  /** Incremental maintenance: assign ONLY `vecs` against the persisted
    * centroids and write them as partition `batch` via dynamic-partition
    * overwrite — re-running a batch (the re-delivered ingest day) is
    * idempotent and can never touch other batches' partitions. The
    * existing assignment is neither read nor rewritten. */
  def assignBatch(spark: SparkSession, cat: String, ns: String,
                  name: String, vecs: DataFrame, idCol: String,
                  embCol: String, batch: String): Unit =
    IndexMaintenanceLock.withLock(spark, cat, ns, name) {
      assignBatchUnlocked(spark, cat, ns, name, vecs, idCol, embCol, batch)
    }

  /** [[assignBatch]] body without the maintenance lock — [[build]] and
    * [[retrain]] call it while already holding the lock. */
  private def assignBatchUnlocked(spark: SparkSession, cat: String,
                                  ns: String, name: String, vecs: DataFrame,
                                  idCol: String, embCol: String,
                                  batch: String): Unit = {
    // validated like NearDupIndex batch labels: retrain interpolates
    // labels read back from the table into DROP PARTITION statements
    NearDupIndex.requireSafeIdent("batch label", batch)
    val asg = Similarity.ivfAssign(vecs, idCol, embCol,
      centroids(spark, cat, ns, name))
      .select(col(idCol).cast("string").as("vec_id"),
        col("centroid_id").cast("string"), lit(batch).as("batch"))
    if (isCoLocated(spark, cat, ns, name))
      // two-level (centroid_id, batch) layout: ONE overwrite-by-filter
      // commit replaces the batch's leaf dirs under every centroid —
      // idempotent on re-delivery and convergent for revised content
      asg.writeTo(asgTbl(cat, ns, name))
        .overwrite(col("batch") === lit(batch))
    else
      asg.writeTo(asgTbl(cat, ns, name)).overwritePartitions()
  }

  /** True when the assignment table is the co-located flavor
    * (partitioned on centroid_id) — read off the catalog's partition
    * transform, so the layout decision never needs a side channel. */
  def isCoLocated(spark: SparkSession, cat: String, ns: String,
                  name: String): Boolean = {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val t = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array(ns), s"${name}_assign"))
    t.partitioning().exists(_.references().exists(
      _.fieldNames().sameElements(Array("centroid_id"))))
  }

  /** Metadata-only on the two-level co-located layout: the catalog
    * recognizes the partition-column predicate and drops every
    * centroid's `batch=<b>` leaf dir without reading a row. */
  private def dropBatchRows(spark: SparkSession, cat: String, ns: String,
                            name: String, batch: String): Unit =
    spark.sql(s"DELETE FROM ${asgTbl(cat, ns, name)} " +
      s"WHERE batch = '$batch'")

  /** The maintained assignment, straight off the catalog table. */
  def assignment(spark: SparkSession, cat: String, ns: String,
                 name: String): DataFrame =
    spark.table(asgTbl(cat, ns, name))

  /** Serves (topK / semanticDupPairs / driftReport) read the index
    * tables AS OF their last COMMITTED version: a reader racing a batch
    * overwrite (or retrain's centroid overwrite) sees a committed state
    * or fails loudly, never a torn double-counted one. See
    * [[IndexSnapshots]]. */
  private def assignmentForServe(spark: SparkSession, cat: String,
                                 ns: String, name: String): DataFrame =
    IndexSnapshots.pinned(spark, cat, ns, s"${name}_assign")

  private def centroidsForServe(spark: SparkSession, cat: String,
                                ns: String, name: String): DataFrame =
    IndexSnapshots.pinned(spark, cat, ns, s"${name}_centroids")
      .select(col("centroid_id"),
        decodeEmb(col("emb")).as("centroid_emb"))

  /** Occupancy drift per centroid over the PERSISTED assignment (no
    * embeddings touched): the share of non-base vectors in each bucket
    * vs the global non-base share; `drift_alert` fires when they differ
    * by more than `threshold` — new data is piling into buckets the
    * base training never shaped, the signal to [[build]] (re-train)
    * instead of appending further. */
  def driftReport(spark: SparkSession, cat: String, ns: String,
                  name: String, baseBatch: String = "base",
                  threshold: Double = 0.15): DataFrame = {
    val asg = assignmentForServe(spark, cat, ns, name)
      .withColumn("__new", (col("batch") =!= baseBatch).cast("int"))
    val per = asg.groupBy(col("centroid_id"))
      .agg(sum(lit(1) - col("__new")).cast("long").as("n_base"),
        sum(col("__new")).cast("long").as("n_new"))
    val tot = per.agg(sum(col("n_base")).as("__tb"),
      sum(col("n_new")).as("__tn"))
    per.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_base"), col("n_new"),
        (col("n_new").cast("double") /
          (col("n_base") + col("n_new")).cast("double")).as("new_share"),
        (col("__tn").cast("double") /
          (col("__tb") + col("__tn")).cast("double")).as("global_share"))
      .withColumn("drift_alert",
        abs(col("new_share") - col("global_share")) > threshold)
  }

  /** ANN top-k SERVED FROM THE PERSISTED INDEX: probe the `nprobe`
    * nearest persisted centroids per query, take candidates off the
    * maintained `<name>_assign` table (the corpus is never re-assigned —
    * that scan-and-window is exactly what the index amortizes away), and
    * score only the candidates after joining their embeddings back from
    * `vectors`. Identical results to the in-memory
    * [[Similarity.ivfTopK]] over the same corpus/centroids (the
    * float↔string centroid round-trip is exact and the assignment
    * tie-break is the persisted STRING centroid_id either way); ids
    * return as strings, the index's key type.
    *
    * At 100 TB: centroids broadcast (k rows); the assignment join
    * restricts scoring to ~|corpus| * nprobe / k candidate vectors; the
    * only full-table touch is the id-join back to `vectors` for the
    * candidates' embeddings — at scale that side is the bucketed/sorted
    * vector store, not a rescan of raw data. */
  def topK(spark: SparkSession, cat: String, ns: String, name: String,
           vectors: DataFrame, idCol: String, embCol: String,
           queryPredicate: Column, k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"k/nprobe must be >= 1, got $k/$nprobe")
    graft.GraftExtensions.register(spark)
    val cents = centroidsForServe(spark, cat, ns, name)
    val queries = vectors.filter(queryPredicate)
      .select(col(idCol).cast("string").as("q_id"),
        col(embCol).as("__q_emb"))
    val w = org.apache.spark.sql.expressions.Window
    // top-nprobe persisted centroids per query (broadcast, no shuffle of
    // anything corpus-sized)
    val qc = queries.crossJoin(broadcast(cents))
      .withColumn("__cos", call_function("vec_cosine",
        col("__q_emb"), col("centroid_emb")))
      .withColumn("__rn", row_number().over(w.partitionBy(col("q_id"))
        .orderBy(col("__cos").desc, col("centroid_id"))))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("__q_emb"), col("centroid_id"))
    // candidates off the maintained assignment table (snapshot-pinned)
    val cand = qc.join(
      assignmentForServe(spark, cat, ns, name)
        .select(col("vec_id").as("n_id"), col("centroid_id")),
      Seq("centroid_id"))
    val nvec = vectors.select(col(idCol).cast("string").as("n_id"),
      col(embCol).as("__n_emb"))
    cand.join(nvec, Seq("n_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", call_function("vec_cosine",
        col("__q_emb"), col("__n_emb")))
      .withColumn("rank", row_number().over(w.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rank"))
  }

  /** Conf key bounding the largest centroid bucket
    * [[semanticDupPairs]] will pair within — within-bucket pairing is
    * quadratic BY DESIGN (SemDeDup's bet: buckets are small because k
    * scales with the corpus), so a degenerate bucket (k too small, or
    * all vectors identical) must fail loudly instead of detonating into
    * an all-pairs join. */
  val MaxSemanticBucketKey = "spark.graft.ivf.maxSemanticBucket"
  val DefaultMaxSemanticBucket: Long = 100000L

  /** SemDeDup-style semantic near-duplicate candidates SERVED FROM THE
    * PERSISTED INDEX: vectors assigned to the same centroid (the IVF
    * bucketing as the blocking key — never all-pairs across buckets)
    * pair up, their exact cosine is computed only for those candidates
    * (embeddings joined back from `vectors` by id), and pairs at or
    * above `minCosine` survive. Ids canonicalize by the persisted
    * STRING order. Emits (a_id, b_id, centroid_id, cosine).
    *
    * At 100 TB: the assignment table is (id, centroid) — no embeddings;
    * the self-join shuffles on centroid_id; within-bucket pair counts
    * are Σ bucket² bounded by the [[MaxSemanticBucketKey]] guard; the
    * only embedding I/O is the candidates' id-join. A finer blocking
    * (same centroid AND nearby quantized norm) drops in as an extra
    * join key without changing the shape. */
  def semanticDupPairs(spark: SparkSession, cat: String, ns: String,
                       name: String, vectors: DataFrame, idCol: String,
                       embCol: String, minCosine: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    val cap = spark.conf.get(MaxSemanticBucketKey,
      DefaultMaxSemanticBucket.toString).toLong
    val asg = assignmentForServe(spark, cat, ns, name)
      .select(col("vec_id"), col("centroid_id"))
    // oversized-bucket guard over the SAME pinned frame the serve
    // reads (a live-table count racing a replay could describe a
    // different version than the pairs below). A per-version STORED
    // occupancy row was measured here and reverted: the IVF family's
    // maintenance:serve ratio makes one extra write job per
    // assign/retrain cost more than this one count saves — the
    // assignment table is (id, centroid, batch), orders of magnitude
    // narrower than the vectors, so the count is cheap at any scale.
    val oversized = asg.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > cap)
      .limit(1).collect()
    if (oversized.nonEmpty)
      throw new IllegalArgumentException(
        s"centroid bucket ${oversized.head.getString(0)} holds " +
          s"${oversized.head.getLong(1)} vectors (cap: conf " +
          s"$MaxSemanticBucketKey=$cap) — within-bucket pairing would " +
          "detonate; retrain with a larger k or raise the cap explicitly")
    val pairs = asg.as("x").join(asg.as("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        col("x.centroid_id").as("centroid_id"))
    val vecs = vectors.select(col(idCol).cast("string").as("__id"),
      col(embCol).as("__emb"))
    pairs
      .join(vecs.select(col("__id").as("a_id"), col("__emb").as("__ea")),
        Seq("a_id"))
      .join(vecs.select(col("__id").as("b_id"), col("__emb").as("__eb")),
        Seq("b_id"))
      .withColumn("cosine", call_function("vec_cosine",
        col("__ea"), col("__eb")))
      .filter(col("cosine") >= minCosine)
      .select(col("a_id"), col("b_id"), col("centroid_id"), col("cosine"))
  }

  /** True when any bucket's drift alert fires — the re-train trigger. */
  def needsRetrain(spark: SparkSession, cat: String, ns: String,
                   name: String, baseBatch: String = "base",
                   threshold: Double = 0.15): Boolean =
    driftReport(spark, cat, ns, name, baseBatch, threshold)
      .filter(col("drift_alert")).limit(1).count() > 0

  /** Re-train IN PLACE on `corpus` — the full-corpus pass the drift
    * alert amortizes: fresh centroids truncate-overwrite the centroid
    * table, the whole corpus re-assigns under `baseBatch` (one dynamic
    * partition overwrite), and the now-absorbed batch partitions DROP.
    * In-place (never DROP TABLE + CREATE) on purpose: both tables are
    * versioned catalog tables, so the pre-retrain index stays readable
    * via `VERSION AS OF` and a bad retrain is one `system.restore` away.
    * Each step is idempotent; a crash between them converges on re-run
    * (stale extra batches only ever ADD candidates — the index
    * over-serves, never misses, until the drops complete). */
  def retrain(spark: SparkSession, cat: String, ns: String, name: String,
              corpus: DataFrame, idCol: String, embCol: String, k: Int,
              baseBatch: String = "base"): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    NearDupIndex.requireSafeIdent("batch label", baseBatch)
    IndexMaintenanceLock.withLock(spark, cat, ns, name) {
      val priorBatches = assignment(spark, cat, ns, name)
        .select(col("batch")).distinct()
        .collect().map(_.getString(0)).toSeq
      val cents = Similarity.ivfCentroids(corpus, idCol, embCol, k)
      cents.select(col("centroid_id").cast("string"),
          encodeEmb(col("centroid_emb")).as("emb"))
        .writeTo(centTbl(cat, ns, name)).overwrite(lit(true))
      assignBatchUnlocked(spark, cat, ns, name, corpus, idCol, embCol,
        baseBatch)
      val coLocated = isCoLocated(spark, cat, ns, name)
      priorBatches.filterNot(_ == baseBatch).foreach { b =>
        NearDupIndex.requireSafeIdent("batch label", b)
        if (coLocated) dropBatchRows(spark, cat, ns, name, b)
        else spark.sql(s"ALTER TABLE ${asgTbl(cat, ns, name)} " +
          s"DROP PARTITION (batch='$b')")
      }
    }
  }

  /** Close the drift loop: [[retrain]] when [[needsRetrain]], no-op
    * otherwise. Returns whether a retrain ran — the caller's signal to
    * log/alert. The no-op path touches NOTHING (no writes, no version
    * bump): the drift probe reads only the assignment table. */
  def retrainIfNeeded(spark: SparkSession, cat: String, ns: String,
                      name: String, corpus: DataFrame, idCol: String,
                      embCol: String, k: Int, baseBatch: String = "base",
                      threshold: Double = 0.15): Boolean =
    if (!needsRetrain(spark, cat, ns, name, baseBatch, threshold)) false
    else {
      retrain(spark, cat, ns, name, corpus, idCol, embCol, k, baseBatch)
      true
    }
}
