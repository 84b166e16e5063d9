package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** End-to-end training-corpus preparation — the LLM-side analogue of
  * `graft.superstore.Pipeline`: one call takes a raw document table to a
  * training-ready corpus, in the order the stages are actually run at
  * scale, with a per-stage survival report.
  *
  * Stage order matters and is fixed:
  *  1. normalize      — Unicode/case/whitespace canonical form FIRST, so
  *                      every later hash sees canonical bytes
  *  2. length gate    — token-count bounds (too-short docs carry no
  *                      signal; too-long are likely concatenation junk)
  *  3. quality gate   — stopword-ratio floor (the cheap Gopher-style
  *                      fluency proxy)
  *  4. exact dedup    — md5 groups, keep min id; ALWAYS before near-dup
  *                      (k identical docs make k²/2 near-dup pairs under
  *                      any banding — the round-2 probe's q72 lesson)
  *  5. near-dup       — SimHash Hamming bands → connected components →
  *                      keep longest per cluster
  *  6. decontaminate  — n-gram overlap vs the eval set, drop contaminated
  *
  * Emits the surviving docs (original columns + `text` normalized) and a
  * stage report (stage, n_in, n_out, n_dropped) — the numbers a corpus
  * owner actually reviews before a training run.
  *
  * Scale posture is inherited from the stages: scalar work fuses into the
  * scans, dedup is one window on the content hash, near-dup is banded
  * (never all-pairs), decontamination broadcasts the eval shingle set.
  * The report costs one `count()` per stage boundary (six actions over
  * cached intermediates at verification scale; at production scale,
  * compute counts from the persisted stage outputs instead).
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Long = 5L,
      maxTokens: Long = 100000L,
      minStopwordRatio: Double = 0.0,
      nearDupHamming: Int = 3,
      simHashBits: Int = 64,
      simHashBands: Int = 4,
      decontaminateShingleN: Int = 3,
      maxEvalOverlapRatio: Double = 0.5,
      // per-(band, value) posting cap for the near-dup banded self-join
      // — the same degenerate-bucket guard as the LSH tier's
      // maxBandBucket, DEFAULT-ON: a near-dup clique that survives
      // exact dedup (boilerplate with per-mirror tweaks) otherwise
      // detonates the candidate join quadratically (PLANS.md
      // records the growth law). 0 = off for verification-scale exact passes.
      nearDupMaxBucket: Int = 10000)

  /** `report` is LAZY: the per-stage counts (seven actions over the cached
    * stage outputs) run only when it is first read — a caller that wants
    * just the corpus doesn't pay for the report. */
  final case class Result(corpus: DataFrame, private val reportFn: () => DataFrame) {
    lazy val report: DataFrame = reportFn()
  }

  def run(spark: SparkSession, docs: DataFrame, idCol: String,
          textCol: String, evalDocs: DataFrame,
          cfg: Config = Config()): Result = {
    graft.GraftExtensions.register(spark)

    val normalized = docs.withColumn(textCol,
      Cleaning.normalizeText(col(textCol)))

    val toks: Column = TextFunctions.tokens(col(textCol))
    val lengthGated = normalized
      .withColumn("__ntok", size(toks).cast("long"))
      .filter(col("__ntok").between(cfg.minTokens, cfg.maxTokens))
      .drop("__ntok")

    val qualityGated =
      if (cfg.minStopwordRatio <= 0.0) lengthGated
      else lengthGated.filter(
        coalesce(TextFunctions.stopwordRatio(toks), lit(0.0))
          >= cfg.minStopwordRatio)

    // exact dedup: min id per md5 group (one window on the hash)
    val exactDeduped = Dedup.keepFirst(
      qualityGated.withColumn("__h", md5(col(textCol))),
      keys = Seq("__h"), ordering = Seq(col(idCol))).drop("__h")

    // signatures are computed ONCE and cached as a tiny (doc_id,
    // simhash) frame: the banded candidate join consumes them up to
    // four times (hot-bucket count, anti-join probe, both self-join
    // sides) and the SimHash token pass over the full text is the
    // expensive part — recomputing it per consumer quadrupled the
    // stage's cost when the cap landed (measured at sf0.1)
    val sigs = NearDup.simHash(exactDeduped, idCol, textCol,
      cfg.simHashBits)
    val nearDeduped = Corpus.resolveDuplicates(
      exactDeduped, idCol,
      Corpus.bandedHammingPairs(sigs, "doc_id", "simhash",
        maxHamming = cfg.nearDupHamming, bits = cfg.simHashBits,
        numBands = cfg.simHashBands, maxBucket = cfg.nearDupMaxBucket),
      "a_id", "b_id", prefer = Some(length(col(textCol))))
      .drop("cluster_id", "cluster_size")

    val contaminatedIds = Corpus.decontaminate(nearDeduped, evalDocs,
        idCol, textCol, cfg.decontaminateShingleN, cfg.maxEvalOverlapRatio)
      .filter(col("contaminated"))
      .select(col("doc_id").as("__contaminated_id"))
    val clean = nearDeduped.join(contaminatedIds,
      col(idCol) === col("__contaminated_id"), "left_anti")

    val stages = Seq(
      "normalize" -> normalized, "length_gate" -> lengthGated,
      "quality_gate" -> qualityGated, "exact_dedup" -> exactDeduped,
      "near_dedup" -> nearDeduped, "decontaminate" -> clean)
    // cache ONLY the genuinely multi-consumer frames in the corpus path:
    // exactDeduped feeds both the fingerprint pass and the duplicate
    // resolution; nearDeduped feeds both the decontamination scan and the
    // final anti-join. The early stages are single-consumer unless the
    // report is read — caching all six pinned four corpus-sized copies of
    // normalized text for the session lifetime even for corpus-only calls
    val hot = Seq(exactDeduped, nearDeduped)
    hot.foreach(_.cache())
    sigs.cache() // 2 narrow columns, multi-consumer (see above)
    // count each boundary once, deferred until the report is read; the
    // single-consumer stages are cached only AROUND the count pass (each
    // is counted twice: as its own n_out and as the next stage's n_in)
    // and released immediately after
    def report(): DataFrame = {
      val transient = stages.map(_._2).filterNot(s => hot.exists(_ eq s))
      transient.foreach(_.cache())
      try {
        // ONE action for all seven boundary counts (docs + 6 stages):
        // thirteen sequential count() jobs paid a driver round-trip
        // each; a union of 1-row aggregates over the cached stage
        // outputs computes them in a single job. NOTE on "materializes
        // exactly once": the union branches are independent DAG stages
        // with no scheduler dependency on each other's cache population,
        // so the guarantee holds in LOCAL mode (one block manager
        // serializes per-partition compute-or-read); on a multi-executor
        // deployment concurrent branches can recompute an upstream
        // stage's partitions before its blocks land. Results stay
        // correct either way — distributed callers wanting the strict
        // one-pass cost should count the LAST stage first (a cheap
        // foreach/noop on clean) before reading the report.
        val counts = (docs +: stages.map(_._2)).zipWithIndex
          .map { case (df, i) =>
            df.agg(count(lit(1)).as("n")).select(lit(i).as("i"), col("n")) }
          .reduce(_ unionAll _)
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val nIn = (0 until stages.size).map(counts)
        val nOut = (1 to stages.size).map(counts)
        spark.createDataFrame(
          stages.map(_._1).zip(nIn).zip(nOut).zipWithIndex.map {
            case (((name, in), out), i) => (i + 1, name, in, out, in - out)
          }).toDF("stage", "stage_name", "n_in", "n_out", "n_dropped")
      } finally transient.foreach(_.unpersist(false))
    }
    Result(clean, report _)
  }
}
