package graft

import org.apache.spark.sql.functions._

import graft.Queries.QueryDef

/** Round-17 wave A: the dashboard's CHART-SERIES marts — the last
  * reference surface (`Superstore_Dashboard.xlsx!xl/charts/chart1-4.xml`,
  * SURVEY §3.3(e)): 2 bar charts and a 3-D pie over the By_Category
  * pivot range and a line chart over the Year/Month range, all carrying
  * the workbook's three measures ("Count of Sales", "Count of Profit;",
  * "Sum of Quantity"). One oracle-gated query per DISTINCT series shape
  * (chart1/chart2 differ only in bar direction — presentation, same
  * series; chart4 renders the first series as slice angles). The
  * golden-CSV twin — the marts on the real workbook data reproducing the
  * chart XML's cached values byte-for-byte — lives in
  * SuperstorePipelineSpec.
  *
  * The queries run [[graft.superstore.Marts]]'s REAL chart functions
  * over an sfDir-shaped staging frame (lineitem mapped onto the staging
  * contract), so the oracle hash gates the production mart code, not a
  * reimplementation. */
object R17Queries {

  /** lineitem mapped onto the staging-frame contract the marts consume:
    * (category, region, segment, order_date, sales, profit, quantity).
    * quantity casts to long so SUM is exact-integer cross-engine. */
  private def stgShaped(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d).select(
      col("l_returnflag").as("category"),
      col("l_linestatus").as("region"),
      // synthetic lineitem carries no ship-mode column; a deterministic
      // low-cardinality derivation stands in for the segment slicer
      concat(lit("SEG_"), (col("l_suppkey") % 3).cast("string"))
        .as("segment"),
      col("l_shipdate").cast("date").as("order_date"),
      col("l_extendedprice").as("sales"),
      col("l_discount").as("profit"),
      col("l_quantity").cast("long").as("quantity"))

  /** chart1/chart2 series shape (A7 leaf rows, no grand total, category
    * ascending): the three workbook measures per category. */
  private val q362 = QueryDef(
    "q362_chart_category_bar",
    (s, d) => graft.superstore.Marts.chartCategoryBar(stgShaped(s, d)),
    Some("""
      SELECT l_returnflag AS category,
             COUNT(l_extendedprice) AS count_sales,
             COUNT(l_discount) AS count_profit,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_quantity
      FROM lineitem
      GROUP BY l_returnflag"""))

  /** chart3 series shape (month grain over the date axis), with the A9
    * segment slicer applied — the cross-filter reaches the chart mart
    * exactly as it reaches the pivots. */
  private val q363 = QueryDef(
    "q363_chart_yearmonth_line",
    (s, d) => graft.superstore.Marts.chartYearMonthLine(stgShaped(s, d),
      segments = Some(Seq("SEG_0", "SEG_2"))),
    Some("""
      SELECT CAST(year(l_shipdate) AS INT) AS order_year,
             CAST(month(l_shipdate) AS INT) AS order_month,
             COUNT(l_extendedprice) AS count_sales,
             COUNT(l_discount) AS count_profit,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_quantity
      FROM lineitem
      WHERE 'SEG_' || CAST(l_suppkey % 3 AS VARCHAR) IN ('SEG_0', 'SEG_2')
      GROUP BY 1, 2"""))

  /** chart4 (3-D pie): the first series as slice values plus the slice
    * angle (share of total — exact-integer counts divided in double,
    * IEEE-identical across engines). */
  private val q364 = QueryDef(
    "q364_chart_category_pie",
    (s, d) => graft.superstore.Marts.chartCategoryPie(stgShaped(s, d)),
    Some("""
      WITH c AS (SELECT l_returnflag AS category,
                        COUNT(l_extendedprice) AS count_sales
                 FROM lineitem GROUP BY 1)
      SELECT category, count_sales,
             CAST(count_sales AS DOUBLE) /
               CAST(SUM(count_sales) OVER () AS DOUBLE) AS share
      FROM c"""))

  private def ensureCatalog(s: org.apache.spark.sql.SparkSession): Unit =
    if (!s.conf.getOption("spark.sql.catalog.graft_r17").isDefined) {
      s.conf.set("spark.sql.catalog.graft_r17",
        classOf[graft.sources.QuirkCsvCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_r17.root",
        java.nio.file.Files.createTempDirectory("graft_r17_cat").toString)
    }

  /** The IVF drift loop CLOSED: build on a partial corpus, append the
    * rest as a batch, and let [[graft.operators.IvfIndex.retrainIfNeeded]]
    * act on the drift report — a forced-sensitive threshold makes the
    * retrain run, in place (truncate-overwrite + one dynamic partition
    * overwrite + partition drops), with the pre-retrain index still
    * time-travelable. The REQUIREs pin the trigger firing, the no-op
    * path not firing, the version history surviving, and the judge's
    * equality: post-retrain index-SERVED top-k == in-memory ivfTopK over
    * the drifted (full) corpus. The oracle replays the retrained index:
    * centroids seed-drawn from the FULL corpus, everything assigned,
    * then IVF top-k. */
  private val q365 = QueryDef(
    "q365_ivf_retrain",
    (s, d) => {
      ensureCatalog(s)
      val e = Tables.embeddings(s, d)
      val isNew = (col("vec_id") % 10) >= 8
      graft.operators.IvfIndex.build(s, "graft_r17", "q365", "ann",
        e.filter(!isNew), "vec_id", "embedding", 8)
      graft.operators.IvfIndex.assignBatch(s, "graft_r17", "q365", "ann",
        e.filter(isNew), "vec_id", "embedding", "b1")
      // no-drift no-op: an impossible threshold (shares differ by <= 1)
      // must touch nothing — not even a version bump
      val root = s.conf.get("spark.sql.catalog.graft_r17.root")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(graft.sources.hadoopConf)
      def versions = (
        graft.sources.QuirkCsvVersions.currentVersion(fs,
          new org.apache.hadoop.fs.Path(s"$root/q365/ann_centroids")),
        graft.sources.QuirkCsvVersions.currentVersion(fs,
          new org.apache.hadoop.fs.Path(s"$root/q365/ann_assign")))
      val v0 = versions
      require(!graft.operators.IvfIndex.retrainIfNeeded(s, "graft_r17",
        ns = "q365", name = "ann", corpus = e, idCol = "vec_id",
        embCol = "embedding", k = 8, threshold = 1.0),
        "an impossible drift threshold must be a no-op")
      require(versions == v0, "the no-op path must not write any version")
      // forced-sensitive threshold: any bucket occupancy nonuniformity
      // fires — the trigger must run the in-place retrain
      require(graft.operators.IvfIndex.retrainIfNeeded(s, "graft_r17",
        ns = "q365", name = "ann", corpus = e, idCol = "vec_id",
        embCol = "embedding", k = 8, threshold = 1e-9),
        "a forced-sensitive drift threshold must trigger the retrain")
      val vAfter = versions
      require(vAfter._1 > v0._1 && vAfter._2 > v0._2,
        "retrain must land as NEW versions of both index tables " +
          "(in-place history, never drop+recreate)")
      // the absorbed batch partition is gone; everything is base now
      require(graft.operators.IvfIndex.assignment(s, "graft_r17", "q365",
        "ann").filter(col("batch") =!= "base").count() == 0,
        "retrain must absorb prior batches into the new base")
      val served = graft.operators.IvfIndex.topK(s, "graft_r17", "q365",
        "ann", e, "vec_id", "embedding", col("vec_id") < 10,
        k = 3, nprobe = 2).localCheckpoint()
      // judge's equality: index-served == in-memory over the drifted
      // corpus with the retrained centroids (string ids either side —
      // one tie-break key type, the q351 lesson)
      val es = e.select(col("vec_id").cast("string").as("vec_id"),
        col("embedding"))
      // twin checkpointed: BOTH exceptAll directions consume it — without
      // the snapshot the in-memory search recomputes once per direction
      val inMem = graft.operators.Similarity.ivfTopK(
          es, "vec_id", "embedding", col("vec_id").cast("long") < 10,
          graft.operators.IvfIndex.centroids(s, "graft_r17", "q365", "ann"),
          k = 3, nprobe = 2)
        .select(col("q_id"), col("n_id"), col("cosine"), col("rank"))
        .localCheckpoint()
      require(served.exceptAll(inMem).isEmpty &&
        inMem.exceptAll(served).isEmpty,
        "post-retrain index-served top-k must equal the in-memory " +
          "ivfTopK over the drifted corpus")
      served
    },
    Some(s"""
      WITH cent AS MATERIALIZED (SELECT CAST(vec_id AS VARCHAR) AS centroid_id,
                           embedding AS cemb
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      asg AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ${ExtQueries.oCos("e.embedding", "c.cemb")} DESC,
                  c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
      q AS (SELECT CAST(vec_id AS VARCHAR) AS q_id, embedding AS qemb
            FROM embeddings WHERE vec_id < 10),
      qc AS MATERIALIZED (SELECT q_id, qemb, centroid_id FROM (
             SELECT q.q_id, q.qemb, c.centroid_id,
                    ROW_NUMBER() OVER (PARTITION BY q.q_id
                      ORDER BY ${ExtQueries.oCos("q.qemb", "c.cemb")} DESC,
                               c.centroid_id) AS rn
             FROM q CROSS JOIN cent c) WHERE rn <= 2),
      cand AS (SELECT qc.q_id, qc.qemb,
                      CAST(e.vec_id AS VARCHAR) AS n_id,
                      e.embedding AS nemb
               FROM qc
               JOIN asg a ON a.centroid_id = qc.centroid_id
               JOIN embeddings e ON e.vec_id = a.vec_id
               WHERE qc.q_id <> CAST(e.vec_id AS VARCHAR)),
      sc AS MATERIALIZED (SELECT q_id, n_id,
                    ${ExtQueries.oCos("qemb", "nemb")} AS cosine FROM cand),
      rk AS (SELECT q_id, n_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, n_id) AS INT) AS rank FROM sc)
      SELECT q_id, n_id, cosine, rank FROM rk WHERE rank <= 3"""))

  /** Bloom sidecars × clusterBy range layout COMPOSED on one table:
    * q354 proves range pruning and q358 proves bloom skipping
    * separately; here a single table carries BOTH (`clusterBy` on the
    * zero-padded key, blooms on an UNCORRELATED unique column), is
    * compacted into disjoint range files, and a probe with both
    * predicates plans the INTERSECTION of the two survivor sets — one
    * file — while each predicate alone survives more. Multiplied
    * pruning is the 100-TB point: range stats cut the clustered
    * dimension, blooms cut the unclustered one, and they stack. */
  private val q366 = QueryDef(
    "q366_bloom_x_cluster",
    (s, d) => {
      ensureCatalog(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_r17.q366")
      s.sql("DROP TABLE IF EXISTS graft_r17.q366.t")
      // bloom sized FROM the data (~16 bits/distinct/file over 4 files)
      val n = Tables.orders(s, d).count()
      val bloomBits = math.min(1L << 24,
        java.lang.Long.highestOneBit(math.max(8192L, n / 4 * 16) * 2 - 1))
      s.sql("CREATE TABLE graft_r17.q366.t (okey STRING, ckey STRING, " +
        "prio STRING) TBLPROPERTIES ('clusterBy'='okey', " +
        s"'bloomCols'='ckey', 'bloomBits'='$bloomBits')")
      val src = Tables.orders(s, d).select(
        lpad(col("o_orderkey").cast("string"), 8, "0").as("okey"),
        // unique per row, UNCORRELATED with the okey string order
        // (md5 scrambles), so bloom survivors cut across range files
        md5(col("o_orderkey").cast("string")).as("ckey"),
        col("o_orderpriority").as("prio"))
      src.writeTo("graft_r17.q366.t").append()
      val root = s.conf.get("spark.sql.catalog.graft_r17.root")
      graft.operators.Scale.compactCsvClustered(s, s"$root/q366/t",
        numFiles = 4, sortBy = None)
      // deterministic probes off sorted position: range = [40th, 60th]
      // percentile keys (spans the 2nd/3rd range files), point = the
      // median row's ckey (inside the range, in exactly one file)
      def kth(i: Long) = src.select(col("okey")).orderBy(col("okey"))
        .limit(i.toInt).agg(max(col("okey"))).collect()(0).getString(0)
      val lo = kth(math.max(1L, n * 2 / 5))
      val hi = kth(math.max(1L, n * 3 / 5))
      val mid = kth(math.max(1L, n / 2))
      val probeC = src.filter(col("okey") === mid)
        .select(col("ckey")).collect()(0).getString(0)
      // compaction folded the header-only seed into the 4 range files,
      // so every planned split IS a data file (no +1 seed split here)
      def data(df: org.apache.spark.sql.DataFrame) =
        df.rdd.getNumPartitions
      val all = s.read.format("graftcsv").load(s"$root/q366/t")
      val byRange = all.filter(col("okey") >= lo && col("okey") <= hi)
      val byBloom = all.filter(col("ckey") === probeC)
      val both = all.filter(col("okey") >= lo && col("okey") <= hi &&
        col("ckey") === probeC)
      val (nR, nB, nBoth) = (data(byRange), data(byBloom), data(both))
      require(nR >= 1 && nR <= 3,
        s"range [40%,60%] must prune at least one of 4 files, got $nR")
      require(nB == 1,
        s"the bloom point probe must prune to one file, got $nB")
      require(nBoth == 1 && nBoth <= math.min(nR, nB),
        s"composed predicates must plan the survivor INTERSECTION, " +
          s"got $nBoth (range $nR, bloom $nB)")
      require(both.count() == 1, "the probe row must survive composition")
      // emit the range slice (real data volume for the oracle hash);
      // the REQUIREs above pin the pruning mechanics
      byRange.localCheckpoint()
    },
    Some("""
      WITH src AS (SELECT lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS okey,
                          md5(CAST(o_orderkey AS VARCHAR)) AS ckey,
                          o_orderpriority AS prio
                   FROM orders),
      n AS (SELECT COUNT(*) AS cnt FROM src),
      b AS (SELECT
        (SELECT okey FROM src ORDER BY okey
          LIMIT 1 OFFSET (SELECT GREATEST(cnt * 2 // 5, 1) - 1 FROM n)) AS lo,
        (SELECT okey FROM src ORDER BY okey
          LIMIT 1 OFFSET (SELECT GREATEST(cnt * 3 // 5, 1) - 1 FROM n)) AS hi)
      SELECT okey, ckey, prio FROM src, b
      WHERE okey >= lo AND okey <= hi"""))

  /** The reference's covering-index-by-date story (`IX_Fact_Date`,
    * SQLproject1.sql:723-724) at lakehouse scale: a YEAR-partitioned,
    * date-range-CLUSTERED catalog fact, probed by a dashboard's
    * two-month date-range slicer. The scan stacks all three pruning
    * tiers — partition pruning drops the other years' directories, the
    * range-clustered fold's zone stats drop the non-covering files
    * inside the year (range predicates now push down), and the row
    * filter handles the rest. The natural-layout twin (same data, same
    * partitioning, hash fold) must read every file of the year — the
    * REQUIRE that proves the clustering, not the partitioning, is what
    * cuts the intra-year I/O. */
  private val q367 = QueryDef(
    "q367_date_range_slicer",
    (s, d) => {
      ensureCatalog(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_r17.q367")
      val src = Tables.orders(s, d).select(
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_orderkey").cast("string").as("okey"),
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("total"),
        year(col("o_orderdate")).cast("string").as("oyear"),
        (col("o_orderkey") % 3).as("third"))
      val root = s.conf.get("spark.sql.catalog.graft_r17.root")
      FixtureOnce("q367", d) {
        Seq("clu" -> " TBLPROPERTIES ('clusterBy'='odate')", "nat" -> "")
          .foreach { case (t, props) =>
            s.sql(s"DROP TABLE IF EXISTS graft_r17.q367.$t")
            s.sql(s"CREATE TABLE graft_r17.q367.$t (odate STRING, " +
              s"okey STRING, total STRING, oyear STRING) " +
              s"PARTITIONED BY (oyear)$props")
            (0 to 2).foreach { m =>
              src.filter(col("third") === m).drop("third")
                .writeTo(s"graft_r17.q367.$t").append()
            }
          }
        Seq("clu", "nat").foreach { t =>
          val vds = new java.io.File(s"$root/q367/$t").listFiles()
            .filter(f => f.isDirectory && !f.getName.startsWith("_"))
            .map(_.toString).sorted.toSeq
          graft.sources.QuirkCsvMaintenance.compactValueDirs(s, vds,
            numFiles = 3, sortBy = None)
        }
      }
      val y = Tables.orders(s, d)
        .agg(min(year(col("o_orderdate")))).collect()(0).getInt(0) + 1
      val (lo, hi) = (s"$y-03-01", s"$y-04-30")
      // split counting probes the YEAR DIRECTORY directly (per-file
      // splits) — the partitioned read reports key-grouped (SPJ)
      // partitioning, one partition per surviving value group, which
      // hides the intra-dir file pruning this REQUIRE is about
      def dirProbe(t: String) = s.read.format("graftcsv")
        .load(s"$root/q367/$t/oyear=$y")
        .filter(col("odate") >= lo && col("odate") <= hi)
        .select(col("odate"), col("okey"), col("total"))
      val (nClu, nNat) = (dirProbe("clu").rdd.getNumPartitions,
        dirProbe("nat").rdd.getNumPartitions)
      require(nNat == 3,
        s"the hash-folded twin must read all 3 files of the year, got $nNat")
      require(nClu >= 1 && nClu <= 2 && nClu < nNat,
        s"the date-clustered fold must prune the 2-month slicer to the " +
          s"covering file(s) inside the year, got $nClu of 3")
      // the partitioned CATALOG read (partition pruning + the same zone
      // pruning) returns the identical slicer rows on both layouts
      def probe(t: String) = s.read.format("graftcsv")
        .option("partitionCol", "oyear").load(s"$root/q367/$t")
        .filter(col("oyear") === y.toString &&
          col("odate") >= lo && col("odate") <= hi)
        .drop("oyear")
      val clu = probe("clu")
      val nat = probe("nat")
      require(clu.exceptAll(nat).isEmpty && nat.exceptAll(clu).isEmpty,
        "both layouts must return identical slicer rows")
      require(clu.exceptAll(dirProbe("clu")).isEmpty,
        "partition-pruned and direct-dir reads must agree")
      clu.select(col("okey"), col("odate"),
        col("total").cast("double").as("total"))
        .localCheckpoint()
    },
    Some("""
      WITH b AS (SELECT CAST(min(year(o_orderdate)) + 1 AS INT) AS y
                 FROM orders)
      SELECT CAST(o_orderkey AS VARCHAR) AS okey,
             strftime(o_orderdate, '%Y-%m-%d') AS odate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
      FROM orders, b
      WHERE strftime(o_orderdate, '%Y-%m-%d') >=
              CAST(y AS VARCHAR) || '-03-01'
        AND strftime(o_orderdate, '%Y-%m-%d') <=
              CAST(y AS VARCHAR) || '-04-30'"""))

  /** STREAMING maintenance of the persisted near-dup index, through the
    * oracle gate: the base corpus is banded at build, the rest of the
    * documents ARRIVE as a file drop that
    * [[graft.streaming.IndexMaintenance.nearDupIndexStream]] lands as an
    * epoch-labeled batch partition, and the maintained index then serves
    * the full candidate pairing — hash-equal to the one-shot in-memory
    * LSH over the union corpus (REQUIREd both directions, and replayed
    * relationally by the oracle). The multi-epoch and replay cases live
    * in IndexMaintenanceSpec; this query pins the arrival-driven shape
    * end to end. */
  private val q368 = QueryDef(
    "q368_stream_neardup_index",
    (s, d) => {
      ensureCatalog(s)
      val docs = Tables.documents(s, d)
      val isNew = col("doc_id") % 10 >= 8
      FixtureOnce("q368", d) {
        graft.operators.NearDupIndex.build(s, "graft_r17", "q368", "nd",
          docs.filter(!isNew), "doc_id", "text",
          shingleN = 3, numHashes = 12, bandSize = 3)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_q368").toString
        docs.filter(isNew).select(col("doc_id"), col("text"))
          .write.mode("append").parquet(s"$dir/in")
        graft.streaming.IndexMaintenance.nearDupIndexStream(s, s"$dir/in",
          docs.select(col("doc_id"), col("text")).schema, s"$dir/ckpt",
          "graft_r17", "q368", "nd", "doc_id", "text")
      }
      val got = graft.operators.NearDupIndex.allCandidatePairs(
        s, "graft_r17", "q368", "nd").localCheckpoint()
      val docsStr = docs.select(col("doc_id").cast("string").as("doc_id"),
        col("text"))
      // twin checkpointed: BOTH exceptAll directions consume it — without
      // the snapshot the full banding recomputes once per direction
      val twin = graft.operators.NearDup.minHashLshCandidates(docsStr,
        "doc_id", "text", shingleN = 3, numHashes = 12, bandSize = 3)
        .localCheckpoint()
      require(got.exceptAll(twin).isEmpty && twin.exceptAll(got).isEmpty,
        "the stream-maintained index must serve the same candidate " +
          "pairing as the one-shot in-memory LSH over the union corpus")
      got
    },
    Some {
      val nh = 12; val bs = 3
      val sigCols = (0 until nh).map(i =>
        s"list_aggregate(list_transform(sh, x -> md5('$i|' || x)), " +
          s"'min') AS sig_$i")
        .mkString(",\n             ")
      val bandSelects = (0 until nh / bs).map { b =>
        val sigs = (0 until bs).map(k => s"sig_${b * bs + k}")
          .mkString(", ")
        s"SELECT doc_id, $b AS band_id, md5(concat_ws(',', $sigs)) AS " +
          s"band_key FROM sigs"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH t AS (SELECT doc_id, ${ExtQueries.oToks("text")} AS w
                 FROM documents),
      ws AS (SELECT doc_id, list_distinct(${ExtQueries.oShingles("w", 3)})
                 AS sh
             FROM t WHERE len(w) >= 3),
      sigs AS MATERIALIZED (SELECT doc_id,
             $sigCols
      FROM ws),
      bands0 AS MATERIALIZED (
        $bandSelects),
      bands AS MATERIALIZED (
        -- the hot-band cap pinned at build() (session default
        -- ${graft.operators.NearDup.DefaultMaxBandBucket}), modeled as
        -- the serve applies it: counted over the whole band table
        SELECT doc_id, band_id, band_key FROM bands0
        QUALIFY count(*) OVER (PARTITION BY band_id, band_key)
          <= ${graft.operators.NearDup.DefaultMaxBandBucket})
      SELECT DISTINCT
        LEAST(CAST(x.doc_id AS VARCHAR), CAST(y.doc_id AS VARCHAR)) AS a_id,
        GREATEST(CAST(x.doc_id AS VARCHAR), CAST(y.doc_id AS VARCHAR))
          AS b_id
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id"""
    })

  /** SemDeDup-style semantic near-dup SERVED FROM THE PERSISTED IVF
    * INDEX: the index's centroid assignment is the blocking key — pairs
    * form only within a bucket (never all-pairs across the corpus),
    * exact cosine is computed only for those candidates, and pairs at or
    * above the threshold survive. The oracle replays the whole chain
    * relationally: seed-drawn centroids, nearest-centroid assignment,
    * within-bucket pairing, exact cosine gate. The oversized-bucket
    * fail-fast (the repo's cap discipline: quadratic blow-ups are
    * opt-in, never silent) is REQUIREd. */
  private val q369 = QueryDef(
    "q369_semantic_dedup_ivf",
    (s, d) => {
      ensureCatalog(s)
      val e = Tables.embeddings(s, d)
      graft.operators.IvfIndex.build(s, "graft_r17", "q369", "sem",
        e, "vec_id", "embedding", 16)
      // cap discipline: a cap below the largest bucket must fail loudly
      val prior = s.conf.getOption(
        graft.operators.IvfIndex.MaxSemanticBucketKey)
      s.conf.set(graft.operators.IvfIndex.MaxSemanticBucketKey, "1")
      val failed = try {
        graft.operators.IvfIndex.semanticDupPairs(s, "graft_r17", "q369",
          "sem", e, "vec_id", "embedding", 0.0).count()
        false
      } catch { case _: IllegalArgumentException => true }
      prior.fold(s.conf.unset(
        graft.operators.IvfIndex.MaxSemanticBucketKey))(
        s.conf.set(graft.operators.IvfIndex.MaxSemanticBucketKey, _))
      require(failed,
        "an over-cap centroid bucket must fail fast, not pair quadratically")
      graft.operators.IvfIndex.semanticDupPairs(s, "graft_r17", "q369",
        "sem", e, "vec_id", "embedding", 0.0)
    },
    Some(s"""
      WITH cent AS MATERIALIZED (SELECT CAST(vec_id AS VARCHAR) AS centroid_id,
                           embedding AS cemb
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      asg AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ${ExtQueries.oCos("e.embedding", "c.cemb")} DESC,
                  c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
      pairs AS (SELECT CAST(x.vec_id AS VARCHAR) AS a_id,
                       CAST(y.vec_id AS VARCHAR) AS b_id,
                       x.centroid_id
                FROM asg x JOIN asg y
                  ON x.centroid_id = y.centroid_id
                 AND CAST(x.vec_id AS VARCHAR) < CAST(y.vec_id AS VARCHAR)),
      sc AS (SELECT p.a_id, p.b_id, p.centroid_id,
                    ${ExtQueries.oCos("ea.embedding", "eb.embedding")}
                      AS cosine
             FROM pairs p
             JOIN embeddings ea ON CAST(ea.vec_id AS VARCHAR) = p.a_id
             JOIN embeddings eb ON CAST(eb.vec_id AS VARCHAR) = p.b_id)
      SELECT a_id, b_id, centroid_id, cosine FROM sc WHERE cosine >= 0.0"""))

  /** Atomic CTAS/RTAS through the staging catalog (S4/S7's DDL tier
    * completed): the table and the query output land together in a
    * hidden staging dir, one rename commits — a crash leaves either no
    * table or the whole table, and a failed REPLACE leaves the prior
    * table byte-untouched (the non-staged fallback drops it first). The
    * REQUIREs pin the failure paths; the oracle hashes the RTAS result
    * read back through the catalog. */
  private val q370 = QueryDef(
    "q370_ctas_rtas",
    (s, d) => {
      ensureCatalog(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_r17.q370")
      s.sql("DROP TABLE IF EXISTS graft_r17.q370.t")
      Tables.orders(s, d).select(
          col("o_orderkey").cast("string").as("okey"),
          col("o_orderpriority").as("prio"))
        .createOrReplaceTempView("q370_src")
      s.sql("""CREATE TABLE graft_r17.q370.t AS
        SELECT okey, prio FROM q370_src WHERE okey LIKE '%7'""")
      val created = s.table("graft_r17.q370.t").count()
      // failing replacement: the prior table must survive byte-complete
      val failed = try {
        s.sql("""REPLACE TABLE graft_r17.q370.t AS
          SELECT raise_error('boom') AS okey FROM range(1)""")
        false
      } catch { case _: Exception => true }
      require(failed, "a failing RTAS query must throw")
      require(s.table("graft_r17.q370.t").count() == created,
        "a failed RTAS must leave the prior table untouched")
      s.sql("""REPLACE TABLE graft_r17.q370.t AS
        SELECT okey, prio FROM q370_src WHERE okey LIKE '%3'""")
      val root = s.conf.get("spark.sql.catalog.graft_r17.root")
      val residue = new java.io.File(s"$root/q370").listFiles()
        .filter(f => f.getName.startsWith(".staged-") ||
          f.getName.startsWith(".replaced-"))
      require(residue.isEmpty,
        s"staging must leave no residue, found ${residue.mkString(",")}")
      s.sql("SELECT okey, prio FROM graft_r17.q370.t")
    },
    Some("""
      SELECT CAST(o_orderkey AS VARCHAR) AS okey,
             o_orderpriority AS prio
      FROM orders
      WHERE CAST(o_orderkey AS VARCHAR) LIKE '%3'"""))

  val all: Seq[QueryDef] =
    Seq(q362, q363, q364, q365, q366, q367, q368, q369, q370)
}
