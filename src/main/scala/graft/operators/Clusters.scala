package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Near-dup cluster resolution: candidate PAIRS (from MinHash-LSH, SimHash
  * bands, or embedding buckets) are only half the dedup story — keeping one
  * document per duplicate GROUP needs the pairs resolved into connected
  * components.
  *
  * Semantics: `cluster_id` = the minimum vertex id reachable through the
  * pair graph (a unique, engine-independent fixpoint — the differential
  * oracle states it as a recursive transitive closure). Vertices absent
  * from any pair are their own singleton cluster.
  *
  * Algorithm: min-label propagation with DOUBLE pointer jumping — each
  * round every vertex adopts the smallest label among itself and its
  * neighbors (one edge join + min-aggregate), then follows its label's
  * own label twice (two label self-joins: labels are vertex ids, so
  * label(label) is defined and monotonically smaller). Propagation alone
  * needs O(component diameter) rounds; each jump doubles effective reach,
  * so two jumps per round give ~4× reach growth — measured 10 rounds for
  * a 300k-vertex chain vs ~18 with a single jump (PLANS.md), and
  * per-round job overhead is exactly what dominates iterative Spark
  * loops. Only the round's FINAL frame is snapshotted (lineage stays
  * flat: `localCheckpoint` by default, reliable `checkpoint` when a
  * checkpointDir is given); the intra-round intermediates are persisted
  * (memory+disk) and released — one sync barrier per round, not two.
  * Convergence is detected by counting changed labels on the
  * already-materialized round output (no extra join).
  *
  * At 100 TB the driver loop still holds: rounds are data-parallel jobs
  * (edge join ~O(E), compression ~O(V)); only the per-round changed-count
  * (one long) reaches the driver.
  */
object Clusters {

  /** Round-snapshot bookkeeping shared by every iterative op here.
    *
    * `snapshot` materializes a round's output and truncates lineage:
    * `localCheckpoint` when `checkpointDir` is None (cheap, executor-local
    * blocks — right for bench scale, but on a real cluster one lost
    * executor aborts the whole iterative job unrecoverably), or a parquet
    * round-trip into a per-run subdir of `checkpointDir` (HDFS/S3) — the
    * same durability as `df.checkpoint()` (reliable storage, lineage
    * truncated) WITHOUT mutating the SparkContext-global checkpoint dir
    * (concurrent callers would otherwise write into each other's
    * directories) and with deletable per-step locations: Spark never
    * deletes reliable checkpoints on its own, so an iterative loop must
    * prune its own rounds or every daily run leaves maxIter corpus-sized
    * snapshots.
    *
    * `prune(keep*)` deletes every durable snapshot dir not referenced (by
    * object identity) in `keep` — call it once per round with the frames
    * still live, and once before returning with only the frame(s) the
    * returned lazy plan reads. The final kept dirs intentionally outlive
    * the call: the caller's returned DataFrame reads them. */
  private[operators] final class RoundSnapshots(
      checkpointDir: Option[String]) {
    private var step = 0
    // per-invocation unique run id: concurrent calls may share a root
    private val runId = java.util.UUID.randomUUID().toString.take(8)
    private var liveSnaps = List.empty[(DataFrame, String)]
    def snapshot(df: DataFrame, eager: Boolean = true): DataFrame =
      checkpointDir match {
        case Some(root) =>
          val d = s"$root/run_$runId/step_$step"
          step += 1
          df.write.mode("overwrite").parquet(d)
          val out = df.sparkSession.read.parquet(d)
          liveSnaps ::= (out, d)
          out
        case None => df.localCheckpoint(eager)
      }
    def prune(keep: DataFrame*): Unit = if (checkpointDir.isDefined) {
      val (kept, dead) = liveSnaps.partition { case (f, _) =>
        keep.exists(_ eq f) }
      dead.foreach { case (out, d) =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(
          out.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      }
      liveSnaps = kept
    }
  }

  /** Resolve undirected candidate pairs (aCol, bCol) over `vertices`
    * (idCol) into components. Emits (idCol, cluster_id).
    *
    * Durability: by default each round is `localCheckpoint`ed — cheap
    * (executor-local blocks, no replication) and right for bench scale,
    * but on a real cluster one lost executor aborts the whole iterative
    * job unrecoverably. Pass `checkpointDir` (HDFS/S3 path) to switch the
    * round snapshots to reliable `checkpoint()` storage: each round then
    * costs a distributed write, and a lost executor only recomputes from
    * the last durable round.
    *
    * Size dispatch: after materializing the edge list, graphs with at
    * most `smallGraphMaxEdges` directed edges resolve in ONE task by
    * union-find over the EDGES ALONE (the candidate-pair graph after
    * banding is typically a tiny fraction of the corpus, and an
    * iterative loop pays ~0.5 s of job overhead PER ROUND that a
    * million-edge union-find solves outright). The vertex side — the
    * corpus, with all its singletons — never funnels through that task:
    * edge-vertex labels join back to the distinct vertex ids
    * (broadcast-sized under AQE whenever the fast path fires). Both
    * paths emit the identical min-id fixpoint; pass
    * `smallGraphMaxEdges = 0` to force the iterative loop. */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          smallGraphMaxEdges: Long = 4000000L): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val snaps = new RoundSnapshots(checkpointDir)
    def snapshot(df: DataFrame): DataFrame = snaps.snapshot(df)
    def prune(keep: DataFrame*): Unit = snaps.prune(keep: _*)
    // NOTE a pre-snapshot repartition(col("src")) does NOT save the
    // per-round edge exchange: localCheckpoint surfaces as a bare
    // `Scan ExistingRDD` with unknown outputPartitioning (measured, see
    // PLANS.md), so every round re-exchanges edges
    // regardless. GraphX-style static edge partitioning would need the
    // loop lowered to RDDs with a partitioner; at the DataFrame tier the
    // honest lever is fewer rounds (the double jump below), not
    // partitioning reuse across snapshots.
    val edges = snapshot(pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())

    if (smallGraphMaxEdges > 0 && edges.count() <= smallGraphMaxEdges) {
      // the returned frame lazily reads the edges snapshot — keep it live
      prune(edges)
      val labels = smallGraphLabels(edges)
      return vertices.select(col(idCol)).distinct()
        .join(labels, col(idCol) === col("__uf_id"), "left")
        .select(col(idCol),
          coalesce(col("__uf_label"), col(idCol)).as("cluster_id"))
    }

    var lastSnap = snapshot(vertices.select(col(idCol).as("id"))
      .distinct().withColumn("label", col("id")))
    var labels = lastSnap
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // neighbor labels: for each dst, the labels of all its srcs
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nb_label"))
      // the expensive edge join is PERSISTED (memory+disk), not
      // checkpointed: both pointer jumps below read it without
      // recomputation, and the round's one durable materialization is
      // the final `next` snapshot — one sync barrier per round, not two
      val prop = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nb_label"), col("label")))
            .as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // DOUBLE pointer jumping: adopt label(label), then label(label)
      // again — reach grows ~4x per round instead of ~2x, halving the
      // round count (and its per-round synchronization cost) on deep
      // graphs for the price of one extra cheap label-table self-join
      val lut1 = prop.select(col("id").as("__lid"), col("label").as("__ll"))
      val jump1 = prop
        .join(lut1, col("label") === col("__lid"), "left")
        .select(col("id"), col("__old"),
          least(col("label"), coalesce(col("__ll"), col("label")))
            .as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lut2 = jump1.select(col("id").as("__lid"), col("label").as("__ll"))
      val next = snapshot(jump1
        .join(lut2, col("label") === col("__lid"), "left")
        .select(col("id"), col("__old"),
          least(col("label"), coalesce(col("__ll"), col("label")))
            .as("label")))
      prop.unpersist()
      jump1.unpersist()
      val changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.select(col("id"), col("label"))
      // next is materialized: the PREVIOUS round's labels snapshot is no
      // longer read by anything
      lastSnap = next
      prune(edges, lastSnap)
      it += 1
      converged = changed == 0L
    }
    // the returned frame reads only the final snapshot — keep only it
    prune(lastSnap)
    // unconverged labels are silently WRONG (not the component minimum) —
    // downstream dedup would keep several "canonical" docs per group with
    // no signal. Fail loudly; convergence is already measured, so this
    // costs nothing.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds; " +
          "raise maxIter (rounds needed ~ log4 of the largest component's " +
          "diameter under double pointer jumping)")
    labels.select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** Single-task union-find over a (src, dst) edge frame: emits
    * (__uf_id, __uf_label) for every vertex THAT APPEARS IN AN EDGE,
    * label = component minimum. Union-by-min + path compression; the
    * whole edge list flows through one task, which is exactly why the
    * caller gates it on edge count. */
  private def smallGraphLabels(edges: DataFrame): DataFrame = {
    val idType = edges.schema("src").dataType
    val ord = orderingFor(idType)
    val rows = edges.repartition(1).rdd.mapPartitions { it =>
      val parent = mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var cur = x // path compression
        while (parent(cur) != root) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      it.foreach { r =>
        val a = r.get(0)
        val b = r.get(1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keysIterator.map(k => Row(k, find(k)))
    }
    edges.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("__uf_id", idType), StructField("__uf_label", idType))))
  }

  private def orderingFor(dt: DataType): Ordering[Any] = (dt match {
    case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
    case ByteType => Ordering.Byte.on[Any](_.asInstanceOf[Byte])
    // Spark's string min/ordering is binary UTF-8; Java String.compareTo
    // is UTF-16-unit order — they disagree on supplementary characters,
    // so compare the UTF-8 bytes to reproduce the iterative path exactly
    case StringType => new Ordering[Any] {
      override def compare(x: Any, y: Any): Int =
        java.util.Arrays.compareUnsigned(
          x.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    case other => throw new IllegalArgumentException(
      s"connectedComponents ids must be integral or string, got " +
        s"${other.catalogString}")
  })

  /** Cluster summary: size and canonical (minimum-id) representative per
    * cluster — the "keep one per duplicate group" decision table. */
  def clusterSummary(components: DataFrame, idCol: String): DataFrame =
    components.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col(idCol)).as("canonical_id"))

  /** Dedup-cluster cohesion audit: for every resolved multi-member
    * cluster, how complete its candidate-pair evidence is — a clique
    * (completeness 1.0) is a true duplicate group; a chain
    * (completeness « 1) was glued by transitive closure through a few
    * banding collisions and may be over-merged. The review table a
    * corpus owner reads before trusting "keep one per cluster" at scale.
    *
    * Emits one row per cluster with ≥ 2 members: (cluster_id,
    * n_members, n_pairs, min_dist, max_dist, completeness = n_pairs /
    * C(n_members, 2), is_chain = completeness < 1). All counts are
    * exact integers; completeness is one division.
    *
    * Scale: component resolution is [[connectedComponents]]; the audit
    * itself is one pairs→cluster join keyed on the vertex id and two
    * cluster-keyed aggregations — pair-sized, never corpus². */
  def clusterCohesionAudit(vertices: DataFrame, idCol: String,
                           pairs: DataFrame, aCol: String, bCol: String,
                           distCol: String,
                           maxIter: Int = 20): DataFrame = {
    // the pair list feeds BOTH component resolution and the per-cluster
    // distance audit — materialize it once; pair generation (banding +
    // exact distance) is typically the expensive upstream
    val p = pairs.localCheckpoint()
    val comps = connectedComponents(vertices, idCol,
      p.select(col(aCol), col(bCol)), aCol, bCol, maxIter)
    val sizes = comps.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val withC = p.join(
      comps.select(col(idCol).as(aCol), col("cluster_id")), aCol)
    val pairAgg = withC.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col(distCol)).as("min_dist"),
        max(col(distCol)).as("max_dist"))
    sizes.join(pairAgg, "cluster_id")
      .withColumn("completeness",
        (col("n_pairs") * 2L).cast("double") /
          (col("n_members") * (col("n_members") - 1L)).cast("double"))
      .withColumn("is_chain", col("completeness") < 1.0)
  }

  /** Integer-exact PageRank over an UNDIRECTED graph given as (src, dst)
    * pairs — entity-importance scoring for graphs like the
    * customer↔supplier trade network, with every arithmetic step in
    * 64-bit integer math so two engines produce bit-identical ranks
    * (doubles would accumulate in shuffle order and never hash-match a
    * differential oracle).
    *
    * Semantics (damping d = 85/100, all divisions floor/integer):
    *   - vertex set   = endpoints of the symmetrized, deduplicated edges
    *   - deg(v)       = number of distinct neighbors
    *   - r0           = scale div N               (same for every vertex)
    *   - base         = (15 * r0) div 100
    *   - r_{k+1}(v)   = base + Σ_{u∈nbrs(v)} (85 * r_k(u)) div (100 * deg(u))
    *
    * Every vertex has deg ≥ 1 by construction, so there is no dangling
    * mass. With scale = 1e12 the per-iteration products stay ≤ 8.5e13 —
    * far inside Long range at any graph size (rank mass is conserved
    * minus floor truncation, so ranks never exceed ~scale).
    *
    * Scale posture: the input pairs are deduplicated BEFORE symmetrizing
    * (half the dedup shuffle), then per round one edges⋈ranks join, one
    * map-side-combined sum shuffled by dst, and one join back to deg.
    * The rank table is only |V| rows but its per-round snapshot
    * (`localCheckpoint`, or reliable storage via `checkpointDir`)
    * snapshot erases size stats, so AQE would never pick a broadcast
    * join on its own — when |V| ≤ `smallVertexMaxRows` the rank/inflow
    * sides are broadcast EXPLICITLY and the cached edge list never
    * re-shuffles; above the cap the joins shuffle on the vertex key
    * (pre-partitioned by the persist). Rank snapshots keep lineage flat
    * (the [[connectedComponents]] discipline); only N (one long)
    * reaches the driver. Vertex ids keep the caller's column type —
    * compact integer ids shuffle several times faster than strings, so
    * encode composite entities as longs where possible. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 3,
                  scale: Long = 1000000000000L,
                  smallVertexMaxRows: Long = 5000000L,
                  checkpointDir: Option[String] = None): DataFrame = {
    val snaps = new RoundSnapshots(checkpointDir)
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(scale >= 1000L, s"scale must be >= 1000, got $scale")
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct() // only collapses pairs the input held in both directions
      .persist()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    val n = deg.count() // materializes both caches; N is the only driver value
    require(n > 0, "pageRankInt: empty edge set")
    val bcast = n <= smallVertexMaxRows
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    val r0 = scale / n
    val base = (15L * r0) / 100L
    var ranks = snaps.snapshot(deg.withColumn("rank", lit(r0)))
    for (i <- 1 to iters) {
      val inflow = sym.join(side(ranks), Seq("src"))
        .select(col("dst"), expr("(85 * rank) div (100 * deg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        .withColumnRenamed("dst", "src")
      val next = deg.join(side(inflow), Seq("src"))
        .select(col("src"), col("deg"),
          (lit(base) + col("inflow")).as("rank"))
      // snapshot every OTHER round (and the last): the in-between rank
      // frame stays lazy — one extra join pair in the next round's plan,
      // computed once, for half the materialization barriers. This is
      // what makes the op less sensitive to ambient driver load: the
      // barriers, not the joins, dominate its variance.
      if (i % 2 == 0 || i == iters) {
        ranks = snaps.snapshot(next)
        snaps.prune(ranks)
      } else ranks = next
    }
    sym.unpersist()
    deg.unpersist()
    ranks.select(col("src").as("vertex"), col("deg"), col("rank"))
  }

  /** Per-vertex triangle counts and local clustering coefficient over an
    * undirected edge list — the cohesion audit for a near-dup similarity
    * graph: cliquish clusters (lcc ~ 1) are true duplicate groups, long
    * chains (lcc ~ 0) are banding artifacts that would over-merge under
    * transitive closure.
    *
    * Triangles are enumerated once each via degree ordering: an edge is
    * oriented u -> v iff (deg(u), u) < (deg(v), v), every out-out wedge
    * u -> v -> w is closed by probing the oriented set for u -> w, and
    * each triangle appears exactly once because the orientation is an
    * acyclic tournament. Out-degrees under this orientation are bounded
    * by O(sqrt(E)), so the wedge join is sum(outdeg^2) <= O(E^1.5) —
    * the standard bound — instead of the unbounded sum(deg^2) a naive
    * id-ordering hits on skewed (hub-heavy) graphs; no step is
    * all-pairs and nothing leaves the executors.
    *
    * Emits one row per vertex in `vertices`: `(idCol, deg, triangles,
    * lcc)` with lcc = 2*triangles / (deg * (deg - 1)), NULL when
    * deg < 2; isolated vertices report deg 0.
    */
  def triangleStats(vertices: DataFrame, idCol: String, edges: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    // persisted: e feeds both sym legs, deg feeds the orientation (twice)
    // and the final report join, and oriented feeds BOTH wedge sides plus
    // the closing probe — unpersisted, the caller's edge generation
    // re-ran per consumer (the commonNeighborCandidates lesson)
    val e = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct().persist()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg")).persist()
    // orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    val withDeg = sym
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
    val oriented = withDeg
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
      .persist()
    val wedges = oriented.select(col("u").as("x"), col("v").as("y"))
      .join(oriented.select(col("u").as("y"), col("v").as("z")), Seq("y"))
    val tris = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("z")),
        Seq("x", "z"))
    val perVertex = tris.select(col("x").as("vtx"))
      .union(tris.select(col("y")))
      .union(tris.select(col("z")))
      .groupBy(col("vtx")).agg(count(lit(1)).as("triangles"))
    // Returned LAZY with the persists live: an eager snapshot-and-release
    // here (the commonNeighborCandidates discipline) was measured 4x
    // WORSE cold on q180 — actions that don't consume every column (a
    // bare count prunes the aggregate-unique left joins entirely) would
    // pay a full materialization they never needed. The cost of laziness
    // is that the persisted edge/degree/oriented blocks outlive the
    // call: LONG-LIVED DRIVERS MUST CLEAR CACHES between invocations
    // (spark.sharedState.cacheManager.clearCache(), as Bench.release()
    // does) or the MEMORY_AND_DISK blocks accumulate for the session.
    vertices.select(col(idCol))
      .join(deg.withColumnRenamed("u", idCol), Seq(idCol), "left")
      .join(perVertex.withColumnRenamed("vtx", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("deg") < 2, lit(null).cast("double"))
          .otherwise((lit(2) * col("triangles")).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")))
  }

  /** k-core decomposition membership: iteratively peel vertices of
    * degree < k until the remaining subgraph is stable; emits the
    * surviving vertices with their core-subgraph degree
    * `(vertex, core_deg)`. On a near-dup graph the k-core isolates the
    * saturated duplicate neighborhoods (template farms, boilerplate
    * clusters) that degree or triangle counts alone under-select.
    *
    * Each round is one degree aggregation + two semi-joins, snapshotted
    * per round (`localCheckpoint`, or reliable storage via `checkpointDir`
    * — the connectedComponents discipline; the
    * round count is bounded by the peeling depth, which is small on
    * bounded-degeneracy graphs; the loop stops as soon as a round
    * removes nothing). Deterministic: the surviving set is the unique
    * maximal k-core, independent of peel order.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 50,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val snaps = new RoundSnapshots(checkpointDir)
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    var cur = snaps.snapshot(canon)
    var n = cur.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val deg = cur.select(col("a").as("u")).union(cur.select(col("b")))
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("u"))
      val next = snaps.snapshot(cur
        .join(keep.withColumnRenamed("u", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("u", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      val m = next.count()
      stable = m == n
      cur = next
      n = m
      rounds += 1
      snaps.prune(cur)
    }
    cur.select(col("a").as("vertex")).union(cur.select(col("b")))
      .groupBy(col("vertex")).agg(count(lit(1)).as("core_deg"))
  }

  /** Common-neighbor link prediction over an undirected edge list: for
    * every NON-adjacent pair sharing at least `minCommon` neighbors,
    * the shared-neighbor count and neighborhood Jaccard
    * |N(a) n N(b)| / |N(a) u N(b)|. On a near-dup graph these are the
    * "missed duplicate" suspects: pairs the banding never compared but
    * whose neighborhoods say should have matched.
    *
    * Cost is the wedge join (sum over CENTER vertices of deg^2), which a
    * hub vertex makes quadratic: a boilerplate/template clique of c
    * near-identical docs yields a deg-(c-1) hub and c^2 wedges — and a
    * neighbor-of-everything hub is also the weakest possible evidence
    * (it "predicts" every pair). `maxCenterDegree` therefore drops
    * vertices above the cap from serving as wedge CENTERS — standard
    * link-prediction hub suppression, bounding the join at
    * cap * 2E rows — while endpoint degrees (the Jaccard denominator)
    * stay exact. The 10x duplicated-corpus probe is the motivating
    * case: sum(deg^2) 16.9G uncapped vs 362M at the default cap. As
    * with q108, the production rule stands: exact-dedup before any
    * similarity graph — replica cliques saturate banding.
    */
  def commonNeighborCandidates(edges: DataFrame, aCol: String, bCol: String,
                               minCommon: Int = 2,
                               maxCenterDegree: Int = 256): DataFrame = {
    require(maxCenterDegree >= 1,
      s"maxCenterDegree must be >= 1, got $maxCenterDegree")
    // the canonical edge set is consumed FIVE times below (two sym
    // legs, the adjacency anti-join, and deg under both wedge sides) —
    // unpersisted, the caller's edge GENERATION (typically a banded
    // similarity self-join over the corpus) re-ran once per consumer
    // (measured ~2x on q181 at sf0.1). The pageRankInt discipline,
    // applied to the one-shot shape; deg is likewise read three times.
    val e = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct().persist()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg")).persist()
    val centers = sym
      .join(deg.filter(col("deg") <= maxCenterDegree).select(col("u")),
        Seq("u"))
    val common = centers.select(col("u").as("mid"), col("v").as("a"))
      .join(centers.select(col("u").as("mid"), col("v").as("b")), Seq("mid"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .join(e, Seq("a", "b"), "left_anti")
    // Returned LAZY with the persists live (the triangleStats shape): an
    // eager localCheckpoint here was committed briefly and REVERTED — the
    // result is tiny (867 rows at sf0.1) but its materialization path hit
    // an execution-page allocation storm under a large driver heap
    // (measured: q181 4.9 s lazy vs 38 s checkpointed, warm, at -Xmx90g;
    // identical at -Xmx12g — all 32 tasks pinned in
    // HeapMemoryAllocator.allocate under the wedge aggregation). The cost
    // of laziness is that the persisted edge/degree blocks outlive the
    // call: LONG-LIVED DRIVERS MUST CLEAR CACHES between invocations
    // (spark.sharedState.cacheManager.clearCache(), as Bench.release()
    // does) or the blocks accumulate for the session.
    common
      .join(deg.select(col("u").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a").as("a_id"), col("b").as("b_id"), col("common"),
        (col("common").cast("double") /
          (col("da") + col("db") - col("common")).cast("double"))
          .as("jaccard"))
  }

  /** Incremental connected-component maintenance: fold a batch of NEW
    * edges into an existing labeling without recomputing the corpus.
    * The daily-crawl shape — yesterday's duplicate clusters are stored,
    * today's near-dup pairs arrive, and only the components the new
    * edges actually touch may change.
    *
    * Correctness: contracting each old component to its label and
    * running components over (contracted new edges) yields exactly the
    * components of the union graph, and since every stored label is the
    * min vertex id of its old component, the merged min-label equals the
    * from-scratch min-label — `incremental == recompute` (the q194
    * oracle checks precisely this).
    *
    * Scale: everything except the final relabel join is proportional to
    * the NEW batch, not the corpus: the touched label graph has at most
    * 2·|newEdges| vertices, and the resolved remap (only labels that
    * changed) broadcasts onto the stored labeling — the corpus is
    * scanned once and never shuffled. */
  def incrementalComponents(labels: DataFrame, idCol: String,
                            labelCol: String, newEdges: DataFrame,
                            aCol: String, bCol: String,
                            maxIter: Int = 20,
                            checkpointDir: Option[String] = None,
                            smallGraphMaxEdges: Long = 4000000L): DataFrame = {
    // lab is read FOUR times below (both endpoint lifts, the relabel,
    // the new-vertex anti-join) and e three times — persisted, the
    // stored labeling materializes once (narrow two-column rows,
    // memory+disk) instead of re-scanning its source per consumer
    val lab = labels.select(col(idCol).as("__id"), col(labelCol).as("__l"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = newEdges.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .persist()
    // lift edge endpoints into label space (unknown vertices label=self)
    val mapped = e
      .join(lab.select(col("__id").as("__a"), col("__l").as("__la")),
        Seq("__a"), "left")
      .join(lab.select(col("__id").as("__b"), col("__l").as("__lb")),
        Seq("__b"), "left")
      .select(coalesce(col("__la"), col("__a")).as("a"),
        coalesce(col("__lb"), col("__b")).as("b"))
      .filter(col("a") =!= col("b"))
      .persist() // feeds the touched-vertex scan (twice) and the CC run
    val touched = mapped.select(col("a").as("id"))
      .unionByName(mapped.select(col("b").as("id"))).distinct()
    val sup = connectedComponents(touched, "id", mapped, "a", "b",
      maxIter, checkpointDir, smallGraphMaxEdges)
    val remap = sup.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("__l"), col("cluster_id").as("__nl"))
      .persist() // broadcast twice (relabel + new-vertex label)
    val relabeled = lab.join(broadcast(remap), Seq("__l"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__nl"), col("__l")).as(labelCol))
    // vertices first seen in the new batch
    val newVerts = e.select(col("__a").as("__id"))
      .unionByName(e.select(col("__b").as("__id"))).distinct()
      .join(lab.select(col("__id")), Seq("__id"), "left_anti")
    val newLabeled = newVerts
      .join(broadcast(remap.withColumnRenamed("__l", "__id")),
        Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__nl"), col("__id")).as(labelCol))
    // snapshot + release (see triangleStats): the updated labeling IS
    // the operator's output (the stored state a caller writes back), so
    // materializing it here costs nothing extra, and the four persisted
    // intermediates stop leaking storage across daily-crawl invocations
    val out = relabeled.unionByName(newLabeled).localCheckpoint()
    Seq(lab, e, mapped, remap).foreach(_.unpersist(blocking = false))
    out
  }

  /** Modularity of a GIVEN partition over an undirected edge list —
    * "how much denser are intra-community edges than chance". Per
    * community: member count, intra-community edges, degree sum; every
    * row carries the global
    * Q = (4m·Σe_c − Σd_c²) / (4m²) — the standard Newman modularity
    * rearranged so numerator and denominator are exact BIGINTs and the
    * emission is ONE division. The corpus use: membership = source
    * turns the q186 cross-source dup matrix into a single
    * "do duplicates concentrate within sources" score.
    *
    * Scale: two joins of the edge list against the (id → community)
    * map plus map-combined aggregates; the community frame is small. */
  def partitionModularity(edges: DataFrame, aCol: String, bCol: String,
                          membership: DataFrame, idCol: String,
                          communityCol: String): DataFrame = {
    val mem = membership.select(col(idCol).as("__id"),
      col(communityCol).as("community"))
    val e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .filter(col("__a") =!= col("__b"))
    val labeled = e
      .join(mem.select(col("__id").as("__a"), col("community").as("__ca")),
        Seq("__a"))
      .join(mem.select(col("__id").as("__b"), col("community").as("__cb")),
        Seq("__b"))
      // four consumers below (m, intra, both degree legs): one
      // materialization of the pair-sized labeled edges beats four
      // re-runs of the caller's edge generation
      .persist()
    val m = labeled.agg(count(lit(1)).as("__m"))
    val intra = labeled.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degrees = labeled.select(col("__a").as("__id"))
      .unionByName(labeled.select(col("__b").as("__id")))
      .groupBy(col("__id")).agg(count(lit(1)).as("__d"))
      .join(mem, Seq("__id"))
      .groupBy(col("community"))
      .agg(sum(col("__d")).as("degree_sum"),
        count(lit(1)).as("n_active_nodes"))
    val members = mem.groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"))
    val perC = members
      .join(degrees, Seq("community"), "left")
      .join(intra, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("n_active_nodes"), lit(0L)).as("n_active_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
    val globals = perC.agg(sum(col("intra_edges")).as("__se"),
        sum(col("degree_sum") * col("degree_sum")).as("__sd2"))
      .crossJoin(broadcast(m))
      .select(((lit(4L) * col("__m") * col("__se") - col("__sd2"))
        .cast("double") /
        (lit(4L) * col("__m") * col("__m")).cast("double"))
        .as("q_modularity"))
    // Returned LAZY with the persist live (see triangleStats: an eager
    // snapshot-and-release was measured slower on q215 for actions that
    // prune the plan). LONG-LIVED DRIVERS MUST CLEAR CACHES between
    // invocations or the labeled-edge blocks accumulate.
    perC.crossJoin(broadcast(globals))
  }

  /** Synchronous label propagation (`rounds` fixed iterations): every
    * node adopts the most frequent label among its neighbors AND
    * itself (ties → smallest label) — the self-vote is what breaks the
    * classic two-node synchronous oscillation (pure neighbor votes
    * make adjacent nodes swap labels forever). Isolated or unanimous
    * nodes keep theirs. Where
    * [[connectedComponents]] answers "what is transitively connected",
    * LPA finds DENSELY connected communities — a bridge edge joins two
    * components but rarely flips a community, so it's the right
    * granularity for near-dup neighborhoods glued by a few chance
    * collisions.
    *
    * Determinism: votes are integer counts, the winner is a total-order
    * argmax, and the round count is fixed — no float, no convergence
    * race; synchronous updates make round k a pure function of round
    * k−1 (the oracle unrolls the same rounds).
    *
    * Scale: per round, one join of the (snapshotted — `localCheckpoint`,
    * or reliable via `checkpointDir`) symmetric
    * edge list against the label frame and one map-combined vote
    * groupBy — all keyed on node ids; O(rounds · E) total, the q194
    * posture. The per-node vote window is bounded by that node's
    * degree. */
  def labelPropagation(nodes: DataFrame, idCol: String, edges: DataFrame,
                       aCol: String, bCol: String,
                       rounds: Int = 5,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1,50]: $rounds")
    val snaps = new RoundSnapshots(checkpointDir)
    val sym = snaps.snapshot(edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()) // reused every round: cut the banding lineage
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("label"))
    for (_ <- 1 to rounds) {
      val msgs = sym
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("id"), col("label"))
        .unionByName(labels) // self-vote (oscillation breaker)
      val best = msgs.groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("id"))
            .orderBy(col("__n").desc, col("label").asc)))
        .filter(col("__rn") === 1)
        .select(col("id"), col("label").as("__new"))
      // snapshot each round: the label frame is referenced twice per
      // round (vote join + carry-forward), so an unmaterialized lineage
      // re-executes all prior rounds at every reference — 2^rounds work
      // (measured: 13 s -> ~1 s at sf0.1 for 5 rounds)
      labels = snaps.snapshot(labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("__new"), col("label")).as("label")))
      snaps.prune(sym, labels)
    }
    snaps.prune(labels) // the returned plan reads only the final labels
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as(idCol), col("label"), col("community_size"))
  }

  /** Graph Voronoi partition: assign every reachable node to its
    * NEAREST seed (ties → smallest seed id) within `maxHops` — the
    * "which landmark owns this node" refinement of [[bfsHops]] (which
    * only reports the distance). The balanced-region primitive behind
    * landmark-based sharding and takedown ownership.
    *
    * Same bounded frontier-expansion shape as [[bfsHops]], with the
    * running state a (dist, seed) pair combined by lexicographic min —
    * `min(struct(dist, seed))` both in the per-round combine and in the
    * oracle's ORDER BY (dist, seed) pick. */
  def graphVoronoi(nodes: DataFrame, idCol: String, sources: Column,
                   edges: DataFrame, aCol: String, bCol: String,
                   maxHops: Int,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val snaps = new RoundSnapshots(checkpointDir)
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    var state = snaps.snapshot(nodes.filter(sources)
      .select(col(idCol).as("id"), lit(0).as("hops"),
        col(idCol).as("seed")))
    (1 to maxHops).foreach { _ =>
      val expanded = state.join(sym, state("id") === sym("src"))
        .select(sym("dst").as("id"), (col("hops") + 1).as("hops"),
          col("seed"))
      state = snaps.snapshot(state.unionAll(expanded)
        .groupBy(col("id"))
        .agg(min(struct(col("hops"), col("seed"))).as("__best"))
        .select(col("id"), col("__best.hops").as("hops"),
          col("__best.seed").as("seed")))
      snaps.prune(state)
    }
    sym.unpersist(blocking = false)
    state.select(col("id").as(idCol), col("hops"), col("seed"))
  }

  /** Degree assortativity of an undirected graph: the Pearson
    * correlation of endpoint degrees over edges — positive on
    * hub-to-hub graphs (mirror farms linking mirror farms), negative
    * on hub-and-spoke. Exact integer sums over the symmetrized edge
    * list (each undirected edge contributes both orientations — the
    * standard convention); the coefficient is assembled from three
    * single integer→double casts.
    *
    * Scale: one degree groupBy + two key joins + one global aggregate. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val joined = sym
      .join(deg.select(col("u"), col("d").as("da")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("db")), Seq("v"))
    joined.agg(
        count(lit(1)).as("m2"), // 2 × edge count
        sum(col("da").cast(dec)).as("__sa"),
        sum(col("db").cast(dec)).as("__sb"),
        sum(col("da").cast(dec) * col("db").cast(dec)).as("__sab"),
        sum(col("da").cast(dec) * col("da").cast(dec)).as("__saa"),
        sum(col("db").cast(dec) * col("db").cast(dec)).as("__sbb"))
      .select(col("m2"),
        ((col("m2").cast(dec) * col("__sab") - col("__sa") * col("__sb"))
          .cast("double")
          / sqrt((col("m2").cast(dec) * col("__saa")
              - col("__sa") * col("__sa")).cast("double")
            * (col("m2").cast(dec) * col("__sbb")
              - col("__sb") * col("__sb")).cast("double")))
          .as("assortativity"))
  }

  /** Bounded-round k-truss peeling: iteratively drop edges in fewer
    * than `k − 2` triangles, `rounds` times, then report the survivors
    * with their support (triangle count) in the surviving subgraph.
    * On a near-dup graph the truss is the edge-level cohesion filter:
    * [[kCore]] keeps well-connected VERTICES, the truss keeps edges
    * that are corroborated by common neighbors — chains and banding
    * artifacts (support 0) drop in round one.
    *
    * Bounded rounds are the operator's contract (a fixpoint loop is the
    * `rounds → ∞` limit; each round only removes edges, so survivors
    * after R rounds over-approximate the true truss and converge
    * monotonically — callers wanting the fixpoint iterate until the
    * edge count stops changing).
    *
    * Scale: triangles are enumerated once per round via the sorted-id
    * wedge join (a<b<c — each triangle once; the degree-ordered
    * orientation of [[triangleStats]] is the hub-robust upgrade if edge
    * skew bites); support is a groupBy over exploded triangle edges.
    * Each round's edge set is snapshotted (`localCheckpoint`, or reliable
    * via `checkpointDir`) — it feeds three join
    * legs, and unmaterialized lineage would re-run all prior rounds per
    * leg. */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
             rounds: Int, maxDegree: Option[Int] = Some(256),
             checkpointDir: Option[String] = None,
             uncapped: Boolean = false): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxDegree.forall(_ >= 2), s"maxDegree must be >= 2: $maxDegree")
    // Uncapped trussing is Θ(clique³) on replica cliques — verification
    // scale only, so it is an explicit opt-in, never a default.
    require(maxDegree.nonEmpty || uncapped,
      "maxDegree = None enumerates every triangle of every clique " +
        "(output-bound, Θ(c³) per c-clique); pass uncapped = true to opt " +
        "into the exact verification-scale form")
    val snaps = new RoundSnapshots(checkpointDir)
    def support(e: DataFrame): DataFrame = {
      val wedges = e.select(col("a"), col("b"))
        .join(e.select(col("a"), col("b").as("c")), Seq("a"))
        .filter(col("b") < col("c"))
      val tris = wedges.join(
        e.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      val sup = tris.select(
          array(struct(col("a"), col("b")),
            struct(col("a").as("a"), col("c").as("b")),
            struct(col("b").as("a"), col("c").as("b"))).as("__es"))
        .select(explode(col("__es")).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      e.join(sup, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
    }
    var e = snaps.snapshot(edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct())
    // Degree cap — the 100-TB guard. A c-vertex near-dup clique (mirror
    // farm, mass-replicated boilerplate) contains Θ(c³) triangles, so
    // ENUMERATION cost is output-bound and no join strategy avoids it.
    // Pipelines should exact-dedup before banding (which collapses
    // replica cliques at the source); when raw graphs must be trussed,
    // the cap drops vertices with more than `maxDegree` neighbors —
    // saturated vertices whose membership in a dense cluster is already
    // certain — bounding wedge work at |V|·cap².
    maxDegree.foreach { cap =>
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("__deg"))
      val hot = deg.filter(col("__deg") > cap).select(col("v"))
      e = snaps.snapshot(
        e.join(hot.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
          .join(hot.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
          .select(col("a"), col("b")))
      snaps.prune(e)
    }
    (1 to rounds).foreach { _ =>
      e = snaps.snapshot(support(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b")))
      snaps.prune(e)
    }
    support(e).select(col("a").as("a_id"), col("b").as("b_id"),
      col("support"))
  }

  /** Bounded multi-source BFS: minimum hop distance from any source
    * node, up to `maxHops`. The "how close is this doc to a known-bad
    * seed set" primitive — contamination neighborhoods, takedown blast
    * radius, cluster-proximity features.
    *
    * Returns (idCol, hops) for nodes reachable within `maxHops`
    * (sources themselves at 0); unreachable nodes are absent.
    *
    * Scale: `maxHops` rounds of frontier-expand (equi-join on the edge
    * key) + min-combine — the same data-parallel shape as
    * [[connectedComponents]] without the pointer jumping (hop counts
    * need true per-round expansion). Each round's distance table is
    * snapshotted (`localCheckpoint`, or reliable via `checkpointDir`): it
    * is referenced twice per round, and an
    * unmaterialized lineage would re-execute all prior rounds at every
    * reference (2^rounds work). */
  def bfsHops(nodes: DataFrame, idCol: String, sources: Column,
              edges: DataFrame, aCol: String, bCol: String,
              maxHops: Int,
              checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val snaps = new RoundSnapshots(checkpointDir)
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    var dist = snaps.snapshot(nodes.filter(sources)
      .select(col(idCol).as("id"), lit(0).as("hops")))
    (1 to maxHops).foreach { _ =>
      val expanded = dist.join(sym, dist("id") === sym("src"))
        .select(sym("dst").as("id"), (col("hops") + 1).as("hops"))
      dist = snaps.snapshot(dist.unionAll(expanded)
        .groupBy(col("id")).agg(min(col("hops")).as("hops")))
      snaps.prune(dist)
    }
    sym.unpersist(blocking = false)
    dist.select(col("id").as(idCol), col("hops"))
  }
}
