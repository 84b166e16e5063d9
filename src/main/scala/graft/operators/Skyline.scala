package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline): the rows not dominated by any other
  * row, maximizing both dimensions. `q` dominates `p` iff `q.x >= p.x`,
  * `q.y >= p.y`, and at least one is strict; ties on BOTH dimensions
  * survive together.
  *
  * The classic OLAP "best tradeoff" operator (BNL/D&C in the skyline
  * literature); the reference's dashboards rank on single measures, the
  * skyline answers "which customers are best on revenue AND frequency
  * jointly" without collapsing to a weighted score.
  *
  * Scale shape — grid prune, then exact sweep on the survivors:
  *  1. one pass computes [min,max] of x; a second assigns each row a
  *     fixed-width bucket (bucket boundaries are heuristic ONLY — every
  *     keep/drop decision below compares exact column values).
  *  2. per-bucket max(y) (map-combined, `buckets` rows), then a running
  *     max over strictly-higher buckets — a window over ≤`buckets` rows.
  *  3. prune: a row with y <= that running max is dominated by some row
  *     in a strictly-higher bucket (higher bucket ⇒ strictly larger x).
  *     This is where the data-sized work ends: two scans, no join
  *     shuffle, no data-sized window.
  *  4. exact dominance among survivors: group to distinct x (max y per
  *     x), one window over survivor x-groups ordered desc. Sound because
  *     dominance chains end in a survivor (transitivity), so checking
  *     survivors against survivors loses nothing.
  *
  * The step-4 window is a single task over the PRUNED set — fine while
  * the grid keeps survivors small (real measure distributions), but a
  * corpus whose frontier itself is huge funnels through it; same
  * documented posture as `Dims.buildDim`'s single-window numbering.
  */
object Skyline {

  /** Frontier rows of `df`, maximizing (`x`, `y`). Emits the input
    * columns unchanged (original column set, frontier rows only). */
  def paretoFrontier2D(df: DataFrame, x: Column, y: Column,
                       buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cols = df.columns.toSeq
    val pts = df.withColumn("__x", x).withColumn("__y", y)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val bounds = pts.agg(
      min(col("__x").cast("double")).as("__lo"),
      max(col("__x").cast("double")).as("__hi"))
    val bucketed = pts.crossJoin(broadcast(bounds)).withColumn("__b",
      when(col("__hi") === col("__lo"), lit(0)).otherwise(
        least(floor((col("__x").cast("double") - col("__lo")) /
          ((col("__hi") - col("__lo")) / buckets)), lit(buckets - 1L)))
        .cast("int"))
    // max(y) of every bucket strictly above, via a <=buckets-row frame
    val bmax = bucketed.groupBy(col("__b")).agg(max(col("__y")).as("__by"))
      .withColumn("__above", max(col("__by")).over(
        Window.orderBy(col("__b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__above"))
    val survivors = bucketed.join(broadcast(bmax), Seq("__b"))
      .filter(col("__above").isNull || col("__y") > col("__above"))
    // exact sweep over survivor x-groups (small by construction)
    val gmax = survivors.groupBy(col("__x").as("__gx"))
      .agg(max(col("__y")).as("__gy"))
      .withColumn("__prev", max(col("__gy")).over(
        Window.orderBy(col("__gx").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("__prev").isNull || col("__gy") > col("__prev"))
      .select(col("__gx"), col("__gy"))
    survivors.join(broadcast(gmax),
        col("__x") === col("__gx") && col("__y") === col("__gy"))
      .select(cols.map(col): _*)
  }
}
