package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Generic SCD Type 2 merge (SURVEY §2.3 J8, §2.8 X3, §7.5.1).
  *
  * Reference semantics (SQLproject1.sql:485-513 Customer, :541-557 Product):
  *  - change detection by SHA2-256 hash-diff over the tracked columns;
  *  - brand-new natural keys enter with the open sentinel range
  *    [1900-01-01, 9999-12-31), IsCurrent=1;
  *  - a changed key closes its current row (EffectiveTo = runDate,
  *    IsCurrent=0) and inserts a new current version (EffectiveFrom =
  *    runDate);
  *  - keys absent from the snapshot are left untouched (no delete handling).
  *
  * `runDate` is an explicit parameter, not GETDATE() — deterministic,
  * testable, re-runnable (SURVEY §7.5.2). The reference's own re-run bug
  * (change detection keyed on `EffectiveTo = today`, :504) is NOT
  * reproduced; we detect change purely by hash-diff, so a same-day re-run
  * with an unchanged snapshot is a no-op.
  *
  * Scale: like the reference's one MERGE per dim, the classifier is ONE
  * full outer join of the *current* slice and the hashed snapshot on the
  * natural key, and each joined row is classified once (kept, closed plus
  * new version, brand-new); history rows pass through untouched. The key
  * equality is NULL-safe (`<=>`): a natural key with a NULL part still
  * matches its current row instead of re-entering as brand-new. Caller
  * should `localCheckpoint()` the input dim before overwriting the table
  * it came from (read-then-overwrite hazard, SURVEY §7.5.1).
  */
object Scd2 {

  val OpenStart = "1900-01-01"
  val OpenEnd   = "9999-12-31"

  private def withHashDiff(snapshot: DataFrame, tracked: Seq[String]): DataFrame =
    snapshot.withColumn("hash_diff", Hashing.hashDiff(tracked.map(col)))

  /** First load: every snapshot row becomes current with the open range. */
  def initialLoad(snapshot: DataFrame, tracked: Seq[String]): DataFrame =
    withHashDiff(snapshot, tracked)
      .withColumn("effective_from", to_date(lit(OpenStart)))
      .withColumn("effective_to", to_date(lit(OpenEnd)))
      .withColumn("is_current", lit(true))

  /** Merge a new snapshot into an existing SCD2 dim. */
  def merge(dim: DataFrame, snapshot: DataFrame, naturalKey: Seq[String],
            tracked: Seq[String], runDate: String): DataFrame = {
    val (history, versions) = classify(dim, snapshot, naturalKey, tracked,
      runDate, keyCol = None)
    history.unionByName(versions)
  }

  /** [[merge]] for a dim that carries a surrogate key column: surviving
    * version rows (history, unchanged, closed) KEEP their keys — the
    * reference's MERGE updates rows in place, never re-keys them
    * (SQLproject1.sql:485-513) — while new version rows (a changed key's
    * new current version, brand-new keys) get fresh keys offset past
    * max(existing).
    *
    * An unchanged or closed row is the current row itself, so its key
    * rides through the classifier join. Fresh keys come from
    * [[Dims.withKeys]], numbered in (naturalKey, effective_from, hash_diff)
    * order. */
  def mergeKeyed(dim: DataFrame, snapshot: DataFrame, naturalKey: Seq[String],
                 tracked: Seq[String], runDate: String,
                 keyCol: String): DataFrame = {
    val (history, versions) = classify(dim, snapshot, naturalKey, tracked,
      runDate, Some(keyCol))
    val order = (naturalKey :+ "effective_from" :+ "hash_diff").map(col)
    history.unionByName(Dims.withKeys(dim, versions, order, keyCol))
  }

  /** The dim's history rows, and the version rows that one full outer join
    * of its current slice with the hashed snapshot yields. A joined row
    * emits its current side (kept, or closed when the hashes differ) and
    * its snapshot side (a new version when the hashes differ, brand-new
    * when there is no current row); `keep` drops the sides that emit
    * nothing. Both carry the dim's columns in the dim's order — a MERGE
    * never reorders its table's schema — and `keyCol`, if given, is NULL
    * on the snapshot side. */
  private def classify(dim: DataFrame, snapshot: DataFrame,
                       naturalKey: Seq[String], tracked: Seq[String],
                       runDate: String,
                       keyCol: Option[String]): (DataFrame, DataFrame) = {
    def c(n: String) = col(s"__c.`$n`")
    def s(n: String) = col(s"__s.`$n`")
    val joined = dim.filter(col("is_current")).as("__c").join(
      withHashDiff(snapshot, tracked).as("__s"),
      naturalKey.map(k => c(k) <=> s(k)).reduce(_ && _), "full_outer")

    val hasCurrent = c("is_current").isNotNull
    val hasSnapshot = s("hash_diff").isNotNull
    val changed = hasCurrent && hasSnapshot && !(c("hash_diff") <=> s("hash_diff"))
    def side(keep: Column, value: String => Column): Column =
      struct(dim.columns.map(n => value(n).as(n)) :+ keep.as("__keep"): _*)
    val currentSide = side(hasCurrent, {
      case "effective_to" => when(changed, to_date(lit(runDate)))
        .otherwise(c("effective_to"))
      case "is_current" => !changed
      case n => c(n)
    })
    val snapshotSide = side(hasSnapshot && (changed || !hasCurrent), {
      case "effective_from" => when(hasCurrent, to_date(lit(runDate)))
        .otherwise(to_date(lit(OpenStart)))
      case "effective_to" => to_date(lit(OpenEnd))
      case "is_current" => lit(true)
      case n if keyCol.contains(n) => lit(null).cast(dim.schema(n).dataType)
      case n => s(n)
    })

    val versions = joined.select(inline(array(currentSide, snapshotSide)))
      .filter(col("__keep")).drop("__keep")
    (dim.filter(!col("is_current")), versions)
  }
}
