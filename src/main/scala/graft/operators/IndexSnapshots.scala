package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-pinned reads for the persisted-index serves — one
  * definition of the read-consistency contract [[NearDupIndex]] and
  * [[IvfIndex]] share: every serve reads its index tables AS OF their
  * last committed version.
  *
  * Why: an in-flight maintenance commit (batch overwrite, retrain's
  * centroid overwrite) makes its new files task-visible BEFORE the job
  * commit retires the replaced ones; a current-table read racing that
  * window can double-count a batch or see two centroid generations at
  * once. Pinning the last COMMITTED version resolves the file set from
  * the version log instead: a racing serve returns a committed state or
  * fails loudly — never a torn one.
  *
  * The residual races are LOUD and retryable, on both ends:
  * resolution racing the rename-before-log-seal window throws
  * ("out-of-band" / "needs attic file") and is retried here against the
  * re-read current version; a pinned file moved to the attic mid-SCAN
  * surfaces as the task's FileNotFoundException for the caller to
  * retry. */
private[operators] object IndexSnapshots {

  /** `cat.ns.tbl` AS OF its current committed version. `tbl` parts are
    * requireSafeIdent-validated by the callers. */
  def pinned(spark: SparkSession, cat: String, ns: String,
             tbl: String): DataFrame =
    pinnedWithVersion(spark, cat, ns, tbl)._1

  /** [[pinned]] plus the version it pinned — the serve-side key into
    * per-version stored artifacts (the saturation audit, the occupancy
    * guard): a serve must read the stored row for the SAME version its
    * candidates came from. The version probe is a driver-local log-dir
    * listing ([[graft.sources.QuirkCsvVersions.currentVersionOf]]), not
    * a SQL `CALL` — one parse/analyze per serve measured as pure
    * overhead. */
  def pinnedWithVersion(spark: SparkSession, cat: String, ns: String,
                        tbl: String): (DataFrame, Long) = {
    var last: Throwable = null
    (1 to 5).foreach { _ =>
      try {
        val v = graft.sources.QuirkCsvVersions.currentVersionOf(
          spark, cat, s"$ns.$tbl")
        return (spark.sql(s"SELECT * FROM $cat.$ns.$tbl VERSION AS OF $v"),
          v)
      } catch {
        case e: Exception
            if String.valueOf(e.getMessage).contains("out-of-band") ||
              String.valueOf(e.getMessage).contains("needs attic file") =>
          last = e // a maintenance commit landed mid-resolution; re-pin
          Thread.sleep(50)
      }
    }
    throw last
  }
}
