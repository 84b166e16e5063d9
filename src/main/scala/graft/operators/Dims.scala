package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conformed-dimension builders (SURVEY §2.3 J7, §2.4 A1, §7.4).
  *
  * Surrogate keys use strategy §7.4(a): `row_number()` over a deterministic
  * natural-key ordering — stable, dense, reproducible (the reference's
  * IDENTITY only guarantees key *semantics*, not values). The unpartitioned
  * window funnels the keys it numbers through one task, which is correct
  * for conformed dims (ship modes, categories, geographies — small by
  * definition) and for a day's new keys. Every merge — [[insertOnlyMerge]]
  * and [[Scd2.mergeKeyed]] — assigns its fresh keys through one helper,
  * [[withKeys]]. Everything here is lazy (no Spark job), and joining a dim
  * into a fact is a plain join — Spark's planner broadcasts it under
  * `spark.sql.autoBroadcastJoinThreshold` and AQE converts the join at run
  * time from observed sizes.
  */
object Dims {

  /** Backtick-quote a caller-supplied column NAME so dotted names
    * ("addr.city") resolve as one column instead of a struct-field
    * path — every `col()` over a name the caller hands us goes through
    * this. */
  private def qcol(n: String) = col(s"`$n`")

  /** A1: distinct natural keys + dense deterministic surrogate key, numbered
    * by one unpartitioned window. */
  def buildDim(src: DataFrame, naturalKey: Seq[String], keyCol: String): DataFrame =
    src.select(naturalKey.map(qcol): _*).distinct().withColumn(keyCol,
      row_number().over(Window.orderBy(naturalKey.map(qcol): _*)).cast("long"))

  /** J7: MERGE ... WHEN NOT MATCHED THEN INSERT (SQLproject1.sql:390-416) —
    * existing rows keep their surrogate keys; unseen natural keys are
    * appended with keys offset past max(existing) ([[withKeys]]). */
  def insertOnlyMerge(existing: DataFrame, incoming: DataFrame,
                      naturalKey: Seq[String], keyCol: String): DataFrame =
    existing.unionByName(
      withKeys(existing, freshKeys(existing, incoming, naturalKey),
          naturalKey.map(qcol), keyCol)
        .select(existing.columns.toIndexedSeq.map(qcol): _*))

  /** Fresh surrogate keys, the one place a merge numbers new dim rows:
    * max(existing `keyCol`) + the row's dense `row_number` in `order`.
    *
    * If `rows` carries `keyCol`, only its NULL-keyed rows are numbered and
    * every other row keeps its key. Carried keys are unique, so windowing
    * by the key gives each carried row a partition of its own and leaves
    * the NULL-keyed rows as the one partition the numbering runs over —
    * one task over a day's novelty, however large the carried rows. */
  private[operators] def withKeys(existing: DataFrame, rows: DataFrame,
                                  order: Seq[Column], keyCol: String): DataFrame = {
    val maxKey = existing.agg(coalesce(max(qcol(keyCol)), lit(0L)).as("__mx"))
    val fresh = (col("__mx") + col("__rn")).cast("long")
    val (byKey, key) =
      if (rows.columns.contains(keyCol))
        (Seq(qcol(keyCol)), when(qcol(keyCol).isNull, fresh).otherwise(qcol(keyCol)))
      else (Nil, fresh)
    rows
      .withColumn("__rn",
        row_number().over(Window.partitionBy(byKey: _*).orderBy(order: _*)).cast("long"))
      .crossJoin(broadcast(maxKey))
      .withColumn(keyCol, key)
      .drop("__rn", "__mx")
  }

  /** Incoming natural keys not yet in the dim, under NULL-SAFE key
    * equality: a plain anti-join never matches a key containing NULL
    * (NULL = NULL is NULL), so such a row would be re-appended with a
    * fresh surrogate key on EVERY incremental run — duplicating dim rows
    * and fanning out facts. `<=>` treats NULL as a value, matching how
    * `Hashing.hashKey` folds NULLs into one sentinel. */
  private def freshKeys(existing: DataFrame, incoming: DataFrame,
                        naturalKey: Seq[String]): DataFrame = {
    val inc = incoming.select(naturalKey.map(qcol): _*).distinct().as("inc")
    val ex = existing.select(naturalKey.map(qcol): _*).distinct().as("ex")
    val cond = naturalKey.map(k => col(s"inc.`$k`") <=> col(s"ex.`$k`"))
      .reduce(_ && _)
    inc.join(ex, cond, "left_anti")
  }
}
