package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conformed-dimension builders (SURVEY §2.3 J7, §2.4 A1, §7.4).
  *
  * Surrogate keys use strategy §7.4(a): `row_number()` over a deterministic
  * natural-key ordering — stable, dense, reproducible (the reference's
  * IDENTITY only guarantees key *semantics*, not values). The unpartitioned
  * window funnels the dim through one task, which is correct for conformed
  * dims (ship modes, categories, geographies — small by definition).
  * [[buildDim]] and [[insertOnlyMerge]] are lazy (they run no Spark job),
  * and joining a dim into a fact is a plain join — Spark's planner
  * broadcasts it under `spark.sql.autoBroadcastJoinThreshold` and AQE
  * converts the join at run time from observed sizes. A dim too large for
  * one window task uses the explicit at-scale twins,
  * [[buildDimDistributed]] and [[insertOnlyMergeDistributed]].
  */
object Dims {

  /** Backtick-quote a caller-supplied column NAME so dotted names
    * ("addr.city") resolve as one column instead of a struct-field
    * path — every `col()` over a name the caller hands us goes through
    * this. */
  private def qcol(n: String) = col(s"`$n`")

  /** A1: distinct natural keys + dense deterministic surrogate key, numbered
    * by one unpartitioned window (output-identical to
    * [[buildDimDistributed]], DimsSpec). */
  def buildDim(src: DataFrame, naturalKey: Seq[String], keyCol: String): DataFrame =
    src.select(naturalKey.map(qcol): _*).distinct().withColumn(keyCol,
      row_number().over(Window.orderBy(naturalKey.map(qcol): _*)).cast("long"))

  /** Dense deterministic surrogate keys WITHOUT a single-task global
    * window — the at-scale IDENTITY replacement for dims too large for
    * [[buildDim]]. Range-partition the distinct natural keys, number rows
    * within each partition, then add each partition's starting offset
    * (computed from per-partition counts — one tiny driver-side action
    * over numPartitions integers, never the data). Output is identical to
    * [[buildDim]] on the same input; only the plan shape differs. */
  def buildDimDistributed(src: DataFrame, naturalKey: Seq[String],
                          keyCol: String, partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.spark_partition_id
    val n = if (partitions > 0) partitions
      else src.sparkSession.sparkContext.defaultParallelism
    val keys = naturalKey.map(qcol)
    val sorted = src.select(keys: _*).distinct()
      .repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
    val localW = Window.partitionBy(col("__pid")).orderBy(keys: _*)
    val numbered = sorted.withColumn("__rn", row_number().over(localW))
      .localCheckpoint() // freeze partitioning: counts + keys must agree
    val counts = numbered.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until n).scanLeft(0L) { (acc, p) =>
      acc + counts.getOrElse(p, 0L)
    }
    val offsetCol = (0 until n).foldLeft(lit(0L)) { (acc, p) =>
      when(col("__pid") === p, lit(offsets(p))).otherwise(acc)
    }
    numbered.withColumn(keyCol, (offsetCol + col("__rn")).cast("long"))
      .drop("__pid", "__rn")
  }

  /** J7: MERGE ... WHEN NOT MATCHED THEN INSERT (SQLproject1.sql:390-416) —
    * existing rows keep their surrogate keys; unseen natural keys are
    * appended with keys offset past max(existing).
    *
    * Fresh keys are numbered with an unpartitioned window — one task over
    * just the NEW keys, fine for conformed dims where a day's novelty is
    * small. If a single batch can introduce a huge number of new keys, use
    * [[insertOnlyMergeDistributed]] (same output, no global window). */
  def insertOnlyMerge(existing: DataFrame, incoming: DataFrame,
                      naturalKey: Seq[String], keyCol: String): DataFrame = {
    val fresh = freshKeys(existing, incoming, naturalKey)
    val keyed = fresh
      .withColumn("__rn",
        row_number().over(Window.orderBy(naturalKey.map(qcol): _*)).cast("long"))
    appendOffsetKeyed(existing, keyed, keyCol)
  }

  /** [[insertOnlyMerge]] with fresh-key numbering done by the
    * [[buildDimDistributed]] machinery instead of an unpartitioned window —
    * identical output, but new-key assignment scales past one task. */
  def insertOnlyMergeDistributed(existing: DataFrame, incoming: DataFrame,
                                 naturalKey: Seq[String], keyCol: String,
                                 partitions: Int = 0): DataFrame = {
    val fresh = freshKeys(existing, incoming, naturalKey)
    // NOT "__rn": buildDimDistributed uses that name internally and would
    // drop the output key with its own scratch column
    val keyed = buildDimDistributed(fresh, naturalKey, "__fresh_rn", partitions)
      .withColumnRenamed("__fresh_rn", "__rn")
    appendOffsetKeyed(existing, keyed, keyCol)
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

  /** Shift dense 1..n `__rn` keys past max(existing key) and append. */
  private def appendOffsetKeyed(existing: DataFrame, keyed: DataFrame,
                                keyCol: String): DataFrame = {
    val maxKey = existing.agg(coalesce(max(qcol(keyCol)), lit(0L)).as("__mx"))
    val shifted = keyed
      .crossJoin(broadcast(maxKey))
      .withColumn(keyCol, (col("__mx") + col("__rn")).cast("long"))
      .drop("__rn", "__mx")
    existing.unionByName(shifted.select(existing.columns.toIndexedSeq.map(qcol): _*))
  }
}
