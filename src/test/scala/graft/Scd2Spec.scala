package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Range}
import org.apache.spark.sql.functions._

import graft.operators.Scd2

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def snap(rows: (Int, String, String)*): DataFrame =
    rows.toDF("key", "name", "segment")

  private val tracked = Seq("name", "segment")

  test("initialLoad: every row current with the open sentinel range") {
    val dim = Scd2.initialLoad(snap((1, "a", "X"), (2, "b", "Y")), tracked)
    dim.count() shouldBe 2
    dim.filter($"is_current").count() shouldBe 2
    col1(dim.select($"effective_from".cast("string")).distinct()) shouldBe
      Seq("1900-01-01")
  }

  test("merge classifies kept / closed+new-version / brand-new") {
    val dim0 = Scd2.initialLoad(snap((1, "a", "X"), (2, "b", "Y")), tracked)
    val dim1 = Scd2.merge(dim0,
      snap((1, "a", "X"), (2, "b", "Z"), (3, "c", "W")),
      Seq("key"), tracked, "2024-06-01")

    dim1.count() shouldBe 4 // kept(1) + closed(2-old) + new(2) + brand-new(3)
    // unchanged key untouched
    dim1.filter($"key" === 1 && $"is_current").count() shouldBe 1
    // changed key: old version closed at runDate
    val closed = dim1.filter($"key" === 2 && !$"is_current").collect().head
    closed.getAs[java.sql.Date]("effective_to").toString shouldBe "2024-06-01"
    // changed key: new current version effective from runDate
    val cur2 = dim1.filter($"key" === 2 && $"is_current").collect().head
    cur2.getAs[String]("segment") shouldBe "Z"
    cur2.getAs[java.sql.Date]("effective_from").toString shouldBe "2024-06-01"
    // brand-new key gets the open range
    dim1.filter($"key" === 3 && $"is_current").count() shouldBe 1
  }

  test("merge invariants: at most one current row, no overlapping ranges") {
    val dim0 = Scd2.initialLoad(snap((1, "a", "X"), (2, "b", "Y")), tracked)
    val dim1 = Scd2.merge(dim0, snap((1, "a2", "X"), (2, "b", "Y")),
      Seq("key"), tracked, "2024-01-01")
    val dim2 = Scd2.merge(dim1, snap((1, "a3", "X"), (2, "b", "Y")),
      Seq("key"), tracked, "2024-02-01")

    // ≤ 1 current row per key (the filtered-unique-index invariant)
    dim2.filter($"is_current").groupBy("key").count()
      .filter($"count" > 1).count() shouldBe 0
    // ranges are contiguous: each non-current row's effective_to equals the
    // next version's effective_from
    val k1 = dim2.filter($"key" === 1).orderBy("effective_from")
      .select($"effective_from".cast("string"), $"effective_to".cast("string"))
      .as[(String, String)].collect()
    k1.sliding(2).foreach { case Array((_, to1), (from2, _)) =>
      to1 shouldBe from2
    }
  }

  test("same-snapshot re-run is a no-op (idempotent, unlike the reference)") {
    val s = snap((1, "a", "X"), (2, "b", "Y"))
    val dim0 = Scd2.initialLoad(s, tracked)
    val dim1 = Scd2.merge(dim0, s, Seq("key"), tracked, "2024-06-01")
    dim1.count() shouldBe 2
    dim1.filter(!$"is_current").count() shouldBe 0
  }

  test("keys absent from the snapshot are left untouched") {
    val dim0 = Scd2.initialLoad(snap((1, "a", "X"), (2, "b", "Y")), tracked)
    val dim1 = Scd2.merge(dim0, snap((1, "a", "X")), Seq("key"), tracked,
      "2024-06-01")
    dim1.filter($"key" === 2 && $"is_current").count() shouldBe 1
  }

  test("mergeKeyed: surviving versions keep surrogate keys, new versions " +
    "offset past max (reference MERGE never re-keys, SQLproject1.sql:485)") {
    val dim0 = Scd2.initialLoad(snap((1, "a", "X"), (2, "b", "Y")), tracked)
      .withColumn("sk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"key")).cast("long") + 100)
    val keys0 = dim0.select($"key", $"effective_from".cast("string").as("ef"),
      $"sk").as[(Int, String, Long)].collect().toSet

    val dim1 = Scd2.mergeKeyed(dim0,
      snap((1, "a", "X"), (2, "b", "Z"), (3, "c", "W")),
      Seq("key"), tracked, "2024-06-01", "sk")

    dim1.count() shouldBe 4
    // surviving version rows (kept key-1 + closed key-2) keep their keys
    val after = dim1.select($"key", $"effective_from".cast("string").as("ef"),
      $"sk").as[(Int, String, Long)].collect()
    keys0.foreach(k => after should contain(k))
    // new rows (key-2's new version, brand-new key-3) offset past max(sk)
    val maxPrior = keys0.map(_._3).max
    val freshKeys = after.toSet -- keys0
    freshKeys.size shouldBe 2
    freshKeys.foreach(_._3 should be > maxPrior)
    // surrogate keys stay unique across the whole dim
    dim1.select("sk").distinct().count() shouldBe 4
    // and the merge semantics are untouched: closed + new current for key 2
    dim1.filter($"key" === 2 && !$"is_current").count() shouldBe 1
    dim1.filter($"key" === 2 && $"is_current").select("segment")
      .as[String].head() shouldBe "Z"
  }

  test("mergeKeyed: two changes under the SAME runDate still yield unique " +
    "keys (version identity includes hash_diff, not just effective_from)") {
    val dim0 = Scd2.initialLoad(snap((1, "a", "X")), tracked)
      .withColumn("sk", lit(100L))
    val dim1 = Scd2.mergeKeyed(dim0, snap((1, "a", "Y")), Seq("key"),
      tracked, "2024-06-01", "sk")
    // second change, same day: closes the version that OPENED at 06-01
    val dim2 = Scd2.mergeKeyed(dim1, snap((1, "a", "Z")), Seq("key"),
      tracked, "2024-06-01", "sk")
    dim2.count() shouldBe 3
    dim2.select("sk").distinct().count() shouldBe 3
    // exactly one current row, carrying the newest value and a fresh key
    val cur = dim2.filter($"is_current").collect()
    cur.length shouldBe 1
    cur.head.getAs[String]("segment") shouldBe "Z"
    cur.head.getAs[Long]("sk") should be > 101L
  }

  test("mergeKeyed no-op merge preserves every key (idempotent re-run)") {
    val s = snap((1, "a", "X"), (2, "b", "Y"))
    val dim0 = Scd2.initialLoad(s, tracked)
      .withColumn("sk", $"key".cast("long") * 7)
    val dim1 = Scd2.mergeKeyed(dim0, s, Seq("key"), tracked, "2024-06-01", "sk")
    dim1.count() shouldBe 2
    dim1.except(dim0.select(dim1.columns.toIndexedSeq.map(col): _*))
      .count() shouldBe 0
  }

  test("mergeKeyed plans ONE classifier join, current slice x snapshot, " +
    "besides the one-row max-key cross join") {
    // range-derived inputs, so the optimizer cannot fold the current-slice
    // filter into a local relation; the two ranges tell the sides apart
    val dim = spark.range(0, 4).select($"id".cast("int").as("key"),
        lit("a").as("name"), lit("X").as("segment"))
      .transform(Scd2.initialLoad(_, tracked))
      .withColumn("is_current", $"key" =!= 1)
      .withColumn("sk", $"key".cast("long"))
    val snapshot = spark.range(2, 7).select($"id".cast("int").as("key"),
      lit("a").as("name"), lit("Y").as("segment"))
    val plan = Scd2.mergeKeyed(dim, snapshot, Seq("key"), tracked,
      "2024-06-01", "sk").queryExecution.optimizedPlan

    val (maxKey, classifier) = plan.collect { case j: Join => j }
      .partition(j => j.right.maxRows.contains(1L))
    maxKey should have size 1
    classifier should have size 1
    val join = classifier.head
    join.joinType shouldBe FullOuter
    def range(p: LogicalPlan) = p.collectLeaves().collect {
      case r: Range => (r.start, r.end)
    }
    range(join.left) shouldBe Seq((0L, 4L))
    join.left.exists(_.isInstanceOf[Filter]) shouldBe true // current slice
    range(join.right) shouldBe Seq((2L, 7L))
  }
}
