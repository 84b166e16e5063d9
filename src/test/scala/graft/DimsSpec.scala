package graft

import org.apache.spark.sql.functions._

import graft.operators.Dims

class DimsSpec extends SparkSpec {
  import spark.implicits._

  test("buildDim: dense deterministic surrogate keys over distinct keys") {
    val src = Seq("b", "a", "b", "c").toDF("nk")
    val dim = Dims.buildDim(src, Seq("nk"), "k")
    dim.orderBy("k").select("nk", "k").as[(String, Long)].collect().toSeq shouldBe
      Seq(("a", 1L), ("b", 2L), ("c", 3L))
  }

  test("insertOnlyMerge: existing keys stable, new keys appended past max") {
    val existing = Dims.buildDim(Seq("a", "b").toDF("nk"), Seq("nk"), "k")
    val merged = Dims.insertOnlyMerge(existing,
      Seq("b", "c", "d").toDF("nk"), Seq("nk"), "k")
    merged.orderBy("k").select("nk", "k").as[(String, Long)].collect().toSeq shouldBe
      Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L))
  }

  test("insertOnlyMerge is idempotent when nothing is new") {
    val existing = Dims.buildDim(Seq("a", "b").toDF("nk"), Seq("nk"), "k")
    val merged = Dims.insertOnlyMerge(existing, Seq("a", "b").toDF("nk"),
      Seq("nk"), "k")
    merged.count() shouldBe 2
  }

  test("insertOnlyMerge is idempotent for natural keys containing NULL") {
    // a plain anti-join never matches NULL keys, so a nullable-key dim row
    // (e.g. geography with empty postal code) would gain a fresh surrogate
    // key on every run; the null-safe join must keep it stable
    val incoming = Seq(("x", Some("1")), ("y", None), ("y", None))
      .toDF("city", "postal")
    val existing = Dims.buildDim(incoming, Seq("city", "postal"), "k")
      .localCheckpoint()
    val run2 = Dims.insertOnlyMerge(existing, incoming,
      Seq("city", "postal"), "k")
    run2.count() shouldBe 2
    run2.except(existing).count() shouldBe 0
  }

  test("dotted natural-key column names work end-to-end (quoted, not " +
    "parsed as struct-field paths)") {
    // "addr.city" is a legal flat column name; unquoted col() would try
    // to resolve it as struct field `city` inside column `addr` and throw
    val incoming = Seq(("x", "1"), ("y", "2"))
      .toDF("addr.city", "geo.postal")
    val dim = Dims.buildDim(incoming, Seq("addr.city", "geo.postal"), "k")
    dim.count() shouldBe 2
    val existing = dim.localCheckpoint()
    val withNew = Seq(("x", "1"), ("z", "3")).toDF("addr.city", "geo.postal")
    val run2 = Dims.insertOnlyMerge(existing, withNew,
      Seq("addr.city", "geo.postal"), "k")
    run2.count() shouldBe 3
    run2.except(existing).count() shouldBe 1 // only z is new
  }
}
