package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.{Clusters, Corpus, Dedup, NearDup, Scd2, Windows}

/** Property-based invariants (SURVEY §5.2.4), plain ScalaCheck `Properties`
  * (runs under sbt's native ScalaCheck framework; no scalatestplus bridge in
  * the offline cache). Few rounds — each property round-trips through Spark. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxSize(30)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Int, Int, Int)]] =
    Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 5)
      pref <- Gen.choose(0, 100)
      v <- Gen.choose(0, 1000)
    } yield (k, pref, v))

  property("dedup keeps exactly one row per key, the max-preference one") =
    Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "pref", "v")
      val out = Dedup.keepFirst(df, Seq("k"),
        Seq(col("pref").desc, col("v").desc)).collect()
      val expected = rows.groupBy(_._1).map { case (k, g) => k -> g.max }
      out.length == expected.size && out.forall { r =>
        (r.getInt(0), r.getInt(1), r.getInt(2)) == expected(r.getInt(0))
      }
    }

  // grouped top-k: random rows, random k, every final-pass mode — the
  // custom physical operator must equal a driver-side brute force under
  // a TOTAL order (value desc, unique id asc)
  private val topkGen: Gen[(List[(Int, Int)], Int)] = for {
    rows <- Gen.nonEmptyListOf(for {
      g <- Gen.choose(0, 6)
      v <- Gen.choose(-50, 50)
    } yield (g, v))
    k <- Gen.choose(1, 5)
  } yield (rows, k)

  private def bruteTopK(rows: List[(Int, Int, Long)], k: Int) =
    rows.groupBy(_._1).flatMap { case (_, g) =>
      g.sortBy(r => (-r._2, r._3)).take(k)
    }.toSet

  property("GroupedTopK == brute force (hash final)") =
    Prop.forAll(topkGen) { case (raw, k) =>
      val rows = raw.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      val out = graft.operators.TopK.perGroup(rows.toDF("g", "v", "id"),
          Seq(col("g")), Seq(col("v").desc, col("id")), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      out == bruteTopK(rows, k)
    }

  property("GroupedTopK == brute force (sort final + flush cap 1)") =
    Prop.forAll(topkGen) { case (raw, k) =>
      val rows = raw.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      spark.conf.set(graft.plans.GroupedTopKExec.SortFinalConf, "true")
      spark.conf.set(graft.plans.GroupedTopKExec.MaxGroupsConf, "1")
      try {
        val out = graft.operators.TopK.perGroup(rows.toDF("g", "v", "id"),
            Seq(col("g")), Seq(col("v").desc, col("id")), k)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
        out == bruteTopK(rows, k)
      } finally {
        spark.conf.unset(graft.plans.GroupedTopKExec.SortFinalConf)
        spark.conf.unset(graft.plans.GroupedTopKExec.MaxGroupsConf)
      }
    }

  property("rolling ROWS sum equals brute-force recomputation") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-100, 100))) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v.toLong) }
        .toDF("g", "seq", "v")
      val out = Windows.rollingSum(df, Seq(col("g")), Seq(col("seq")),
          col("v"), 7, "roll")
        .orderBy("seq").select("roll").as[Long].collect().toSeq
      val brute = vs.indices.map(i => vs.slice((i - 6).max(0), i + 1).map(_.toLong).sum)
      out == brute
    }

  // the NULL key stands for a blank part of a natural key (staging turns a
  // blank Category into NULL): it must match its own current row
  private val snapGen: Gen[List[(Option[Int], String)]] = Gen.listOf(for {
    k <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(0, 8).map(Some(_)))
    attr <- Gen.oneOf("A", "B", "C")
  } yield (k, attr)).map(_.distinctBy(_._1))

  property("SCD2 invariants hold across a random merge chain") =
    Prop.forAll(snapGen.suchThat(_.nonEmpty), snapGen, snapGen) { (s0, s1, s2) =>
      val tracked = Seq("attr")
      val d0 = Scd2.initialLoad(s0.toDF("key", "attr"), tracked)
      val d1 = Scd2.merge(d0, s1.toDF("key", "attr"), Seq("key"), tracked,
        "2024-01-01")
      val d2 = Scd2.merge(d1, s2.toDF("key", "attr"), Seq("key"), tracked,
        "2024-02-01")

      val atMostOneCurrent = d2.filter(col("is_current")).groupBy("key").count()
        .filter(col("count") > 1).count() == 0
      val seen = (s0 ++ s1 ++ s2).map(_._1).toSet
      val everyKeyCurrent = d2.filter(col("is_current"))
        .select("key").as[Option[Int]].collect().toSet == seen
      val noOpenHistory = d2.filter(!col("is_current") &&
        col("effective_to") === to_date(lit(Scd2.OpenEnd))).count() == 0

      atMostOneCurrent && everyKeyCurrent && noOpenHistory
    }

  private val tokCountsGen: Gen[List[Int]] =
    Gen.nonEmptyListOf(Gen.choose(1, 200))

  property("packSequences conserves tokens and packs contiguously") =
    Prop.forAll(tokCountsGen) { ns =>
      val docs = ns.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("id", "n")
      val out = Corpus.packSequences(docs, "id", shard = lit(0),
          tokenCount = col("n"), budget = 100)
        .orderBy("doc_id")
        .select("n_tok", "start_offset", "bin", "bin_offset")
        .as[(Long, Long, Long, Long)].collect().toList
      // conservation: offsets are the exclusive prefix sums of token counts
      val prefix = ns.map(_.toLong).scanLeft(0L)(_ + _).init
      val offsetsOk = out.map(_._2) == prefix
      // bin/bin_offset are exactly start div/mod budget
      val binsOk = out.forall { case (_, s, b, o) => b == s / 100 && o == s % 100 }
      offsetsOk && binsOk
    }

  private val edgesGen: Gen[List[(Long, Long)]] = Gen.listOf(for {
    a <- Gen.choose(0L, 15L)
    b <- Gen.choose(0L, 15L) if a != b
  } yield (a, b))

  property("connectedComponents matches a driver-side union-find") =
    Prop.forAll(edgesGen) { edges =>
      val verts = (0L to 15L).toList
      val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
      def find(v: Long): Long =
        if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val expected = verts.groupBy(find).flatMap { case (_, vs) =>
        val m = vs.min; vs.map(_ -> m)
      }
      val got = Clusters.connectedComponents(verts.toDF("id"), "id",
          edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      got == expected
    }

  // random docs over a small vocabulary — dense similarity, the prefix
  // filter's hardest regime
  private val docsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 12)
    docs <- Gen.listOfN(n, Gen.nonEmptyListOf(
      Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("prefixFilterJoin equals brute-force all-pairs Jaccard") =
    Prop.forAll(docsGen, Gen.oneOf(0.3, 0.5, 0.75, 0.9)) { (docs, tau) =>
      val sets = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSet
      }.filter(_._2.nonEmpty)
      val expected = (for {
        (ai, as) <- sets; (bi, bs) <- sets if ai < bi
        inter = (as intersect bs).size
        j = inter.toDouble / (as.size + bs.size - inter)
        if j >= tau
      } yield (ai, bi)).toSet
      val got = NearDup.prefixFilterJoin(docs.toDF("id", "text"),
          "id", "text", tau)
        .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
      got == expected
    }

  property("temperatureMix quotas always sum exactly to the budget") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(1, 40)),
      Gen.choose(0L, 500L)) { (sizes, budget) =>
      val docs = sizes.zipWithIndex.flatMap { case (n, s) =>
        (1 to n).map(i => (s.toLong * 1000 + i, s"src$s"))
      }.toDF("id", "source")
      val quotas = Corpus.temperatureMix(docs, "source", alpha = 2,
          budget = budget)
        .select(col("quota")).as[Long].collect()
      quotas.sum == budget && quotas.forall(_ >= 0)
    }

  property("gapsAndIslands partitions each key's distinct days exactly") =
    Prop.forAll(Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 3)
      day <- Gen.choose(0, 25)
    } yield (k, day))) { rows =>
      val df = rows.map { case (k, d) =>
        (k.toLong, java.sql.Date.valueOf(f"2024-01-${d % 28 + 1}%02d"))
      }.toDF("k", "d")
      val islands = Windows.gapsAndIslands(df, "k", "d")
        .select(col("k"), col("streak_start").cast("string"),
          col("streak_end").cast("string"), col("n_days"))
        .as[(Long, String, String, Long)].collect()
      val byKey = rows.map { case (k, d) => (k.toLong, d % 28 + 1) }
        .distinct.groupBy(_._1)
      // island day-counts per key sum to the key's distinct days, and
      // every island's span length equals its day count (consecutive)
      byKey.forall { case (k, ds) =>
        val mine = islands.filter(_._1 == k)
        mine.map(_._4).sum == ds.size &&
        mine.forall { case (_, s, e, n) =>
          java.time.temporal.ChronoUnit.DAYS.between(
            java.time.LocalDate.parse(s), java.time.LocalDate.parse(e)) + 1 == n
        }
      }
    }
}
