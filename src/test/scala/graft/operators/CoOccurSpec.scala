package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}

class CoOccurSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    // key "hot" is held by 5 items → 10 pairs if unbounded
    ("hot", 1), ("hot", 2), ("hot", 3), ("hot", 4), ("hot", 5),
    ("k1", 1), ("k1", 2), ("k1", 3),
    ("k2", 2), ("k2", 3),
    ("k2", 2) // duplicate input row — must not double-count
  ).toDF("k", "item")

  test("pairs: distinct input, ordered pairs, shared-key counts") {
    val got = CoOccur.pairs(df, "k", "item")
      .as[(Int, Int, Long)].collect().toSet
    // k1 pairs: (1,2)(1,3)(2,3); k2 pairs: (2,3); hot: all 10
    assert(got.contains((2, 3, 3L))) // hot + k1 + k2
    assert(got.contains((1, 2, 2L))) // hot + k1
    assert(got.contains((4, 5, 1L))) // hot only
    assert(got.size == 10)
  }

  test("hot-key bound drops pathological keys; others unchanged") {
    val got = CoOccur.pairs(df, "k", "item", maxItemsPerKey = 4)
      .as[(Int, Int, Long)].collect().toSet
    assert(got == Set((1, 2, 1L), (1, 3, 1L), (2, 3, 2L)),
      s"expected only k1/k2 pairs, got $got")
  }

  test("minShared filters pair counts after the bound") {
    val got = CoOccur.pairs(df, "k", "item", minShared = 2, maxItemsPerKey = 4)
      .as[(Int, Int, Long)].collect().toSet
    assert(got == Set((2, 3, 2L)))
  }

  /** Random (k, id, p) frames: few keys so buckets repeat, ids drawn
    * from a small range so a bucket can hold the same id twice, and
    * about one row in six with a null key. */
  private val frames: Gen[Seq[(Option[Int], Int, Long)]] = Gen.choose(0, 24).flatMap(n =>
    Gen.listOfN(n, for {
      k <- Gen.frequency(5 -> Gen.choose(0, 4).map(Option(_)), 1 -> Gen.const(None))
      id <- Gen.choose(0, 9)
      p <- Gen.choose(-1000L, 1000L)
    } yield (k, id, p)))

  /** The in-memory model of dropHotKeys, then dropSingletonKeys, then
    * bucketPairs: every ordered row pair sharing a non-null key with
    * id_a < id_b, once per such row pair. */
  private def modelPairs(rows: Seq[(Option[Int], Int, Long)], cap: Long,
      prune: Boolean): Seq[(Int, Int, Int, Long, Long)] = {
    def held(rs: Seq[(Option[Int], Int, Long)]) = rs.groupBy(_._1).map { case (k, g) => k -> g.size }
    val capped =
      if (cap <= 0) rows
      else { val n = held(rows); rows.filter(r => r._1.isEmpty || n(r._1) <= cap) }
    val kept =
      if (!prune) capped
      else { val n = held(capped); capped.filter(r => r._1.nonEmpty && n(r._1) >= 2) }
    for {
      (a, i) <- kept.zipWithIndex
      (b, j) <- kept.zipWithIndex
      if i != j && a._1.nonEmpty && a._1 == b._1 && a._2 < b._2
    } yield (a._1.get, a._2, b._2, a._3, b._3)
  }

  test("bucketPairs after the cap and the prune equals the in-memory same-key pair enumeration") {
    val prop = Prop.forAllNoShrink(frames) { rows =>
      val df = rows.toDF("k", "id", "p")
      val results = for (cap <- Seq(0L, 1L, 2L, 5L); prune <- Seq(false, true);
          salt <- Seq(1, 2, 16)) yield {
        val capped = CoOccur.dropHotKeys(df, Seq("k"), cap)
        val in = if (prune) CoOccur.dropSingletonKeys(capped, Seq("k")) else capped
        val out = CoOccur.bucketPairs(in, Seq("k"), "id", Seq("p"), salt)
        assert(out.columns.toSeq == Seq("k", "id_a", "id_b", "p_a", "p_b"))
        val got = out.as[(Int, Int, Int, Long, Long)].collect().toSeq.sorted
        val want = modelPairs(rows, cap, prune).sorted
        Prop(got == want) :| s"cap=$cap prune=$prune salt=$salt rows=$rows"
      }
      Prop.all(results: _*)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("q21's cap=64 is inert on the fixture (capped == uncapped)") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_partkey", "l_suppkey")
    val capped = CoOccur.pairs(li, "l_partkey", "l_suppkey",
      minShared = 2, maxItemsPerKey = 64)
      .as[(Long, Long, Long)].collect().toSet
    val uncapped = CoOccur.pairs(li, "l_partkey", "l_suppkey", minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == uncapped && capped.nonEmpty)
  }
}
