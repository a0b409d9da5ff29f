package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  test("bloom semi-join equals the plain semi-join, nulls and dups included") {
    val rnd = new scala.util.Random(11)
    val big = (0 until 2000).map(_ => if (rnd.nextInt(50) == 0) None else Some(rnd.nextInt(500).toLong))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("row_id", "k")
    // small side: a sparse key subset, with duplicates and a null
    val small = (Seq.fill(3)(7L) ++ Seq(13L, 99L, 250L, 499L)).map(Option(_))
      .appended(None).toDF("sk")
    val got = BloomPrune.semiJoin(big, small, "k", "sk")
      .orderBy("row_id").collect().toSeq
    val want = big.join(small.select(col("sk").as("k")).distinct(), Seq("k"), "left_semi")
      .orderBy("row_id").collect().toSeq
    assert(got.map(_.getLong(0)) == want.map(_.getLong(0)))
    assert(got.nonEmpty)
  }

  test("bloom prefilter prunes most non-matching rows before the join") {
    val big = (0L until 10000L).toDF("k")
    val small = Seq(1L, 2L, 3L).toDF("sk")
    val bytes = BloomPrune.keyFilterBytes(small, "sk", expectedItems = 1000L, fpp = 0.01).get
    val survivors = big.filter(BloomPrune.mightContain(bytes, col("k"))).count()
    // 3 true matches + ~1% fp of 9997; allow generous slack
    assert(survivors >= 3 && survivors <= 3 + 500, s"survivors=$survivors")
    // and the final exact join removes every false positive
    assert(BloomPrune.semiJoin(big, small, "k", "sk")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("empty or all-null small side matches nothing") {
    val big = (0L until 10L).toDF("k")
    assert(BloomPrune.semiJoin(big, Seq.empty[Long].toDF("sk"), "k", "sk").count() == 0L)
    assert(BloomPrune.semiJoin(big, Seq[Option[Long]](None, None).toDF("sk"), "k", "sk").count() == 0L)
    // null keys on the big side never match
    val bigWithNull = Seq(Some(1L), None).toDF("k")
    assert(BloomPrune.semiJoin(bigWithNull, Seq(1L).toDF("sk"), "k", "sk")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("string keys work through the same xxhash64 path") {
    val big = Seq("a", "b", "c", "d").toDF("k")
    val small = Seq("b", "d", "zz").toDF("sk")
    assert(BloomPrune.semiJoin(big, small, "k", "sk")
      .as[String].collect().toSet == Set("b", "d"))
  }
}
