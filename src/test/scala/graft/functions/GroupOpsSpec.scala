package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TransliterateFn.transliterate

class GroupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("hIndex window formulation equals reference binary-search semantics (randomized)") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val groups = (0 until 5).map { g =>
        g -> List.fill(1 + rnd.nextInt(30))(rnd.nextInt(40))
      }
      val rows = groups.flatMap { case (g, cs) => cs.map(c => (g, c)) }
      val got = GroupOps.hIndex(rows.toDF("g", "cites"), "g", "cites")
        .as[(Int, Int)].collect().toMap
      val want = groups.map { case (g, cs) => g -> GroupOps.hIndexExact(cs) }.toMap
      assert(got == want)
    }
  }

  test("HIndexAggregator UDAF equals the window formulation and the exact reference") {
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { _ =>
      val groups = (0 until 4).map { g =>
        g -> List.fill(1 + rnd.nextInt(25))(rnd.nextInt(50))
      }
      val rows = groups.flatMap { case (g, cs) => cs.map(c => (g, c)) }
      val df = rows.toDF("g", "cites")
      val viaAgg = df.groupBy("g").agg(HIndexAggregator(col("cites")).as("h"))
        .as[(Int, Int)].collect().toMap
      val want = groups.map { case (g, cs) => g -> GroupOps.hIndexExact(cs) }.toMap
      assert(viaAgg == want)
    }
  }

  test("argmaxPerGroup equals the theta-join + IS NULL formulation and keeps ties") {
    val df = Seq(
      ("a", 1, 10), ("a", 2, 30), ("a", 3, 30),
      ("b", 4, 5), ("c", 5, 7)).toDF("g", "id", "m")
    val got = GroupOps.argmaxPerGroup(df, Seq("g"), col("m"))
      .select("id").as[Int].collect().toSet
    // theta-join reference shape: rows with no strictly-greater peer
    val l = df.as("l")
    val r = df.as("r")
    val want = l.join(r,
        col("l.g") === col("r.g") && col("l.m") < col("r.m"), "left")
      .filter(col("r.id").isNull)
      .select(col("l.id")).as[Int].collect().toSet
    assert(got == want && got == Set(2, 3, 4, 5))
  }

  test("modePostgres breaks count ties by smallest value") {
    val df = Seq(("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c"))
      .toDF("g", "v")
    val got = GroupOps.modePostgres(df, Seq("g"), "v").select("mode").as[String].head()
    assert(got == "a")
  }

  test("pandasAvgRankDesc matches pandas average-rank truncation") {
    // values 30,20,20,10 → pandas avg ranks desc: 1, 2.5, 2.5, 4 → int: 1,2,2,4
    val df = Seq((1, 30), (2, 20), (3, 20), (4, 10)).toDF("id", "m")
    val got = GroupOps.pandasAvgRankDesc(df, "m", "r")
      .select("id", "r").as[(Int, Int)].collect().toMap
    assert(got == Map(1 -> 1, 2 -> 2, 3 -> 2, 4 -> 4))
  }

  test("pandasAvgRanksDesc equals chained single-metric calls, with ties and NULLs") {
    val rnd = new scala.util.Random(11)
    def opt[A](a: => A): Option[A] = if (rnd.nextInt(6) == 0) None else Some(a)
    val df = (1 to 200).map { id =>
      (id, opt(rnd.nextInt(8)), opt(rnd.nextInt(30).toLong), opt(rnd.nextInt(5) / 2.0),
        opt(rnd.nextInt(3)))
    }.toDF("id", "a", "b", "c", "d")
    val pairs = Seq("a" -> "ra", "b" -> "rb", "c" -> "rc", "d" -> "rd")
    val chained = pairs.foldLeft(df) { case (acc, (m, out)) =>
      GroupOps.pandasAvgRankDesc(acc, m, out) }
    val once = GroupOps.pandasAvgRanksDesc(df, pairs)
    assert(once.columns.toSeq == chained.columns.toSeq)
    val want = chained.orderBy("id").collect().toSeq
    assert(once.orderBy("id").collect().toSeq == want)
    // the fixture has ties and NULLs in every metric
    pairs.foreach { case (m, _) =>
      assert(df.filter(col(m).isNull).count() > 0)
      assert(df.groupBy(m).count().filter(col("count") > 1).count() > 0)
    }
  }

  test("topPercent rounds the computed limit like Postgres") {
    // 29 rows at 10% → round(2.9) = 3
    val df = (1 to 29).map(i => (i, i * 1.0)).toDF("id", "m")
    assert(GroupOps.topPercent(df, 10.0, Seq(col("m").desc)).count() == 3)
  }

  test("transliterate folds Latin diacritics like unidecode") {
    val cases = Seq(
      "Šrámek" -> "Sramek", "Møller" -> "Moller", "Gödel" -> "Godel",
      "Łukasz" -> "Lukasz", "Ølgaard" -> "Olgaard", "Strauß" -> "Strauss",
      "Ðorđe" -> "Dorde", "Cæsar" -> "Caesar", "plain" -> "plain")
    val got = cases.map(_._1).toDF("s")
      .select(transliterate(col("s"))).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("transliterate survives codegen with nulls") {
    val got = Seq(Some("Ö"), None).toDF("s")
      .select(transliterate(col("s"))).as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("O"), None))
  }
}
