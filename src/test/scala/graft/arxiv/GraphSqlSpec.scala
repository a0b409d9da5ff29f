package graft.arxiv

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** SQL-surface twin test for the graph queries: the Cypher-parity SQL
  * over `vertices`/`edges` views must return the same rows as the
  * [[GraphMirror]] DataFrame builders, on a corpus big enough that
  * 2-hop patterns, ties, and the withEgo=false inner-match semantics
  * are all non-trivial. Completes the ArxivSqlSpec pattern (Q1-Q4)
  * for G2-G5. */
class GraphSqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables: ArxivTables = {
    val rnd = new scala.util.Random(23)
    val nAuthors = 40
    val journal = (1 to 4).map(j => (s"issn-$j", s"Journal $j", j * 0.25))
      .toDF("journal_issn", "journal_title", "snip_latest")
    val article = (1 to 120).map { a =>
      // every third article has no journal (NULL issn — no PUBLISHED_IN edge)
      val issn = if (a % 3 == 0) null else s"issn-${1 + rnd.nextInt(4)}"
      (s"art$a", s"Title $a, with a comma", s"10.1/$a", 1 + rnd.nextInt(4),
        issn, "journal-article", rnd.nextInt(150), 2016 + rnd.nextInt(6))
    }.toDF("article_id", "title", "doi", "n_authors", "journal_issn",
      "type", "n_cites", "year")
    val pairs = (1 to 120).flatMap { a =>
      val k = 1 + rnd.nextInt(3) // solo articles exist -> withEgo=false drops them
      rnd.shuffle((1 to nAuthors).toList).take(k).map(u => (s"art$a", s"author$u"))
    }
    // Two authors of one article whose synthesized ids collide: repeat a
    // coauthor's row on one of the ego's (see `ego`) coauthored articles.
    // The AUTHORED edges are distinct, so the G3 builders must be too.
    val egoId = pairs.groupBy(_._2).toSeq.map { case (u, ps) => (-ps.size, u) }.min._2
    val shared = pairs.collect { case (a, `egoId`) => a }
      .find(a => pairs.count(_._1 == a) > 1).get
    val repeated = pairs.find(p => p._1 == shared && p._2 != egoId).get
    val authorship = (pairs :+ repeated).toDF("article_id", "author_id")
    val author = (1 to nAuthors).map(u => (s"author$u", s"Last$u"))
      .toDF("author_id", "last_name")
    val category = Seq(
      ("cs.LG", "CS", "LG"), ("cs.AI", "CS", "AI"), ("math.ST", "Math", "ST"))
      .toDF("category_id", "superdom", "subdom")
    val articleCategory = (1 to 120).map { a =>
      (s"art$a", Seq("cs.LG", "cs.AI", "math.ST")(rnd.nextInt(3)))
    }.toDF("article_id", "category_id")
    ArxivTables(article, author, authorship, articleCategory, category, journal)
  }

  private lazy val ego: String = {
    // pick an author with >=2 articles incl. at least one coauthored
    registerAll()
    spark.sql(
      """SELECT src FROM edges WHERE label = 'AUTHORED'
        |GROUP BY src ORDER BY count(*) DESC, src LIMIT 1""".stripMargin)
      .as[String].head()
  }

  private def registerAll(): Unit = {
    tables.article.createOrReplaceTempView("article")
    tables.journal.createOrReplaceTempView("journal")
    tables.category.createOrReplaceTempView("category")
    GraphSql.registerGraphViews(
      GraphMirror.vertices(tables), GraphMirror.edges(tables))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\u0001"))

  test("G2 ego-network SQL matches the DataFrame builder") {
    registerAll()
    val sql = rows(spark.sql(GraphSql.g2EgoNetwork(ego))).sorted
    val df = rows(GraphMirror.egoNetwork(GraphMirror.edges(tables), ego)).sorted
    assert(sql == df && sql.nonEmpty)
  }

  test("G3 per-article SQL matches, with and without the ego") {
    registerAll()
    val withEgoSql = rows(spark.sql(GraphSql.g3EgoArticleCoauthors(ego)))
    val withEgoDf = rows(GraphMirror.egoArticleCoauthors(tables, ego))
    assert(withEgoSql == withEgoDf && withEgoSql.nonEmpty)

    val noEgoSql = rows(spark.sql(GraphSql.g3EgoArticleCoauthors(ego, withEgo = false)))
    val noEgoDf = rows(GraphMirror.egoArticleCoauthors(tables, ego, withEgo = false))
    assert(noEgoSql == noEgoDf)
    assert(noEgoSql.size < withEgoSql.size,
      "fixture must contain a solo-authored ego article that vanishes")
  }

  test("G3 per-coauthor SQL matches the builder incl. struct collects") {
    registerAll()
    val sql = rows(spark.sql(GraphSql.g3EgoCoauthorArticles(ego)))
    val df = rows(GraphMirror.egoCoauthorArticles(tables, ego))
    assert(sql == df && sql.nonEmpty)
  }

  test("G4 journal-lookup SQL matches the builder") {
    registerAll()
    import org.apache.spark.sql.functions.col
    // the builder's USING-semi-join fronts the join key; realign to the
    // article column order before comparing
    val cols = tables.article.columns.map(col).toSeq
    val sql = rows(spark.sql(GraphSql.g4ArticlesInJournal("Journal 2")).select(cols: _*)).sorted
    val df = rows(GraphMirror.articlesInJournal(tables, "Journal 2").select(cols: _*)).sorted
    assert(sql == df && sql.nonEmpty)
  }

  test("G5 subdomain+cites SQL matches the builder") {
    registerAll()
    val sql = rows(spark.sql(GraphSql.g5ArticlesInSubdomain("LG", 40))).sorted
    val df = rows(GraphMirror.articlesInSubdomain(tables, "LG", 40)).sorted
    assert(sql == df && sql.nonEmpty)
    // the cites filter actually bites
    assert(sql.size < rows(GraphMirror.articlesInSubdomain(tables, "LG", -1)).size)
  }

  test("string arguments are escaped, not spliced — and still MATCH") {
    registerAll()
    // count()==0 alone can't distinguish correct escaping from mangled
    // escaping (Spark concatenates adjacent string literals, so ANSI ''
    // doubling silently searches for the wrong title): register journals
    // whose titles contain quotes and backslashes and assert the lookup
    // FINDS them.
    val tricky = Seq(
      ("issn-q", "O'Brien's Journal", 1.0),
      ("issn-b", """Back\slash 'mix""", 1.0))
      .toDF("journal_issn", "journal_title", "snip_latest")
    tables.journal.union(tricky).createOrReplaceTempView("journal")
    val art = Seq(
      ("artQ", "T", "10.1/q", 1, "issn-q", "journal-article", 5, 2020),
      ("artB", "T", "10.1/b", 1, "issn-b", "journal-article", 5, 2020))
      .toDF("article_id", "title", "doi", "n_authors", "journal_issn",
        "type", "n_cites", "year")
    tables.article.union(art).createOrReplaceTempView("article")
    GraphSql.registerGraphViews(
      GraphMirror.vertices(tables),
      GraphMirror.edges(tables.copy(
        article = tables.article.union(art),
        journal = tables.journal.union(tricky))))
    val q = spark.sql(GraphSql.g4ArticlesInJournal("O'Brien's Journal"))
      .select("article_id").as[String].collect().toSeq
    assert(q == Seq("artQ"), s"quote-bearing title resolves: $q")
    val b = spark.sql(GraphSql.g4ArticlesInJournal("""Back\slash 'mix"""))
      .select("article_id").as[String].collect().toSeq
    assert(b == Seq("artB"), s"backslash+quote title resolves: $b")
    // and a missing tricky title parses cleanly and matches nothing
    assert(spark.sql(GraphSql.g4ArticlesInJournal("""no\such' journal""")).count() == 0)
  }
}
