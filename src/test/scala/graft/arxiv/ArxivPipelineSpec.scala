package graft.arxiv

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end parity test on a hand-built micro-corpus that exercises every
  * reference edge case: diacritic names, dup article ids, null DOI,
  * physics exclusion, short titles, short author ids, missing enrichment. */
class ArxivPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("arxiv-spec").toString

  private lazy val jsonl: String = {
    val lines = Seq(
      // two articles by Šrámek+Møller (cs), one with second author only
      """{"id":"a1","title":"Deep learning for graphs","doi":"10.1/a1","categories":"cs.LG cs.AI","update_date":"2019-05-01","authors_parsed":[["Šrámek","Jan",""],["Møller","Anna",""]]}""",
      """{"id":"a2","title":"Databases at scale!!","doi":"10.1/a2","categories":"cs.DB","update_date":"2020-01-02","authors_parsed":[["Šrámek","Jan",""]]}""",
      // duplicate id — dropped
      """{"id":"a2","title":"Databases at scale!!","doi":"10.1/a2","categories":"cs.DB","update_date":"2020-01-02","authors_parsed":[["Šrámek","Jan",""]]}""",
      // null doi — dropped
      """{"id":"a3","title":"No doi article here","doi":null,"categories":"cs.LG","update_date":"2020-01-01","authors_parsed":[["Smith","John",""]]}""",
      // physics — dropped
      """{"id":"a4","title":"Physics of something","doi":"10.1/a4","categories":"physics.optics cs.LG","update_date":"2020-01-01","authors_parsed":[["Smith","John",""]]}""",
      // short title — dropped
      """{"id":"a5","title":"Tiny","doi":"10.1/a5","categories":"cs.LG","update_date":"2020-01-01","authors_parsed":[["Smith","John",""]]}""",
      // short author id (Xu + Y → XuY < 4 chars) — article dropped by consistency
      """{"id":"a6","title":"Short author name","doi":"10.1/a6","categories":"cs.CV","update_date":"2021-03-01","authors_parsed":[["Xu","Yi",""]]}""",
      // not enriched as journal-article — dropped in augment
      """{"id":"a7","title":"A preprint without type","doi":"10.1/a7","categories":"cs.LG","update_date":"2021-01-01","authors_parsed":[["Curie","Marie Anne-Sophie",""]]}""",
    )
    val p = s"$tmp/raw.jsonl"
    Files.write(java.nio.file.Paths.get(p),
      lines.mkString("\n").getBytes("UTF-8"))
    p
  }

  private lazy val crossref = Seq(
    ("10.1/a1", "journal-article", 30, "1111-1111"),
    ("10.1/a2", "journal-article", 10, "2222-2222"),
    ("10.1/a6", "journal-article", 5, "1111-1111"),
    // 10.1/a7 missing → type null → excluded
  ).toDF("doi", "type", "n_cites", "journal_issn")

  private lazy val cwts = Seq(
    ("Journal of Graphs", "1111-1111", 2.5),
    ("Data Engineering", "2222-2222", 1.25),
  ).toDF("source_title", "print_issn", "snip")

  private lazy val genders = Seq(
    ("Jan", "M"), ("Anna", "F")).toDF("first_name", "gender")

  private lazy val gold: ArxivTables = {
    val pipe = new ArxivPipeline(spark, s"$tmp/stages")
    pipe.run(jsonl, new Augment.FixtureEnricher(crossref), cwts, genders)
  }

  test("ingest filters drop null-doi, physics, short-title, dup-id rows") {
    val silver = Ingest.silver(Ingest.bronze(spark, jsonl))
    val ids = silver.article.select("article_id").as[String].collect().toSet
    assert(ids == Set("a1", "a2", "a7")) // a6 dropped by short-author consistency
  }

  test("author ids transliterate diacritics and strip punctuation") {
    val silver = Ingest.silver(Ingest.bronze(spark, jsonl))
    val ids = silver.author.select("author_id").as[String].collect().toSet
    assert(ids.contains("SramekJ") && ids.contains("MollerA"))
    assert(ids.contains("CurieM"))
    assert(!ids.exists(_.length < 4))
  }

  test("middle name keeps letters only (punctuation stripped, no translit)") {
    val silver = Ingest.silver(Ingest.bronze(spark, jsonl))
    val m = silver.author.filter(col("author_id") === "CurieM")
      .select("middle_name").as[String].head()
    assert(m == "AnneSophie")
  }

  test("gold article table keeps only enriched journal-articles") {
    val ids = gold.article.select("article_id").as[String].collect().toSet
    assert(ids == Set("a1", "a2"))
    val a1 = gold.article.filter(col("article_id") === "a1").head()
    assert(a1.getAs[Int]("n_cites") == 30)
    assert(a1.getAs[Int]("year") == 2019)
    assert(a1.getAs[Int]("n_authors") == 2)
  }

  test("journal table joins CWTS stats on print issn") {
    val j = gold.journal.orderBy("journal_issn")
      .as[(String, String, Double)].collect()
    assert(j.toSeq == Seq(
      ("1111-1111", "Journal of Graphs", 2.5),
      ("2222-2222", "Data Engineering", 1.25)))
  }

  test("author stats: pubs, cites, h-index, coauthors, gender, ranks") {
    val rows = gold.author.collect().map(r => r.getAs[String]("author_id") -> r).toMap
    assert(rows.keySet == Set("SramekJ", "MollerA"))
    val sramek = rows("SramekJ")
    assert(sramek.getAs[Int]("total_pubs") == 2)
    assert(sramek.getAs[Int]("total_cites") == 40)
    assert(sramek.getAs[Double]("avg_cites") == 20.0)
    assert(sramek.getAs[Int]("hindex") == 2) // cites 30,10 → h=2
    assert(sramek.getAs[Int]("n_unique_coauthors") == 1)
    assert(sramek.getAs[Double]("med_coauthors") == 0.5) // coauthor counts 1,0
    assert(sramek.getAs[String]("gender") == "M")
    assert(sramek.getAs[Int]("rank_total_pubs") == 1)
    val moller = rows("MollerA")
    assert(moller.getAs[Int]("hindex") == 1)
    assert(moller.getAs[Int]("rank_total_pubs") == 2)
  }

  test("pipeline stages are reused on second run (checkpoint semantics)") {
    val pipe = new ArxivPipeline(spark, s"$tmp/stages2")
    val t1 = pipe.run(jsonl, new Augment.FixtureEnricher(crossref), cwts, genders)
    val c1 = t1.article.count()
    // second run must read existing parquet, not recompute
    val t2 = pipe.run(jsonl, new Augment.FixtureEnricher(crossref.limit(0)), cwts, genders)
    assert(t2.article.count() == c1)
  }

  test("a stage directory without _SUCCESS (killed mid-write) is rebuilt, not read") {
    val dir = s"$tmp/stages-killed"
    val partial = s"$dir/silver_article.parquet"
    Ingest.silver(Ingest.bronze(spark, jsonl)).article.limit(1)
      .write.parquet(partial)
    Files.delete(java.nio.file.Paths.get(partial, "_SUCCESS"))
    val t = new ArxivPipeline(spark, dir)
      .run(jsonl, new Augment.FixtureEnricher(crossref), cwts, genders)
    assert(spark.read.parquet(partial).select("article_id").as[String].collect().toSet ==
      Set("a1", "a2", "a7"))
    assert(Files.exists(java.nio.file.Paths.get(partial, "_SUCCESS")))
    assert(t.article.select("article_id").as[String].collect().toSet == Set("a1", "a2"))
  }

  test("run leaves no persisted RDDs, on success and when the enricher throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def leaked = sc.getPersistentRDDs.keySet -- before
    new ArxivPipeline(spark, s"$tmp/stages-pins")
      .run(jsonl, new Augment.FixtureEnricher(crossref), cwts, genders)
    assert(leaked.isEmpty)
    val failing = new Augment.Enricher {
      def lookup(dois: org.apache.spark.sql.DataFrame) =
        throw new IllegalStateException("enrichment outage")
    }
    intercept[IllegalStateException] {
      new ArxivPipeline(spark, s"$tmp/stages-pins-fail").run(jsonl, failing, cwts, genders)
    }
    assert(new java.io.File(s"$tmp/stages-pins-fail/silver_category.parquet/_SUCCESS").isFile,
      "the enricher must fail after the silver stages ran")
    assert(leaked.isEmpty)
  }

  test("author ranks add at most one copy of the unranked frame per rank") {
    val g = gold
    val author0 = spark.read.parquet(s"$tmp/stages/silver_author.parquet")
    def leaves(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().size
    val unranked = Augment.authorStats(author0, g.authorship, g.article, genders)
    val ranked = Augment.authorReady(author0, g.authorship, g.article, genders)
    assert(leaves(ranked) <= (1 + 4) * leaves(unranked),
      s"${leaves(ranked)} leaves vs ${leaves(unranked)} unranked")
  }

  test("DWH queries run and argmax keeps ties") {
    // pct tuned up so the 2-author corpus yields rows: use direct builders
    val q2 = ArxivQueries.q2TopJournalShare(gold.author, gold.authorship,
      gold.article, gold.journal)
    // top 0.01% of 2 authors → round(0.0001*2)=0 rows; verify shape only
    assert(q2.columns.toSeq == Seq("author_id", "rank", "publications",
      "top_journal", "percentage_of_all_publications"))
    assert(q2.count() == 0)
  }

  test("graph mirror: labels, counts, coauthor multiplicity, 2-hop queries") {
    val v = GraphMirror.vertices(gold)
    val e = GraphMirror.edges(gold)
    assert(v.filter(col("label") === "Author").count() == 2)
    assert(v.filter(col("label") === "Article").count() == 2)
    assert(v.filter(col("label") === "Journal").count() == 2)
    // one shared article → COAUTHORS in both directions
    assert(e.filter(col("label") === "COAUTHORS").count() == 2)
    assert(GraphMirror.egoNetwork(e, "SramekJ").count() == 2)
    assert(GraphMirror.articlesInJournal(gold, "Journal of Graphs")
      .select("article_id").as[String].collect().toSeq == Seq("a1"))
    assert(GraphMirror.articlesInSubdomain(gold, "LG", 20)
      .select("article_id").as[String].collect().toSeq == Seq("a1"))
  }

  test("G3 ego network: per-article coauthor collect, with and without ego") {
    // SramekJ authored a1 (with MollerA) and a2 (solo)
    val withEgo = GraphMirror.egoArticleCoauthors(gold, "SramekJ")
      .select("article_id", "coauthors", "n_coauthors")
      .as[(String, Seq[String], Long)].collect().toSeq
    assert(withEgo == Seq(
      ("a1", Seq("MollerA", "SramekJ"), 2L),
      ("a2", Seq("SramekJ"), 1L)))
    // cell 59 semantics: ego excluded AND the solo article vanishes
    // (no coauthor row survives the MATCH)
    val withoutEgo = GraphMirror.egoArticleCoauthors(gold, "SramekJ", withEgo = false)
      .select("article_id", "coauthors", "n_coauthors")
      .as[(String, Seq[String], Long)].collect().toSeq
    assert(withoutEgo == Seq(("a1", Seq("MollerA"), 1L)))
  }

  test("G3 ego network: per-coauthor article structs ranked by shared count") {
    val got = GraphMirror.egoCoauthorArticles(gold, "SramekJ")
      .select("coauthor_id", "n_shared").as[(String, Long)].collect().toSeq
    assert(got == Seq(("MollerA", 1L)))
    val arts = GraphMirror.egoCoauthorArticles(gold, "SramekJ")
      .selectExpr("shared_articles[0].article_id", "shared_articles[0].year")
      .as[(String, Int)].head()
    assert(arts == (("a1", 2019)))
  }
}
