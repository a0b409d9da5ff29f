package graft.arxiv

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.ShuffleBytes
import org.apache.spark.sql.{CachedEntries, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.core.Pin

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
    val (before, entries) = (sc.getPersistentRDDs.keySet, CachedEntries(spark))
    // a frame still marked persisted is a leak whether or not its blocks
    // were built: a later plan that matches it would cache it again
    def leaked = (sc.getPersistentRDDs.keySet -- before, CachedEntries(spark) - entries)
    def clean = leaked == ((Set.empty[Int], 0))
    new ArxivPipeline(spark, s"$tmp/stages-pins")
      .run(jsonl, new Augment.FixtureEnricher(crossref), cwts, genders)
    assert(clean, leaked)
    val failing = new Augment.Enricher {
      def lookup(dois: org.apache.spark.sql.DataFrame) =
        throw new IllegalStateException("enrichment outage")
    }
    intercept[IllegalStateException] {
      new ArxivPipeline(spark, s"$tmp/stages-pins-fail").run(jsonl, failing, cwts, genders)
    }
    assert(new java.io.File(s"$tmp/stages-pins-fail/silver_category.parquet/_SUCCESS").isFile,
      "the enricher must fail after the silver stages ran")
    assert(clean, leaked)
    // a gender lookup that throws once evaluated fails the author stage
    // itself, after its stats were marked persisted: the lookup is read
    // from files, so it throws in the job that builds the cached stats
    // (over an in-memory Seq the optimizer would evaluate it while the
    // stats are being marked)
    val outage = udf((s: String) => (throw new IllegalStateException("gender outage")): String)
    genders.write.mode("overwrite").parquet(s"$tmp/genders.parquet")
    val failingGenders = spark.read.parquet(s"$tmp/genders.parquet")
      .select(outage(col("first_name")).as("first_name"), col("gender"))
    val dir = s"$tmp/stages-pins-author-fail"
    val e = intercept[Exception] {
      new ArxivPipeline(spark, dir)
        .run(jsonl, new Augment.FixtureEnricher(crossref), cwts, failingGenders)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("gender outage")), e)
    assert(new java.io.File(s"$dir/authorship.parquet/_SUCCESS").isFile &&
      !new java.io.File(s"$dir/author.parquet/_SUCCESS").exists,
      "the gender lookup must fail inside the author stage")
    assert(clean, leaked)
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

  /** Two ids whose copies differ: d1 has a physics copy and a cs copy, d2
    * two cs copies that both pass, with different titles, DOIs, dates and
    * authors. The copies sit in two files, so they reach the dedup from
    * different partitions. */
  private lazy val dupDir: String = {
    val d = s"$tmp/dup-copies"
    Files.createDirectories(Paths.get(d))
    def write(name: String, lines: String*): Unit =
      Files.write(Paths.get(d, name), lines.mkString("\n").getBytes("UTF-8"))
    write("part-0.json",
      """{"id":"d1","title":"Quantum optics survey","doi":"10.1/d1p","categories":"physics.optics cs.LG","update_date":"2018-01-01","authors_parsed":[["Planck","Max",""]]}""",
      """{"id":"d2","title":"Alpha title for d2","doi":"10.1/d2a","categories":"cs.DB","update_date":"2017-03-03","authors_parsed":[["Hopper","Grace",""]]}""")
    write("part-1.json",
      """{"id":"d2","title":"Beta title for the d2 copy","doi":"10.1/d2b","categories":"cs.DS","update_date":"2016-04-04","authors_parsed":[["Knuth","Donald",""],["Lovelace","Ada",""]]}""",
      """{"id":"d1","title":"Learning to rank papers","doi":"10.1/d1c","categories":"cs.IR","update_date":"2019-02-02","authors_parsed":[["Turing","Alan",""]]}""")
    d
  }

  test("a duplicate id keeps one whole copy, chosen before the category filter") {
    // one copy's fields: (title, doi, n_authors, year), its author ids and
    // its categories; the gold tables add the copy's distinct n_cites
    type Copy = (Seq[Any], Set[String], Set[String])
    val cs1: Copy = (Seq("Learning to rank papers", "10.1/d1c", 1, 2019), Set("TuringA"), Set("cs.IR"))
    val d2a: Copy = (Seq("Alpha title for d2", "10.1/d2a", 1, 2017), Set("HopperG"), Set("cs.DB"))
    val d2b: Copy = (Seq("Beta title for the d2 copy", "10.1/d2b", 2, 2016),
      Set("KnuthD", "LovelaceA"), Set("cs.DS"))
    val cites = Map("10.1/d1p" -> 1, "10.1/d1c" -> 2, "10.1/d2a" -> 3, "10.1/d2b" -> 4)
    def copyIn(t: ArxivTables, id: String, gold: Boolean): Option[Copy] = {
      val cols = Seq("title", "doi", "n_authors", "year") ++ (if (gold) Seq("n_cites") else Nil)
      val arts = t.article.filter(col("article_id") === id).select(cols.map(col): _*).collect()
      assert(arts.length <= 1, s"$id: ${arts.toSeq}")
      def ids(df: DataFrame, c: String) =
        df.filter(col("article_id") === id).select(c).as[String].collect().toSet
      val (authors, cats) = (ids(t.authorship, "author_id"), ids(t.articleCategory, "category_id"))
      arts.headOption match {
        case None =>
          assert(authors.isEmpty && cats.isEmpty, s"$id has no article row but $authors / $cats")
          None
        case Some(r) =>
          val fields = r.toSeq
          if (gold) assert(fields.last == cites(fields(1).toString), s"$id mixes copies: $fields")
          Some((fields.take(4), authors, cats))
      }
    }
    val crossref = cites.toSeq.map { case (doi, n) => (doi, "journal-article", n, "1111-1111") }
      .toDF("doi", "type", "n_cites", "journal_issn")
    val viaSilver = Ingest.silver(Ingest.bronze(spark, dupDir))
    val viaRun = new ArxivPipeline(spark, s"$tmp/stages-dups")
      .run(dupDir, new Augment.FixtureEnricher(crossref), cwts, genders)
    for ((t, isGold) <- Seq(viaSilver -> false, viaRun -> true)) {
      val d1 = copyIn(t, "d1", isGold)
      assert(d1.forall(_ == cs1), s"d1 is not its cs copy: $d1")
      val d2 = copyIn(t, "d2", isGold)
      assert(d2.contains(d2a) || d2.contains(d2b), s"d2 is not one whole copy: $d2")
    }
  }

  /** The id dedup as a wide `dropDuplicates` over every projected column
    * of every DOI-bearing copy: the row-for-row reference the narrow dedup
    * must equal. */
  private def wideFilterArticles(bronze: DataFrame): DataFrame =
    bronze
      .filter(col("doi").isNotNull)
      .dropDuplicates("article_id")
      .filter(col("categories").contains("cs.") && !col("categories").contains("physics"))
      .filter(length(col("title")) > 10)

  /** Shuffle bytes written by the tasks of `body` only, and its result. */
  private def shuffled[T](body: => T): (Long, T) = ShuffleBytes(spark.sparkContext)(body)

  test("the id dedup moves full rows only for copies that pass the filter") {
    // 2,000 records: 9 in 10 carry a DOI, 7 in 10 of those fail the
    // category filter (physics, math, astro-ph) and 1 in 20 of the rest
    // has a too-short title; every 25th record is written twice, and each
    // carries 8 to 27 authors
    val rnd = new scala.util.Random(7)
    val lines = (0 until 2000).flatMap { i =>
      val doi = if (i % 10 == 9) "null" else s""""10.5/r$i""""
      val cats = rnd.nextInt(10) match {
        case 0 | 1 | 2 => "cs.LG cs.DB"
        case 3 | 4 => "physics.optics cs.LG"
        case 5 | 6 => "math.CO math.PR"
        case _ => "astro-ph.GA"
      }
      val title = if (rnd.nextInt(20) == 0) "Short" else s"Record $i on ${"topic " * (3 + rnd.nextInt(6))}"
      val authors = (0 until 8 + rnd.nextInt(20))
        .map(k => s"""["Lastname${rnd.nextInt(5000)}","First$k Middle${k % 7}",""]""")
      val line = s"""{"id":"r$i","title":"$title","doi":$doi,"categories":"$cats",""" +
        s""""update_date":"20${10 + i % 12}-01-01","authors_parsed":[${authors.mkString(",")}]}"""
      if (i % 25 == 0) Seq(line, line) else Seq(line)
    }
    val path = s"$tmp/dedup-bound.jsonl"
    Files.write(Paths.get(path), lines.mkString("\n").getBytes("UTF-8"))
    val bronze = Ingest.bronze(spark, path)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))
    val (narrowBytes, narrow) = shuffled(rows(Ingest.filterArticles(bronze)))
    val (wideBytes, wide) = shuffled(rows(wideFilterArticles(bronze)))
    assert(narrow.nonEmpty && narrow.length < 1800 * 4 / 10, narrow.length)
    assert(narrow == wide)
    assert(Ingest.filterArticles(bronze).schema == wideFilterArticles(bronze).schema)
    assert(wideBytes > 0 && narrowBytes <= wideBytes / 2,
      s"filterArticles shuffled $narrowBytes B, the wide dedup $wideBytes B")
  }

  /** `n` generated arXiv records in the dump's 14-field shape, spread over
    * two files: 9 in 10 carry a DOI and about 3 in 10 of those are
    * cs-not-physics. Every 50th id has a second copy in the other file;
    * every 100th id's second copy differs from its first in every kept
    * field, and of those two copies one passes the category filter and
    * the other fails it. Each record has 1 to 12 authors (3 on average)
    * drawn from a pool of `pool`, so authors share articles. Returns the
    * directory and the DOIs. */
  private def corpus(name: String, n: Int, pool: Int = 300): (String, Seq[String]) = {
    val dir = Paths.get(tmp, name)
    Files.createDirectories(dir)
    def record(i: Int, copy: Int): (String, Option[String]) = {
      val rnd = new scala.util.Random(31L * i + copy)
      def words(k: Int) = Seq.fill(k)(s"word${rnd.nextInt(3000)}").mkString(" ")
      val doi = if (i % 10 == 9) None else Some(s"10.${1000 + rnd.nextInt(9000)}/r$i.$copy")
      val sub = Seq.fill(1 + rnd.nextInt(3))(Seq("LG", "DB", "AI", "CL", "IR", "DS")(rnd.nextInt(6)))
      val cs = sub.distinct.map(c => s"cs.$c").mkString(" ")
      val cats =
        if (i % 100 == 0) { if ((i / 100 + copy) % 2 == 0) cs else s"physics.optics $cs" }
        else rnd.nextInt(10) match {
          case 0 | 1 | 2 => cs
          case 3 | 4 => s"physics.optics $cs"
          case 5 | 6 => "math.CO math.PR"
          case _ => "astro-ph.GA"
        }
      val title = if (rnd.nextInt(20) == 0) "Short" else s"Record $i copy $copy ${words(3 + rnd.nextInt(10))}"
      val authors = Seq.fill(1 + math.min((-math.log(1 - rnd.nextDouble()) / 0.45).toInt, 11))(
        (s"Lastname${rnd.nextInt(pool)}", s"First${rnd.nextInt(9)} Middle${rnd.nextInt(5)}"))
      val parsed = authors.map { case (l, f) => s"""["$l","$f",""]""" }.mkString(",")
      val names = authors.map { case (l, f) => s"$f $l" }.mkString(", ")
      val json = s"""{"id":"r$i","submitter":"${authors.head._2} ${authors.head._1}",""" +
        s""""authors":"$names","title":"$title","comments":"${5 + i % 30} pages",""" +
        s""""journal-ref":null,"doi":${doi.fold("null")(d => s""""$d"""")},"report-no":null,""" +
        s""""categories":"$cats","license":null,"abstract":"${words(120 + rnd.nextInt(120))}",""" +
        s""""versions":[{"version":"v1","created":"Mon, 2 Apr 2007 19:18:42 GMT"}],""" +
        s""""update_date":"20${10 + i % 12}-0${1 + copy}-01","authors_parsed":[$parsed]}"""
      (json, doi)
    }
    val copies = (0 until n).flatMap { i =>
      val first = (i % 2, record(i, 0))
      if (i % 50 != 0) Seq(first)
      else Seq(first, (1 - i % 2, if (i % 100 == 0) record(i, 1) else record(i, 0)))
    }
    for ((part, lines) <- copies.groupBy(_._1))
      Files.write(dir.resolve(s"part-$part.json"),
        lines.map(_._2._1).mkString("\n").getBytes("UTF-8"))
    (dir.toString, copies.flatMap(_._2._2).distinct)
  }

  /** Crossref, CWTS and gender side inputs for [[corpus]]'s DOIs: 4 in 5
    * are journal articles in one of three journals. */
  private def sides(dois: Seq[String]): (Augment.Enricher, DataFrame, DataFrame) = {
    val fixture = dois.zipWithIndex.map { case (d, k) =>
      (d, if (k % 5 == 4) "posted-content" else "journal-article", k % 37, s"000${k % 3}-0000")
    }.toDF("doi", "type", "n_cites", "journal_issn")
    val journals = (0 until 3).map(j => (s"Journal $j", s"000$j-0000", 1.0 + j)).toDF("source_title", "print_issn", "snip")
    val firstNames = (0 until 9).map(f => (s"First$f", if (f % 2 == 0) "F" else "M")).toDF("first_name", "gender")
    (new Augment.FixtureEnricher(fixture), journals, firstNames)
  }

  /** The id dedup that sends every DOI-bearing copy through the exchange
    * as its id plus a struct of its other columns that is null unless the
    * copy passes the filter: the row-for-row reference the ids-only dedup
    * must equal. */
  private def structFilterArticles(bronze: DataFrame): DataFrame = {
    val pass = col("categories").contains("cs.") && !col("categories").contains("physics") &&
      length(col("title")) > 10
    val rest = Seq("title", "doi", "categories", "date", "authors_parsed")
    bronze
      .filter(col("doi").isNotNull)
      .select(col("article_id"), when(pass, struct(rest.map(col): _*)).as("r"))
      .dropDuplicates("article_id")
      .filter(col("r").isNotNull)
      .select(col("article_id") +: rest.map(c => col(s"r.$c")): _*)
  }

  test("only ids cross the id-dedup exchange, and only repeated ids move their rows") {
    val (dir, _) = corpus("ids-only", 2000)
    val bronze = Ingest.bronze(spark, dir)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))
    val (idBytes, byIds) = shuffled(rows(Ingest.filterArticles(bronze)))
    val (structBytes, byStructs) = shuffled(rows(structFilterArticles(bronze)))
    assert(byIds.nonEmpty && byIds == byStructs)
    assert(byIds.map(_.getString(0)).distinct.size == byIds.size)
    assert(Ingest.filterArticles(bronze).schema == structFilterArticles(bronze).schema)
    assert(structBytes > 0 && idBytes <= structBytes / 4,
      s"filterArticles shuffled $idBytes B, the struct dedup $structBytes B")

    // as run plans it: with the repeated ids pinned at their real size the
    // planner broadcasts them to both joins from the first plan on, and
    // the executed plan has one exchange, which carries only the copies of
    // repeated ids (a join that adaptive execution turned into a broadcast
    // late would leave both of its sides' exchanges behind)
    val copies = Ingest.copies(bronze)
    val repeated = Pin(Ingest.repeatedIds(copies))
    try {
      val filtered = Ingest.filterCopies(copies, repeated)
      assert(rows(filtered) == byIds)
      val (planned, executed) = filtered.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => (a.inputPlan, a.executedPlan)
        case p => (p, p)
      }
      val joins = planned.collect { case j: BroadcastHashJoinExec => j.joinType }
      assert(joins.sortBy(_.toString) == Seq(LeftAnti, LeftSemi), planned)
      assert(planned.collect { case j: SortMergeJoinExec => j }.isEmpty, planned)
      val exchanges = new AdaptiveSparkPlanHelper {}.collect(executed) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1 && exchanges.head.exists {
        case j: BroadcastHashJoinExec => j.joinType == LeftSemi
        case _ => false
      }, executed)
    } finally Pin.free(repeated)
  }

  test("filterArticles(b).exceptAll(filterArticles(b)) is empty under count, isEmpty and collect") {
    val bronze = Ingest.bronze(spark, corpus("except-all", 400)._1)
    def diff = Ingest.filterArticles(bronze).exceptAll(Ingest.filterArticles(bronze))
    assert(Ingest.filterArticles(bronze).count() > 0)
    assert(diff.count() == 0)
    assert(diff.isEmpty)
    assert(diff.collect().isEmpty)
  }

  test("run parses the JSONL once") {
    val (dir, dois) = corpus("parse-once", 2000)
    val (enricher, journals, firstNames) = sides(dois)
    val jsonBytes = Files.list(Paths.get(dir)).iterator().asScala.map(Files.size).sum
    // bytes read from files: the task input metric also counts every read
    // of a persisted block, and run reads its persisted copies back from
    // memory three times without parsing them again
    def fileBytesRead: Long = FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(s => Option(s.getLong("bytesRead")).fold(0L)(_.longValue)).sum
    val before = fileBytesRead
    val t = new ArxivPipeline(spark, s"$tmp/stages-parse-once").run(dir, enricher, journals, firstNames)
    val read = fileBytesRead - before
    assert(t.author.count() > 0)
    assert(read >= jsonBytes && read <= jsonBytes * 12 / 10,
      s"run read $read B of files for a $jsonBytes B JSONL")
  }

  test("the author stage broadcasts its rank tables and never shuffles the stats, run after run") {
    // large enough that the stats' query stages race: stats planned before
    // they are materialized report their joins' estimates, and then some
    // rebuilds shuffle every stats row for the first rank join
    val (dir, dois) = corpus("author-plans", 6000, pool = 3000)
    val (enricher, journals, firstNames) = sides(dois)
    val stages = s"$tmp/stages-author-plans"
    val pipe = new ArxivPipeline(spark, stages)
    pipe.run(dir, enricher, journals, firstNames)
    // every other stage is done, so each run rebuilds the author stage alone
    val author = new Path(s"$stages/author.parquet")
    val writes = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = writes.add(qe.executedPlan)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try (1 to 4).foreach { _ =>
      author.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(author, true)
      pipe.run(dir, enricher, journals, firstNames)
    } finally {
      ListenerBridge.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    def writesAuthor(p: SparkPlan) = p.exists {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.getName == "author.parquet"
      case _ => false
    }
    val authorWrites = writes.asScala.toSeq.collect {
      case a: AdaptiveSparkPlanExec if writesAuthor(a.inputPlan) => a
    }
    assert(authorWrites.size == 4, writes.asScala.mkString("\n"))
    for (w <- authorWrites) {
      // the four rank joins are broadcasts in the first plan, not a late
      // adaptive conversion
      assert(w.inputPlan.collect { case j: BroadcastHashJoinExec => j }.size == 4 &&
        w.inputPlan.collect { case j: SortMergeJoinExec => j }.isEmpty, w.inputPlan)
      // only the rank tables' (value, count) pairs cross an exchange
      val exchanges = new AdaptiveSparkPlanHelper {}.collect(w.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty && exchanges.forall(!_.output.exists(_.name == "author_id")), w)
    }
  }
}
