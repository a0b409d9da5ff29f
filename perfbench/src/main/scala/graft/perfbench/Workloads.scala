package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.arxiv.{ArxivPipeline, ArxivQueries, ArxivSql, ArxivTables, Augment, GraphMirror, GraphSql, Ingest}
import graft.core.{Sessions, Tables}
import graft.functions.TextFunctions
import graft.functions.TransliterateFn.transliterate
import graft.operators.Dedup
import graft.tools.CandVol

object Workloads {
  def fileBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Duration and inclusive task counts of the pass's span `name` (zero
    * when the pass has none). */
  def spanStats(trace: Trace, probe: Probe, pass: PassCtx, name: String): (Double, Counts) = {
    val under = trace.subtree(pass.root.id)
    trace.all.find(s => s.name == name && under.contains(s.id)) match {
      case Some(s) => ((s.end - s.start) / 1000.0, probe.total(trace.subtree(s.id)))
      case None => (0.0, new Counts)
    }
  }

  /** Scan-only pass over `frames`, the read floor under the workload, with
    * the inputs' size on disk (the listener's bytes-read undercounts
    * parquet scans). */
  def scanFloor(trace: Trace, frames: Seq[() => DataFrame], bytes: Long): Map[String, Double] = {
    val (_, s) = timed(trace.span("core.scan")(frames.foreach(f => Sessions.materialize(f()))))
    Map("core.scan_s" -> s, "core.input_mb" -> bytes / 1e6)
  }

  /** Rows per second of a function over `rows`, materialized. */
  def rate(trace: Trace, name: String, rows: DataFrame, col: org.apache.spark.sql.Column): Double =
    trace.span(name) {
      val n = rows.count()
      val (_, s) = timed(Sessions.materialize(rows.select(col)))
      n / s
    }
}

import Workloads._

/** A battery of declared queries over parquet tables, each run to its
  * last row into parquet and checked against its DuckDB twin. The
  * tables are generated before the run, outside this JVM. */
abstract class QueryBattery(dir: String, queries: Seq[String]) extends Workload {
  def tables: Seq[String]

  def inputBytes: Long = tables.map(t => fileBytes(s"$dir/$t.parquet")).sum

  def pass(ctx: PassCtx): Unit = queries.foreach { q =>
    try ctx.op(s"queries.$q")(ctx.execute(q, SparkEntry.queries(q)(ctx.spark, dir)))
    catch { case NonFatal(e) => System.err.println(s"[perfbench] $q failed: $e") }
  }

  def open(spark: SparkSession): Unit = tables.foreach(t => tableFrame(spark, t).schema)

  def tableFrame(spark: SparkSession, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)

  def layers(spark: SparkSession, probe: Probe, trace: Trace, pass: PassCtx): Map[String, Double] = {
    val perQuery = queries.flatMap { q =>
      val (wall, c) = spanStats(trace, probe, pass, s"queries.$q")
      Seq(s"queries.$q.wall_s" -> wall, s"queries.$q.shuffle_mb" -> c.shuffleWrite / 1e6)
    }
    perQuery.toMap ++ scanFloor(trace, tables.map(t => () => tableFrame(spark, t)), inputBytes)
  }
}

/** Relational ETL: joins, windows, aggregates, as-of joins, co-occurrence,
  * PageRank and triangles over the TPC-H-shaped tables. */
class EtlRelational(dir: String) extends QueryBattery(dir, EtlRelational.queries) {
  def tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents")
}

object EtlRelational {
  val queries = Seq("q01_pricing_summary", "q03_join_agg", "q07_multi_join",
    "q10_argmax_window", "q13_hindex", "q19_running_sum", "q21_cosupply_pairs",
    "q25_tumbling_window", "q27_sessionize", "q42_asof_join", "q54_pack_shards",
    "q68_pagerank", "q74_triangles")
}

/** Near-duplicate corpus: the exact, MinHash, SimHash, prefix-filter and
  * embedding near-dup operators over a GenScale realistic corpus. */
class DedupCorpus(dir: String) extends QueryBattery(dir, DedupCorpus.queries) {
  def tables = Seq("documents", "embeddings")

  override def layers(spark: SparkSession, probe: Probe, trace: Trace,
      pass: PassCtx): Map[String, Double] = {
    val base = super.layers(spark, probe, trace, pass)
    val docs = Tables.documents(spark, dir)
    // candidate volumes of the four pair-emitting queries, from the same key
    // frames the operators shuffle
    val (cands: Long, pairs: Long) = trace.span("operators.dedup.volumes") {
      val sims = Dedup.simhashDocsPortable(docs)
      val probeDocs = docs.filter(pmod(col("doc_id"), lit(graft.queries.TextQueries.DecontamMod)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(graft.queries.TextQueries.DecontamMod)) =!= 0)
      val c = Seq(
        CandVol.selfJoinVolume(Dedup.minhashBandKeys(docs, k = 16, bands = 4, n = 3),
          Seq("band", "band_hash")),
        CandVol.selfJoinVolume(Dedup.simhashComboKeys(sims, maxDist = 3,
          bits = Dedup.PortableSimHashBits, nBlocks = 6), Seq("combo_idx", "combo_key")),
        CandVol.selfJoinVolume(Dedup.simhashPermutedKeys(sims, maxDist = 3,
          bits = Dedup.PortableSimHashBits, nOuter = 4, nInner = 4), Seq("tbl_idx", "tbl_key")),
        CandVol.crossJoinVolume(Dedup.minhashBandKeys(corpus), Dedup.minhashBandKeys(probeDocs),
          Seq("band", "band_hash"))).sum
      val p = Seq("q35_minhash_lsh", "q116_simhash_combos", "q122_simhash_permuted",
        "q119_fuzzy_decontam").map(q => SparkEntry.queries(q)(spark, dir).count()).sum
      (c, p)
    }
    val shingleRate = rate(trace, "functions.shingles", docs,
      TextFunctions.shingles(col("text"), 3))
    base ++ Map(
      "operators.dedup.cand_pairs" -> cands.toDouble,
      "operators.dedup.pair_yield" -> (if (cands > 0) pairs.toDouble / cands else 0.0),
      "functions.shingles.rows_per_s" -> shingleRate)
  }
}

object DedupCorpus {
  val queries = Seq("q33_dedup_exact", "q35_minhash_lsh", "q44_dedup_clusters",
    "q97_prefix_join", "q100_pipeline_e2e", "q116_simhash_combos", "q119_fuzzy_decontam",
    "q120_incremental_dedup", "q122_simhash_permuted", "q40_embed_neardup",
    "q113_embed_neardup_adaptive")
}

/** The paper's own job: JSONL ingest, augmentation, the six gold tables,
  * the four DWH queries and the graph mirror, each query beside its SQL
  * twin. */
class ArxivPipelineWorkload(dir: String, work: String) extends Workload {
  private val jsonl = s"$dir/arxiv.jsonl"
  private lazy val inputBytes =
    Seq("arxiv.jsonl", "crossref.parquet", "cwts.parquet", "names_genders.parquet")
      .map(f => fileBytes(s"$dir/$f")).sum
  private var goldRows = 0L
  private val MinCites = 2
  private val Ingests = Set("silver_article", "silver_authorship", "silver_author",
    "silver_article_category", "silver_category")
  private var pending: Option[(ArxivPipeline, ArxivTables)] = None
  // the write command's node details in the formatted plan name its path
  private val WriteTarget =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: \\S*?/(\\w+)\\.parquet".r

  private def side(spark: SparkSession, name: String) = spark.read.parquet(s"$dir/$name.parquet")

  def open(spark: SparkSession): Unit =
    (Ingest.bronze(spark, jsonl) +: Seq("crossref", "cwts", "names_genders").map(side(spark, _)))
      .foreach(_.schema)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\u0001"))

  /** DataFrame builder and SQL twin: both run and are collected; their
    * rows must be equal. */
  private def twin(ctx: PassCtx, name: String, df: => DataFrame, sql: => DataFrame,
      ordered: Boolean): Unit = {
    val x = ctx.op(s"$name.df") { val d = df; ctx.plan(d); rows(d) }
    val y = ctx.op(s"$name.sql") { val d = sql; ctx.plan(d); rows(d) }
    val (xs, ys) = if (ordered) (x, y) else (x.sorted, y.sorted)
    val firstDiff = xs.zipAll(ys, "(none)", "(none)").find { case (p, q) => p != q }
      .map { case (p, q) => s"; first difference: builder [$p] vs SQL [$q]".replace('\u0001', '|') }
    ctx.assertThat(s"$name twin", xs == ys && xs.nonEmpty,
      s"${xs.size} builder rows vs ${ys.size} SQL rows${firstDiff.getOrElse("")}")
  }

  private def goldChecks(ctx: PassCtx, t: ArxivTables): Unit = {
    def ids(df: DataFrame, c: String) = df.select(c).distinct()
    def sameSet(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    ctx.assertThat("gold article: journal-articles only",
      t.article.filter(col("type") =!= "journal-article" || col("type").isNull).isEmpty)
    ctx.assertThat("gold article: unique ids",
      t.article.count() == ids(t.article, "article_id").count())
    ctx.assertThat("gold authorship: articles exist",
      ids(t.authorship, "article_id").except(ids(t.article, "article_id")).isEmpty)
    ctx.assertThat("gold author: exactly the authorship authors",
      sameSet(ids(t.author, "author_id"), ids(t.authorship, "author_id")))
    ctx.assertThat("gold article_category: articles exist",
      ids(t.articleCategory, "article_id").except(ids(t.article, "article_id")).isEmpty)
    ctx.assertThat("gold category: exactly the used categories",
      sameSet(ids(t.category, "category_id"), ids(t.articleCategory, "category_id")))
    ctx.assertThat("gold journal: unique issn",
      t.journal.count() == ids(t.journal, "journal_issn").count())
    val counts = Seq(t.article, t.author, t.authorship, t.articleCategory, t.category, t.journal)
      .map(_.count())
    ctx.assertThat("gold tables non-empty", counts.forall(_ > 0), counts.mkString(","))
    goldRows = counts.sum
  }

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val stageDir = s"$work/stages"
    val pipe = new ArxivPipeline(spark, stageDir)
    var tables: ArxivTables = null
    try {
      tables = ctx.span("arxiv.run") {
        pipe.run(jsonl, new Augment.FixtureEnricher(side(spark, "crossref")),
          side(spark, "cwts"), side(spark, "names_genders"))
      }
      val t = tables
      pipe.registerViews(t)
      val k = math.max(10, math.round(1e-4 * t.author.count()).toInt)
      val p0 = ctx.planS
      ctx.span("arxiv.dwh") {
        twin(ctx, "arxiv.dwh.q1", ArxivQueries.q1TopAuthorsByPubs(t.author, Some(k)),
          spark.sql(ArxivSql.q1(k)), ordered = true)
        twin(ctx, "arxiv.dwh.q2", ArxivQueries.q2TopJournalShare(t.author, t.authorship,
          t.article, t.journal, Some(k)), spark.sql(ArxivSql.q2(k)), ordered = true)
        twin(ctx, "arxiv.dwh.q3", ArxivQueries.q3MostProductiveYear(t.author, t.authorship,
          t.article, Some(k)), spark.sql(ArxivSql.q3(k)), ordered = true)
        twin(ctx, "arxiv.dwh.q4", ArxivQueries.q4MostInfluentialYear(t.author, t.authorship,
          t.article, Some(k)), spark.sql(ArxivSql.q4(k)), ordered = true)
      }
      ctx.extra("arxiv.dwh.plan_s") = ctx.planS - p0
      ctx.span("arxiv.graph") {
        val v = GraphMirror.vertices(t)
        val e = GraphMirror.edges(t)
        GraphSql.registerGraphViews(v, e)
        val ego = t.author.orderBy("rank_total_pubs", "author_id").select("author_id").head().getString(0)
        val journalTitle = t.article.join(t.journal, "journal_issn").groupBy("journal_title").count()
          .orderBy(col("count").desc, col("journal_title")).head().getString(0)
        val subdom = t.articleCategory.join(t.category, "category_id").groupBy("subdom").count()
          .orderBy(col("count").desc, col("subdom")).head().getString(0)
        ctx.op("arxiv.graph.g1") {
          val d = GraphMirror.countsByLabel(v, e); ctx.plan(d); Sessions.materialize(d)
        }
        twin(ctx, "arxiv.graph.g2", GraphMirror.egoNetwork(e, ego),
          spark.sql(GraphSql.g2EgoNetwork(ego)), ordered = false)
        twin(ctx, "arxiv.graph.g3a", GraphMirror.egoArticleCoauthors(t, ego),
          spark.sql(GraphSql.g3EgoArticleCoauthors(ego)), ordered = true)
        twin(ctx, "arxiv.graph.g3b", GraphMirror.egoCoauthorArticles(t, ego),
          spark.sql(GraphSql.g3EgoCoauthorArticles(ego)), ordered = true)
        val cols = t.article.columns.map(col).toSeq
        twin(ctx, "arxiv.graph.g4", GraphMirror.articlesInJournal(t, journalTitle).select(cols: _*),
          spark.sql(GraphSql.g4ArticlesInJournal(journalTitle)).select(cols: _*), ordered = false)
        twin(ctx, "arxiv.graph.g5", GraphMirror.articlesInSubdomain(t, subdom, MinCites),
          spark.sql(GraphSql.g5ArticlesInSubdomain(subdom, MinCites)), ordered = false)
      }
    } finally pending = Some((pipe, tables))
  }

  /** Pipeline stages as operations: one per stage write, from the SQL
    * execution that wrote it. Returns (stage, execution) pairs. */
  private def stageExecs(probe: Probe, spans: Set[Long]): Seq[(String, SqlExec)] =
    probe.execsUnder(spans).flatMap { x =>
      WriteTarget.findFirstMatchIn(x.plan).map(m => m.group(1) -> x)
    }

  override def afterPass(ctx: PassCtx, probe: Probe): Unit = {
    pending.foreach { case (pipe, t) =>
      if (t != null) goldChecks(ctx, t)
      pipe.deleteForUpdate()
    }
    pending = None
    val spans = ctx.trace.subtree(ctx.root.id)
    stageExecs(probe, spans).foreach { case (stage, x) =>
      ctx.ops += ((s"arxiv.stage.$stage", (x.end - x.start) / 1000.0))
      ctx.attempted += 1
      if (ctx.traced) {
        val run = ctx.trace.all.find(s => s.name == "arxiv.run" && spans.contains(s.id))
        val layer = if (Ingests(stage)) "ingest" else "augment"
        run.foreach(r => ctx.trace.add(s"arxiv.$layer.$stage", r.id, x.start, x.end))
      }
    }
    val c = probe.total(spans)
    ctx.extra("write_amp") = c.output.toDouble / inputBytes
  }

  def layers(spark: SparkSession, probe: Probe, trace: Trace, pass: PassCtx): Map[String, Double] = {
    val jsonSize = fileBytes(jsonl).toDouble
    val spans = trace.subtree(pass.root.id)
    val execs = stageExecs(probe, spans)
    val (ing, aug) = execs.partition { case (s, _) => Ingests(s) }
    def sum(xs: Seq[(String, SqlExec)]) = {
      val ids = xs.map(_._2.id).toSet
      (xs.map { case (_, x) => (x.end - x.start) / 1000.0 }.sum, probe.total(spans, ids))
    }
    val (iw, ic) = sum(ing)
    val (aw, ac) = sum(aug)
    val (dwhWall, _) = spanStats(trace, probe, pass, "arxiv.dwh")
    val (graphWall, gc) = spanStats(trace, probe, pass, "arxiv.graph")
    val bronze = Ingest.bronze(spark, jsonl)
    val names = bronze.select(explode(col("authors_parsed")).as("ap"))
      .select(get(col("ap"), lit(0)).as("last_name"))
    Map(
      "arxiv.ingest.wall_s" -> iw, "arxiv.ingest.busy_s" -> ic.busyMs / 1000.0,
      "arxiv.ingest.input_mb" -> ic.input / 1e6, "arxiv.ingest.write_mb" -> ic.output / 1e6,
      "arxiv.ingest.json_read_ratio" -> ic.input / jsonSize,
      "arxiv.augment.wall_s" -> aw, "arxiv.augment.busy_s" -> ac.busyMs / 1000.0,
      "arxiv.augment.shuffle_mb" -> ac.shuffleWrite / 1e6, "arxiv.augment.spill_mb" -> ac.spill / 1e6,
      "arxiv.augment.write_mb" -> ac.output / 1e6,
      "arxiv.dwh.wall_s" -> dwhWall, "arxiv.dwh.plan_s" -> pass.extra.getOrElse("arxiv.dwh.plan_s", 0.0),
      "arxiv.graph.wall_s" -> graphWall, "arxiv.graph.shuffle_mb" -> gc.shuffleWrite / 1e6,
      "arxiv.write_amp" -> pass.extra.getOrElse("write_amp", 0.0),
      "arxiv.gold_rows" -> goldRows.toDouble,
      "functions.transliterate.rows_per_s" ->
        rate(trace, "functions.transliterate", names, transliterate(col("last_name")))) ++
      scanFloor(trace, Seq(() => bronze, () => side(spark, "crossref"),
        () => side(spark, "cwts"), () => side(spark, "names_genders")), inputBytes)
  }
}
