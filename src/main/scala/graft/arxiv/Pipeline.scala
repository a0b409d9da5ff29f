package graft.arxiv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Pin

/** Sequenced pipeline runner mirroring the reference DAG's semantics
  * (`dags/research_pipeline_dag.py:397-440`): each stage materializes to
  * Parquet and is skipped when its output already exists — the same
  * resume-if-exists checkpointing as `final_tables.py:14-26` — plus
  * delete-for-update to force a rebuild. Stage outputs are Parquet (the
  * reference's own format benchmark picked columnar storage;
  * `x_old_files/0_DE_Project_RawToCleanDF.ipynb` cells 39-45).
  *
  * Stage paths go through the Hadoop `FileSystem` of `stageDir`, so the
  * stage root may live on any filesystem Spark can write. */
class ArxivPipeline(spark: SparkSession, stageDir: String) {

  private def path(name: String) = s"$stageDir/$name.parquet"

  private def fs: FileSystem =
    new Path(stageDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A stage is done only when its write committed: the committer writes
    * `_SUCCESS` last, so a directory left by a run killed mid-write has
    * none and is rebuilt (the overwrite clears the partial files). A
    * session that turns the marker off
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) therefore
    * rebuilds every stage. */
  private def done(name: String) = fs.exists(new Path(path(name), "_SUCCESS"))

  /** Materialize-or-reuse one stage. */
  def stage(name: String)(build: => DataFrame): DataFrame = {
    if (!done(name)) build.write.mode("overwrite").parquet(path(name))
    spark.read.parquet(path(name))
  }

  /** delete_for_update (`research_pipeline_dag.py:39-54`). */
  def deleteForUpdate(): Unit = fs.delete(new Path(stageDir), true)

  /** The silver stages built from the JSONL, in the order [[run]] writes them. */
  private val SilverStages =
    Seq("silver_article", "silver_authorship", "silver_author", "silver_article_category")

  /** Full run: bronze JSONL → silver → gold, all stages checkpointed.
    *
    * The JSONL is parsed once, into a persisted frame of its DOI-bearing
    * copies ([[Ingest.copies]]: `article_id` plus a struct that is null
    * unless the copy passes the filter). The ids of repeated copies are
    * pinned through [[graft.core.Pin]], so the planner sees their real
    * size and broadcasts them to the dedup joins from the first plan. The
    * filtered articles and the exploded raw authorships are persisted and
    * the four silver stages are written from them. The copies, the pin and
    * the two persisted frames are freed in a `finally` once those stages
    * are written, so a failing stage leaks none of them; the gold stages
    * read the staged Parquet, and `silver_category` is built from the
    * staged `silver_article_category`. When every silver stage is already
    * done nothing is parsed or pinned. If an executor holding persisted
    * blocks is lost, Spark recomputes them through the lineage and parses
    * only the lost share again; a lost block of the pinned ids has no
    * lineage and fails the stage loudly instead.
    *
    * The `author` stage builds its four rank tables and their join base
    * from one persisted copy of the unranked author stats, so the stats'
    * joins and aggregations run once, not once per copy in the plan. The
    * stats are materialized before the stage is planned: the planner then
    * reads their stored size and broadcasts the four rank tables, so the
    * stats themselves never cross an exchange. (Planned unmaterialized,
    * they report the product of their joins' estimates; whether adaptive
    * execution shuffled them for the first rank join before it learned
    * their size then depended on which query stage finished first.) They
    * are unpersisted in a `finally` once the stage is written; like the
    * silver inputs they are persisted, not pinned, so a lost executor's
    * blocks are recomputed from the staged Parquet. */
  def run(jsonlPath: String, enricher: Augment.Enricher, cwts: DataFrame,
      namesGenders: DataFrame): ArxivTables = {
    val Seq(article0, authorship0, author0, ac0) =
      if (SilverStages.forall(done)) SilverStages.map(n => spark.read.parquet(path(n)))
      else silver(jsonlPath)
    val cat0 = stage("silver_category")(Ingest.category(ac0))

    val article = stage("article")(
      Augment.articleReady(article0, enricher))
    val journal = stage("journal")(Augment.journalReady(article, cwts))
    val authorship = stage("authorship")(
      Augment.authorshipReady(authorship0, article))
    val author = {
      val stats = Augment.authorStats(author0, authorship, article, namesGenders).persist()
      try stage("author") { stats.count(); Augment.authorRanked(stats) }
      finally stats.unpersist()
    }
    val articleCategory = stage("article_category")(
      Augment.articleCategoryReady(ac0, article))
    val category = stage("category")(
      Augment.categoryReady(cat0, articleCategory))
    ArxivTables(article, author, authorship, articleCategory, category, journal)
  }

  /** Writes the silver stages that are not done yet from one parse of
    * `jsonlPath` and returns all four; see [[run]]. */
  private def silver(jsonlPath: String): Seq[DataFrame] = {
    val copies = Ingest.copies(Ingest.bronze(spark, jsonlPath)).persist()
    try {
      val repeated = Pin(Ingest.repeatedIds(copies))
      val filtered = Ingest.filterCopies(copies, repeated).persist()
      val raw = Ingest.authorshipRaw(filtered).persist()
      try {
        val t = Ingest.silverFrom(filtered, raw)
        SilverStages.zip(Seq(t.article, t.authorship, t.author, t.articleCategory))
          .map { case (name, df) => stage(name)(df) }
      } finally {
        raw.unpersist()
        filtered.unpersist()
        Pin.free(repeated)
      }
    } finally copies.unpersist()
  }

  /** Register the gold tables as temp views so the DWH queries also run as
    * `spark.sql` (the reference's interactive surface, README §5.1). */
  def registerViews(t: ArxivTables): Unit =
    Seq(
      "article" -> t.article, "author" -> t.author,
      "authorship" -> t.authorship, "article_category" -> t.articleCategory,
      "category" -> t.category, "journal" -> t.journal)
      .foreach { case (name, df) =>
        if (df != null) df.createOrReplaceTempView(name)
      }
}
