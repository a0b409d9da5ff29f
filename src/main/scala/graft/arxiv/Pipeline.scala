package graft.arxiv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Full run: bronze JSONL → silver → gold, all stages checkpointed.
    *
    * The JSONL is parsed once: the filtered articles and the exploded raw
    * authorships are persisted, the five silver stages are written from
    * them, and both are unpersisted (in a `finally`, so a failing stage
    * leaks no pin) before the gold stages, which read the staged Parquet.
    * `silver_category` is built from the staged `silver_article_category`.
    * Persisting is lazy: when every silver stage is already done nothing
    * is parsed. If an executor holding persisted blocks is lost, Spark
    * recomputes those blocks from the JSONL through the lineage, so the
    * stages stay correct (unlike `localCheckpoint`, whose blocks die with
    * the executor) and only the lost share is parsed again. */
  def run(jsonlPath: String, enricher: Augment.Enricher, cwts: DataFrame,
      namesGenders: DataFrame): ArxivTables = {
    val filtered = Ingest.filterArticles(Ingest.bronze(spark, jsonlPath)).persist()
    val raw = Ingest.authorshipRaw(filtered).persist()
    val (article0, authorship0, author0, ac0) = try {
      val silver = Ingest.silverFrom(filtered, raw)
      (stage("silver_article")(silver.article),
        stage("silver_authorship")(silver.authorship),
        stage("silver_author")(silver.author),
        stage("silver_article_category")(silver.articleCategory))
    } finally {
      raw.unpersist()
      filtered.unpersist()
    }
    val cat0 = stage("silver_category")(Ingest.category(ac0))

    val article = stage("article")(
      Augment.articleReady(article0, enricher))
    val journal = stage("journal")(Augment.journalReady(article, cwts))
    val authorship = stage("authorship")(
      Augment.authorshipReady(authorship0, article))
    val author = stage("author")(
      Augment.authorReady(author0, authorship, article, namesGenders))
    val articleCategory = stage("article_category")(
      Augment.articleCategoryReady(ac0, article))
    val category = stage("category")(
      Augment.categoryReady(cat0, articleCategory))
    ArxivTables(article, author, authorship, articleCategory, category, journal)
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
