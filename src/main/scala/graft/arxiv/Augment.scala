package graft.arxiv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GroupOps

/** Augmentation stage: Crossref-style enrichment, CWTS journal stats,
  * gender lookup, and the author-statistics build — the reference's
  * `final_tables.py` + `augmentations.py` with the per-author Python loop
  * (`final_tables.py:143-158`, O(authors×papers)) replaced by grouped
  * aggregations: every stat is one shuffle on author_id. */
object Augment {

  /** Side-input acquisition boundary. The reference calls
    * api.crossref.org per DOI at ~2.4 rows/s (`augmentations.py:10-57`);
    * semantically it is a left join of article × (doi → type, n_cites,
    * journal_issn). [[CheckpointedEnricher]] is the production shape
    * (rate-limited `mapPartitions` + per-batch checkpoint/resume);
    * [[FixtureEnricher]] joins a local table for tests. */
  trait Enricher {
    /** @return (doi, type, n_cites, journal_issn) */
    def lookup(dois: DataFrame): DataFrame
  }

  /** Fixture-backed enricher (joins a local table instead of HTTP). */
  class FixtureEnricher(fixture: DataFrame) extends Enricher {
    def lookup(dois: DataFrame): DataFrame =
      dois.join(fixture, Seq("doi"), "left")
        .select("doi", "type", "n_cites", "journal_issn")
  }

  /** article + enrichment, then keep journal articles only
    * (`final_tables.py:12-57`: type == 'journal-article'). */
  def articleReady(article: DataFrame, enricher: Enricher): DataFrame = {
    val enriched = enricher.lookup(article.select("doi").distinct())
    article.drop("type", "n_cites", "journal_issn")
      .join(enriched, Seq("doi"), "left")
      .filter(col("type") === "journal-article")
      .select("article_id", "title", "doi", "n_authors", "journal_issn",
        "type", "n_cites", "year")
  }

  /** Journal table from distinct ISSNs × CWTS indicators
    * (`final_tables.py:60-88`, `augmentations.py:91-121`): the reference
    * probes print_issn only — replicated as a join on print_issn with a
    * not-null filter. cwts columns: source_title, print_issn, snip. */
  def journalReady(articleReady: DataFrame, cwts: DataFrame): DataFrame =
    articleReady.select(col("journal_issn")).filter(col("journal_issn").isNotNull)
      .distinct()
      .join(broadcast(cwts.select(
        col("print_issn").as("journal_issn"),
        col("source_title").as("journal_title"),
        col("snip").cast("double").as("snip_latest"))),
        Seq("journal_issn"), "left")
      .filter(col("journal_title").isNotNull)
      .dropDuplicates("journal_issn")

  /** Authorship restricted to surviving articles (`final_tables.py:91-104`). */
  def authorshipReady(authorship: DataFrame, articleReady: DataFrame): DataFrame =
    authorship.join(articleReady.select("article_id").distinct(),
      Seq("article_id"), "left_semi")

  /** The author table with gender, counts, citation stats, coauthor stats,
    * h-index and the four pandas-average ranks (`final_tables.py:107-177`).
    *
    * Scale shape: 4 aggregations + 2 windows, each hash-partitioned on
    * author_id; the coauthor count is the one 2-hop join (authorship ⋈
    * authorship on article_id) and shuffles on article_id then author_id —
    * no driver-side loops anywhere. The four ranks are built from the
    * unranked stats frame in one [[GroupOps.pandasAvgRanksDesc]] call. */
  def authorReady(author: DataFrame, authorshipReady: DataFrame,
      articleReady: DataFrame, namesGenders: DataFrame): DataFrame =
    authorRanked(authorStats(author, authorshipReady, articleReady, namesGenders))

  /** The four ranks over [[authorStats]]' frame, and the author table's
    * columns. The rank tables and the join base each read `stats`, so
    * [[ArxivPipeline.run]] persists it first and the stats are computed
    * once instead of once per copy. */
  private[arxiv] def authorRanked(stats: DataFrame): DataFrame =
    GroupOps.pandasAvgRanksDesc(stats, Seq(
        "total_pubs" -> "rank_total_pubs",
        "total_cites" -> "rank_total_cites",
        "avg_cites" -> "rank_avg_cites",
        "hindex" -> "rank_hindex"))
      .select("author_id", "last_name", "first_name", "middle_name",
        "gender", "total_pubs", "total_cites", "avg_cites", "med_coauthors",
        "n_unique_coauthors", "hindex", "rank_total_pubs", "rank_total_cites",
        "rank_avg_cites", "rank_hindex")

  /** [[authorReady]] before the ranks: names, gender and the stats. */
  private[arxiv] def authorStats(author: DataFrame, authorshipReady: DataFrame,
      articleReady: DataFrame, namesGenders: DataFrame): DataFrame = {
    // only authors present in the surviving authorship set: the inner
    // join with `pubs` below keeps exactly those (its keys are the
    // authorship author ids, and a null key never joins)
    val base = author
      .join(broadcast(namesGenders.select("first_name", "gender")
        .dropDuplicates("first_name")), Seq("first_name"), "left")

    // total_pubs counts authorship rows directly (reference:
    // final_tables.py:125-126 groups the authorship table, NOT the
    // article-joined stats — the two differ if referential integrity is
    // ever broken, as in the reference's own shipped data)
    val pubs = authorshipReady.groupBy("author_id")
      .agg(count(lit(1)).cast("int").as("total_pubs"))

    // per-(author, article) stats source: citations + coauthor counts
    val stats = authorshipReady
      .join(articleReady.select("article_id", "n_cites", "n_authors"), Seq("article_id"))

    val perAuthor = stats.groupBy("author_id").agg(
      sum("n_cites").cast("int").as("total_cites"),
      round(sum("n_cites") / count(lit(1)), 3).as("avg_cites"),
      expr("percentile(n_authors - 1, 0.5)").as("med_coauthors"))

    val hidx = GroupOps.hIndex(stats, "author_id", "n_cites", "hindex")

    // distinct coauthors − 1 (self): 2-hop via shared articles
    val coauth = authorshipReady.as("l")
      .join(authorshipReady.select(col("article_id"),
        col("author_id").as("coauthor_id")).as("r"), Seq("article_id"))
      .groupBy("author_id")
      .agg((countDistinct("coauthor_id") - lit(1)).cast("int").as("n_unique_coauthors"))

    base
      .join(pubs, Seq("author_id"))
      .join(perAuthor, Seq("author_id"))
      // left + coalesce: hIndex drops NULL citation counts, so an author
      // whose every n_cites is NULL has no hidx row — reference semantics
      // give them h-index 0, not removal from the author table
      .join(hidx, Seq("author_id"), "left")
      .withColumn("hindex", coalesce(col("hindex"), lit(0)))
      .join(coauth, Seq("author_id"))
  }

  /** Referential closure of the two remaining tables
    * (`final_tables.py:180-203` + dag:116). */
  def articleCategoryReady(articleCategory: DataFrame, articleReady: DataFrame): DataFrame =
    articleCategory.join(articleReady.select("article_id").distinct(),
      Seq("article_id"), "left_semi")

  def categoryReady(category: DataFrame, articleCategoryReady: DataFrame): DataFrame =
    category.join(articleCategoryReady.select("category_id").distinct(),
      Seq("category_id"), "left_semi")
}
