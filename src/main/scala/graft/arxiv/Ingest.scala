package graft.arxiv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TransliterateFn.transliterate

/** Bronze→silver ingest: the reference's `raw_to_tables.py` re-expressed as
  * declarative Spark transforms.
  *
  * The reference stream-parses 3.6 GB of JSONL single-threaded in 476 s
  * (BASELINE.md); here the scan is `spark.read.schema(...).json` — schema
  * pruning drops the heavy unused fields at parse time and the scan
  * parallelizes per file split, so the same ingest distributes to any
  * cluster width. Filters run before the explode fan-out (same order as the
  * reference, `raw_to_tables.py:54-70`) and Catalyst pushes them into the
  * scan. */
object Ingest {

  /** Columns: article_id, title, doi, categories, date, authors_parsed. */
  def bronze(spark: SparkSession, jsonlPath: String): DataFrame =
    spark.read.schema(ArxivSchemas.raw).json(jsonlPath)
      .withColumnRenamed("id", "article_id")
      .withColumnRenamed("update_date", "date")

  /** DOI present, unique id, CS-not-physics, non-trivial title
    * (`raw_to_tables.py:54-70`). dropDuplicates keeps an arbitrary row
    * where pandas kept the first in file order — ids are unique in the real
    * dump, so the difference is theoretical. */
  def filterArticles(bronze: DataFrame): DataFrame =
    bronze
      .filter(col("doi").isNotNull)
      .dropDuplicates("article_id")
      .filter(col("categories").contains("cs.") && !col("categories").contains("physics"))
      .filter(length(col("title")) > 10)

  /** Explode authors_parsed ([last, first middle] pairs) into per-author
    * rows with cleaned names and the synthesized author id
    * (`raw_to_tables.py:87-126`): unidecode→transliterate, strip
    * punctuation/non-alphanumerics, id = last_name + first initial. */
  def authorshipRaw(filtered: DataFrame): DataFrame = {
    val cleanup: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => trim(regexp_replace(c, "[^a-zA-Z0-9]", ""))
    filtered
      .select(col("article_id"), explode(col("authors_parsed")).as("ap"))
      .withColumn("fm", split(get(col("ap"), lit(1)), " "))
      .select(
        col("article_id"),
        cleanup(transliterate(get(col("ap"), lit(0)))).as("last_name"),
        cleanup(transliterate(get(col("fm"), lit(0)))).as("first_name"),
        // middle name: punctuation strip only, no transliteration —
        // mirrors raw_to_tables.py:106 exactly; get() is null-safe where
        // ANSI element_at throws on short arrays
        cleanup(regexp_replace(get(col("fm"), lit(1)), "[,.;-]", "")).as("middle_name"))
      .withColumn("author_id", concat(col("last_name"), substring(col("first_name"), 1, 1)))
  }

  def authorship(authorshipRaw: DataFrame): DataFrame =
    authorshipRaw.select("article_id", "author_id")

  /** One row per author id; conflicting name spellings resolved by the
    * minimum (last, first, middle) tuple — deterministic where the
    * reference kept whichever row came first in file order. */
  def author(authorshipRaw: DataFrame): DataFrame =
    authorshipRaw
      .groupBy("author_id")
      .agg(min(struct(col("last_name"), col("first_name"), col("middle_name"))).as("n"))
      .select(col("author_id"), col("n.last_name"), col("n.first_name"), col("n.middle_name"))

  /** Explode space-separated category codes (`raw_to_tables.py:129-142`). */
  def articleCategory(filtered: DataFrame): DataFrame =
    filtered.select(col("article_id"),
      explode(split(col("categories"), " ")).as("category_id"))

  def category(articleCategory: DataFrame): DataFrame =
    articleCategory
      .select(col("category_id"),
        split(col("category_id"), "\\.").getItem(0).as("superdom"),
        split(col("category_id"), "\\.").getItem(1).as("subdom"))
      .dropDuplicates("category_id")

  /** Article projection with derived n_authors and year
    * (`raw_to_tables.py:145-153`); journal_issn/type/n_cites arrive in the
    * augment stage. */
  def article(filtered: DataFrame): DataFrame =
    filtered.select(
      col("article_id"), col("title"), col("doi"),
      size(col("authors_parsed")).as("n_authors"),
      lit(null).cast("string").as("journal_issn"),
      lit(null).cast("string").as("type"),
      lit(null).cast("int").as("n_cites"),
      split(col("date"), "-").getItem(0).cast("int").as("year"))

  /** Cross-table consistency: drop articles (and their authorships) that
    * have any null or too-short (<4 chars) author id; drop those authors
    * (`raw_to_tables.py:176-187`, anti-join form of the isin filters). */
  def consistent(article: DataFrame, authorship: DataFrame, author: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val bad = authorship
      .filter(col("author_id").isNull || length(col("author_id")) < 4)
      .select("article_id").distinct()
    val cleanArticle = article.join(bad, Seq("article_id"), "left_anti")
    val cleanAuthorship = authorship.join(bad, Seq("article_id"), "left_anti")
    val cleanAuthor = author
      .filter(col("author_id").isNotNull && length(col("author_id")) >= 4)
    (cleanArticle, cleanAuthorship, cleanAuthor)
  }

  /** Full silver build from a bronze frame. */
  def silver(bronzeDf: DataFrame): ArxivTables = {
    val f = filterArticles(bronzeDf)
    silverFrom(f, authorshipRaw(f))
  }

  /** The silver tables from the filtered articles and their
    * [[authorshipRaw]] explode — the one definition both [[silver]] and
    * [[ArxivPipeline.run]] (which persists the two inputs) build from. */
  private[arxiv] def silverFrom(filtered: DataFrame, authorshipRaw: DataFrame)
      : ArxivTables = {
    val (art, auth, au) = consistent(article(filtered), authorship(authorshipRaw),
      author(authorshipRaw))
    val ac = articleCategory(filtered)
    ArxivTables(art, au, auth, ac, category(ac), journal = null)
  }
}

/** The six reference tables as DataFrames (journal filled by Augment). */
case class ArxivTables(
    article: DataFrame,
    author: DataFrame,
    authorship: DataFrame,
    articleCategory: DataFrame,
    category: DataFrame,
    journal: DataFrame)
