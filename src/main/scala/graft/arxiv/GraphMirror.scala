package graft.arxiv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property-graph mirror as vertex/edge DataFrames — the reference loads
  * the same star schema into Neo4j (`dags/scripts/neo4j_queries.py:59-123`,
  * derived edges `dags/research_pipeline_dag.py:353-369`). All its graph
  * queries are ≤2-hop, so plain equi-joins cover the whole Cypher surface.
  *
  * Fidelity notes:
  *  - node MERGE ⇒ dropDuplicates(id) per label;
  *  - AUTHORED/BELONGS_TO/PUBLISHED_IN use MERGE ⇒ deduped;
  *  - COAUTHORS uses CREATE ⇒ one edge per shared article per direction,
  *    duplicates intended (`dag:353-357`) — preserved here. */
object GraphMirror {

  /** vertices(id, label): Author, Article, Journal, Category. */
  def vertices(t: ArxivTables): DataFrame =
    t.author.select(col("author_id").as("id"), lit("Author").as("label"))
      .union(t.article.select(col("article_id"), lit("Article")))
      .union(t.journal.select(col("journal_issn"), lit("Journal")))
      .union(t.category.select(col("category_id"), lit("Category")))
      .dropDuplicates("id", "label")

  /** edges(src, dst, label). */
  def edges(t: ArxivTables): DataFrame = {
    val authored = t.authorship
      .select(col("author_id").as("src"), col("article_id").as("dst"),
        lit("AUTHORED").as("label")).dropDuplicates()
    val belongsTo = t.articleCategory
      .select(col("article_id").as("src"), col("category_id").as("dst"),
        lit("BELONGS_TO").as("label")).dropDuplicates()
    val publishedIn = t.article.filter(col("journal_issn").isNotNull)
      .join(t.journal.select("journal_issn"), Seq("journal_issn"), "left_semi")
      .select(col("article_id").as("src"), col("journal_issn").as("dst"),
        lit("PUBLISHED_IN").as("label")).dropDuplicates()
    // CREATE semantics: keep one edge per (pair, shared article), both directions
    val coauthors = t.authorship.as("l")
      .join(t.authorship.select(col("article_id"),
        col("author_id").as("coauthor_id")).as("r"), Seq("article_id"))
      .filter(col("author_id") =!= col("coauthor_id"))
      .select(col("author_id").as("src"), col("coauthor_id").as("dst"),
        lit("COAUTHORS").as("label"))
    authored.union(belongsTo).union(publishedIn).union(coauthors)
  }

  /** G1: node/edge counts per label (`research_pipeline_dag.py:258-282`). */
  def countsByLabel(vertices: DataFrame, edges: DataFrame): DataFrame =
    vertices.groupBy("label").agg(count(lit(1)).as("n")).withColumn("kind", lit("vertex"))
      .union(edges.groupBy("label").agg(count(lit(1)).as("n")).withColumn("kind", lit("edge")))

  /** G2: 1-hop COAUTHORS ego network of an author (README.md:296-310);
    * withEgo=false drops the ego endpoint rows' src column semantics. */
  def egoNetwork(edges: DataFrame, authorId: String): DataFrame =
    edges.filter(col("label") === "COAUTHORS" &&
      (col("src") === authorId || col("dst") === authorId))

  /** The MERGE'd AUTHORED edges as distinct (article_id, author_id)
    * pairs — the reference's authorship PK. Two authors of one article can
    * share a synthesized author id, so the authorship table may repeat a
    * pair; the G3 builders read these pairs, as their Cypher twins do. */
  private def authoredPairs(t: ArxivTables): DataFrame =
    t.authorship.select("article_id", "author_id").distinct()

  /** G3 (analytical_queries.ipynb cells 57-59): 2-hop ego network via
    * AUTHORED, literal Cypher orientation — for each of the ego's
    * articles, the collected coauthors. `withEgo=false` is cell 59's
    * `WHERE coauthor <> author`: the ego is excluded from the collect,
    * and a solo-authored article disappears entirely (the Cypher MATCH
    * finds no coauthor row to return — inner-join semantics, preserved
    * by filtering before the groupBy). */
  def egoArticleCoauthors(t: ArxivTables, authorId: String,
      withEgo: Boolean = true): DataFrame = {
    val authored = authoredPairs(t)
    val egoArticles = authored.filter(col("author_id") === authorId)
      .select("article_id")
    val hop2 = authored
      .join(egoArticles, Seq("article_id"), "left_semi")
    val filtered = if (withEgo) hop2 else hop2.filter(col("author_id") =!= authorId)
    filtered
      .join(t.article.select("article_id", "title", "year"), Seq("article_id"))
      .groupBy("article_id", "title", "year")
      .agg(sort_array(collect_list(col("author_id"))).as("coauthors"),
        count(lit(1)).as("n_coauthors"))
      .orderBy("article_id")
  }

  /** G3, per-coauthor orientation (the cell-59 StackOverflow framing:
    * "which coauthors share the most articles with the ego"): coauthor →
    * collect_list(struct(article)) + shared count, strongest ties first. */
  def egoCoauthorArticles(t: ArxivTables, authorId: String): DataFrame = {
    val authored = authoredPairs(t)
    val egoArticles = authored.filter(col("author_id") === authorId)
      .select("article_id")
    authored
      .join(egoArticles, Seq("article_id"), "left_semi")
      .filter(col("author_id") =!= authorId)
      .join(t.article.select("article_id", "title", "year"), Seq("article_id"))
      .groupBy(col("author_id").as("coauthor_id"))
      .agg(
        sort_array(collect_list(struct(col("article_id"), col("title"), col("year"))))
          .as("shared_articles"),
        count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("coauthor_id"))
  }

  /** G4: articles published in a journal by title (README.md:318-322). */
  def articlesInJournal(t: ArxivTables, title: String): DataFrame =
    t.article.join(
      broadcast(t.journal.filter(col("journal_title") === title)
        .select("journal_issn")), Seq("journal_issn"), "left_semi")

  /** G5: articles in a category subdomain cited > minCites (README.md:329-333). */
  def articlesInSubdomain(t: ArxivTables, subdom: String, minCites: Int): DataFrame =
    t.article.filter(col("n_cites") > minCites)
      .join(t.articleCategory, Seq("article_id"), "left_semi")
      .join(t.articleCategory.join(
        broadcast(t.category.filter(col("subdom") === subdom)
          .select("category_id")), Seq("category_id"), "left_semi")
        .select("article_id").distinct(), Seq("article_id"), "left_semi")
}
