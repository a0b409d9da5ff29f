package graft.arxiv

import org.apache.spark.sql.DataFrame

/** The reference's Cypher graph queries (README.md §5.2, G2-G5) as
  * Spark-SQL strings over the graph-mirror views — the `spark.sql` twin
  * of [[GraphMirror]]'s DataFrame builders, completing the pattern
  * [[ArxivSql]] set for the DWH queries Q1-Q4.
  *
  * The SQL runs against `vertices(id, label)` / `edges(src, dst, label)`
  * (registered by [[GraphSql.registerGraphViews]]) plus the property
  * tables `article` / `journal` / `category` for vertex properties — the
  * same split Neo4j itself has between structure (the MATCH pattern) and
  * properties (the WHERE/RETURN clauses):
  *
  *  - G2 `(a)-[:COAUTHORS]-(b)` — an undirected edge filter;
  *  - G3 `(ego)-[:AUTHORED]->(art)<-[:AUTHORED]-(coauthor)` — the 2-hop
  *    pattern is two scans of the AUTHORED edges joined on the article;
  *    `withEgo=false` replicates cell 59's `WHERE coauthor <> author`
  *    inner-match semantics (a solo-authored article vanishes);
  *  - G4 `(art)-[:PUBLISHED_IN]->(j {title})` — edge + property lookup;
  *  - G5 `(art)-[:BELONGS_TO]->(c {subdom})` + `art.n_cites >` — one
  *    membership test against the subdomain's BELONGS_TO edges, as in the
  *    builder: an article with such an edge belongs to some category, so
  *    no separate any-category test is made.
  *
  * String arguments are escaped with [[GraphSql.lit]] — callers pass raw
  * ids/titles, never pre-quoted SQL fragments.
  */
object GraphSql {

  /** Register the graph mirror as `vertices` / `edges` temp views
    * (property tables come from [[ArxivPipeline.registerViews]]). */
  def registerGraphViews(vertices: DataFrame, edges: DataFrame): Unit = {
    vertices.createOrReplaceTempView("vertices")
    edges.createOrReplaceTempView("edges")
  }

  /** Single-quoted SPARK-SQL string literal. Spark's default parser
    * treats backslash as an escape AND concatenates adjacent string
    * literals (so the ANSI `''` doubling would silently turn `O''Brien`
    * into `OBrien`): the correct escaping here is backslash-doubling
    * first, then backslash-escaping quotes. */
  def lit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** G2: 1-hop COAUTHORS ego network (README.md:296-310). */
  def g2EgoNetwork(authorId: String): String = {
    val a = lit(authorId)
    s"""SELECT src, dst, label FROM edges
       |WHERE label = 'COAUTHORS' AND (src = $a OR dst = $a)""".stripMargin
  }

  /** G3, per-article orientation (analytical_queries.ipynb cells 57-59):
    * the ego's articles with their collected author lists. */
  def g3EgoArticleCoauthors(authorId: String, withEgo: Boolean = true): String = {
    val a = lit(authorId)
    val conds = Seq(
      "au.label = 'AUTHORED'",
      s"au.dst IN (SELECT dst FROM edges WHERE label = 'AUTHORED' AND src = $a)") ++
      (if (withEgo) Nil else Seq(s"au.src <> $a"))
    s"""SELECT ar.article_id, ar.title, ar.year,
       |       sort_array(collect_list(au.src)) AS coauthors,
       |       count(*) AS n_coauthors
       |FROM edges au
       |JOIN article ar ON au.dst = ar.article_id
       |WHERE ${conds.mkString("\n  AND ")}
       |GROUP BY ar.article_id, ar.title, ar.year
       |ORDER BY ar.article_id""".stripMargin
  }

  /** G3, per-coauthor orientation (cell 59's StackOverflow framing):
    * coauthors of the ego ranked by shared-article count. */
  def g3EgoCoauthorArticles(authorId: String): String = {
    val a = lit(authorId)
    s"""SELECT au.src AS coauthor_id,
       |       sort_array(collect_list(struct(ar.article_id, ar.title, ar.year)))
       |         AS shared_articles,
       |       count(*) AS n_shared
       |FROM edges au
       |JOIN article ar ON au.dst = ar.article_id
       |WHERE au.label = 'AUTHORED'
       |  AND au.dst IN (SELECT dst FROM edges
       |                 WHERE label = 'AUTHORED' AND src = $a)
       |  AND au.src <> $a
       |GROUP BY au.src
       |ORDER BY n_shared DESC, coauthor_id""".stripMargin
  }

  /** G4: articles published in a journal looked up by title
    * (README.md:318-322). */
  def g4ArticlesInJournal(title: String): String =
    s"""SELECT a.* FROM article a
       |WHERE a.article_id IN (
       |  SELECT e.src FROM edges e
       |  JOIN journal j ON e.dst = j.journal_issn
       |  WHERE e.label = 'PUBLISHED_IN' AND j.journal_title = ${lit(title)})""".stripMargin

  /** G5: articles in a category subdomain cited more than `minCites`
    * times (README.md:329-333). */
  def g5ArticlesInSubdomain(subdom: String, minCites: Int): String =
    s"""SELECT a.* FROM article a
       |WHERE a.n_cites > $minCites
       |  AND a.article_id IN (
       |    SELECT e.src FROM edges e
       |    JOIN category c ON e.dst = c.category_id
       |    WHERE e.label = 'BELONGS_TO' AND c.subdom = ${lit(subdom)})""".stripMargin
}
