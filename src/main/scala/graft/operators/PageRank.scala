package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Pin

/** Fixed-iteration PageRank in pure integer arithmetic.
  *
  * Floating-point PageRank is order-dependent (FP addition does not
  * associate), so two engines — or two runs with different partition
  * counts — disagree in the last ulp and a bit-exact oracle compare is
  * impossible. Here every rank is a Long scaled by `scale` (default
  * 1e12), the damping factor 0.85 is `(85 * x) / 100` with integral
  * division, and per-edge shares are `rank / outdeg` with integral
  * division. Long addition is exact and commutative, so the result is
  * bit-identical regardless of partitioning, engine, or summation
  * order — a DuckDB twin unrolling the same iterations reproduces every
  * rank exactly (the small mass lost to integral division is lost
  * identically in both engines).
  *
  * Scale shape: each iteration is one shuffle-join of ranks with edges
  * on `src` plus one aggregation on `dst` — the standard distributed
  * PageRank step. `edges` and the out-degree table are persisted since
  * every iteration re-reads them; ranks are persisted per-iteration so
  * the unrolled lineage is never recomputed. Node count `n` is a scalar
  * aggregate collected to the driver (one Long — the same bounded
  * pattern as the IVF centroid collect, Similarity.scala).
  */
object PageRank {

  val Scale = 1000000000000L // 1e12: rank unit = 1e-12

  /** Ranks after `iters` damped iterations over the directed edge list
    * `edges` (columns `src`, `dst`; pass both directions for an
    * undirected graph). The ranked node set is every vertex that
    * appears in the edge list (source or destination) — EVERY node
    * keeps the damping base term each iteration, including nodes with
    * no in-links (a source-only node must retain its 15% share, not
    * drop out of the rank set). Returns (node: Long, rank: Long), rank
    * scaled by [[Scale]].
    *
    * next(v) = (15 * (Scale/n)) / 100  +  (85 * Σ_{u→v} rank(u)/outdeg(u)) / 100
    * with every division integral. Contributions from dangling nodes
    * (no out-edges) are dropped, the standard simplification.
    *
    * Caching: edges/degrees/node set persist (each is read once per
    * iteration), and every iteration but the last is TRUNCATED: its
    * ranks are registered with the CacheManager (persist), so the next
    * iteration plans on an InMemoryRelation leaf instead of the unrolled
    * tree (CacheManager.useCachedData substitutes the cached subtree at
    * analysis time, so both the optimizer and AQE see a shallow tree).
    * Measured, with a history lesson: the pre-round-10 shape chained
    * all iterations lazily into ONE unrolled job, and the honest
    * same-session A/B (round 10, sf0.1, 5 iterations) read no truncation
    * 11.9-31 s (the unrolled 5-deep join/agg tree's optimizer+AQE cost
    * dominates and swings with session weather), truncate-every-2
    * 7.2-9.3 s, truncate-every-1 via persist 6.6-7.3 s, via
    * localCheckpoint 9.2-10.6 s. persist also keeps
    * recompute-on-eviction correctness: an evicted iteration re-derives
    * from lineage instead of failing.
    *
    * The registration is LAZY (round 14): persist() schedules no job,
    * so the pending chain of cache builds executes inside the next
    * materializing action — the [[RebaseEvery]] rebase or the final
    * count — collapsing `iters` driver round-trips into
    * iters/RebaseEvery. Two interleaved sessions at sf0.1 read floors
    * 7.71 vs 6.86 s and 8.57 vs 8.23 s for an eager per-iteration
    * persist+count against this form. The cost is storage: up to
    * RebaseEvery rank frames stay registered per window,
    * MEMORY_AND_DISK so deep windows spill rather than OOM.
    *
    * The loop-invariant `e ⋈ deg` join stays inside the loop: AQE
    * broadcasts the |V|-sized deg table, so the per-iteration join is
    * near-free, and a hoisted (src, dst, outdeg) frame measured slower
    * at sf0.1 (floors 11.37 vs 9.86 s and 10.68 vs 9.22 s) as a wider
    * cached scan every iteration.
    *
    * The final frame is materialized once; every intermediate persist
    * is released before returning, so repeated calls do not accumulate
    * cache. Only the returned frame stays cached (callers unpersist when
    * done). */
  def ranks(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // scalar to driver: bounded, documented
    if (n == 0) { // empty graph: empty ranks, not a division by zero
      Seq(e, deg, nodes).foreach(_.unpersist(false))
      import spark.implicits._
      return spark.emptyDataset[(Long, Long)].toDF("node", "rank")
    }
    val init = Scale / n
    val base = (15L * init) / 100L
    var ranks = nodes.select(col("node"), lit(init).as("rank"))
    var lazyPins = List.empty[DataFrame]
    for (i <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .groupBy("dst")
        .agg(sum(expr("rank div outdeg")).as("insum"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(insum, 0L)) div 100")).as("rank"))
      if (i < iters) {
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
        lazyPins ::= ranks
        if (i % RebaseEvery == 0) {
          // PLAN-DEPTH rebase (round 12, the deep-run leg): the cache
          // substitution truncates EXECUTION, but the `ranks` var's
          // LOGICAL plan still nests one level per iteration, and
          // per-iteration analysis + AQE plan-string generation grow
          // ~quadratically with that depth (at 20 iterations a
          // persist-only form spent minutes inside generateTreeString
          // and died on driver memory). One materializing job per
          // window resets the plan to a LogicalRDD leaf and lets the
          // window's lazy cache entries go.
          ranks = Pin(ranks)
          lazyPins.foreach(_.unpersist(false))
          lazyPins = Nil
        }
      }
    }
    val out = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the final iteration and every pending
    // cache build behind it — one job
    (Seq(e, deg, nodes) ++ lazyPins).foreach(_.unpersist(false))
    out
  }

  /** Iterations between plan-depth rebases (see the loop comment):
    * deep enough that the declared 5-iteration bench shape never
    * rebases, shallow enough that a deep run's analysis cost stays
    * linear. */
  val RebaseEvery = 5

  /** DuckDB twin of [[ranks]]: unrolled CTE chain with identical integer
    * arithmetic (`//` integral division; sums cast back to BIGINT since
    * DuckDB widens sum(BIGINT) to HUGEINT) and the same all-nodes base
    * term (left join from the node set, in-sum coalesced to 0).
    * `edgesSql` must yield columns (src, dst) including both directions
    * if undirected. */
  def ranksSql(edgesSql: String, iters: Int): String = {
    require(iters >= 1)
    val head =
      s"""WITH e AS ($edgesSql),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |consts AS (SELECT ${Scale}::BIGINT // count(*) AS init,
         |  (15 * (${Scale}::BIGINT // count(*))) // 100 AS base FROM nodes),
         |r0 AS (SELECT node, init AS rank FROM nodes, consts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |  CAST(sum(r.rank // d.outdeg) AS BIGINT) AS insum
         |  FROM e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |  (SELECT base FROM consts) + (85 * coalesce(c.insum, 0)) // 100 AS rank
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT node, rank FROM r$iters"
  }
}
