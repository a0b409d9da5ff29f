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
    * iteration), and every [[TruncateEvery]]-th iteration is MATERIALIZED
    * (persist + count), truncating the plan the next iteration builds on
    * (CacheManager.useCachedData substitutes the cached subtree with an
    * InMemoryRelation leaf at analysis time, so both the optimizer and
    * AQE see a shallow tree). The default is every iteration — measured,
    * with a history lesson: the pre-round-10 shape chained all
    * iterations lazily into ONE job on the claim that eager
    * materialization cost a scheduler round-trip each ("measured 10x
    * slower") — but that measurement predates the cache-cleared harness
    * era, when repeat runs silently re-read run 1's persisted leaves.
    * The honest same-session A/B (TimeQuery q68_t* probes, round 10,
    * sf0.1, 5 iterations) reads: no truncation 11.9-31 s (and 25-29 s
    * in a second session — the unrolled 5-deep join/agg tree's
    * optimizer+AQE cost dominates and swings with session weather),
    * truncate-every-2 7.2-9.3 s, truncate-every-1 via persist 6.6-7.3 s,
    * via localCheckpoint 9.2-10.6 s (the checkpoint's UnsafeRow store
    * costs a write the columnar cache doesn't here). persist wins over
    * localCheckpoint for truncation and also keeps recompute-on-eviction
    * correctness: an evicted iteration re-derives from lineage instead
    * of failing. Deep runs stay storage-bounded: once iteration i is
    * materialized, iteration i-1's cache is released (trailing
    * unpersist), so at most two rank frames are pinned at a time plus
    * edges/degrees/nodes (deep runs add one small (node, rank)
    * checkpoint per [[RebaseEvery]] window, kept because cache
    * recompute-on-eviction may re-read it; the ContextCleaner releases
    * them — see the rebase comment in the loop). The final frame is materialized once; every
    * intermediate persist is released before returning, so repeated
    * calls do not accumulate cache. Only the returned frame stays cached
    * (callers unpersist when done). */
  def ranks(spark: SparkSession, edges: DataFrame, iters: Int,
      truncateEvery: Int = TruncateEvery,
      truncViaCheckpoint: Boolean = false,
      hoistDeg: Boolean = HoistDeg,
      eagerTrunc: Boolean = EagerTrunc): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(truncateEvery >= 1, s"truncateEvery must be >= 1, got $truncateEvery")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // LOOP-INVARIANT join hoist (round 13, guide §2.4): `e ⋈ deg` is
    // constant across iterations — outdeg depends only on the edge set —
    // so one persisted (src, dst, outdeg) frame removes a join from
    // every iteration. Arithmetic is untouched (`rank div outdeg` over
    // identical rows), so ranks are bit-identical; PageRankSpec pins
    // both forms against the in-memory reference. MEASURED SLOWER at
    // bench scale (see [[HoistDeg]] for the numbers and why: the deg
    // join is a broadcast there, the hoisted frame a wider per-iteration
    // cache scan) — kept as the dial for graphs whose deg table outgrows
    // the broadcast threshold, where the per-iteration join becomes an
    // |E|-shuffle.
    val eDeg =
      if (hoistDeg)
        e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
      else null
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // scalar to driver: bounded, documented
    if (n == 0) { // empty graph: empty ranks, not a division by zero
      (Seq(e, deg, nodes) ++ Option(eDeg)).foreach(_.unpersist(false))
      import spark.implicits._
      return spark.emptyDataset[(Long, Long)].toDF("node", "rank")
    }
    val init = Scale / n
    val base = (15L * init) / 100L
    var ranks = nodes.select(col("node"), lit(init).as("rank"))
    var prevTrunc: Option[DataFrame] = None
    var lazyPins = List.empty[DataFrame]
    for (i <- 1 to iters) {
      val joined =
        if (hoistDeg)
          eDeg.join(ranks.withColumnRenamed("node", "src"), "src")
        else
          e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
      val contrib = joined
        .groupBy("dst")
        .agg(sum(expr("rank div outdeg")).as("insum"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(insum, 0L)) div 100")).as("rank"))
      if (i % truncateEvery == 0 && i < iters) {
        if (truncViaCheckpoint) {
          // a LogicalRDD leaf; measured SLOWER than persist here (see
          // scaladoc A/B) and recompute-on-eviction fails — kept as the
          // measured alternative, not the default
          ranks = Pin(ranks)
        } else if (!eagerTrunc) {
          // LAZY truncation (round 14, VERDICT r13 #2 — fold the
          // per-iteration materialization into the next job): persist()
          // registers the iteration with the CacheManager immediately,
          // so iteration i+1 still compiles against an InMemoryRelation
          // leaf (the substitution happens at cache REGISTRATION, not
          // materialization — each persist() call pays only the driver-
          // side planning of a depth-1-over-IMR tree), but NO job is
          // scheduled: the pending chain of cache builds executes inside
          // the next materializing action — the RebaseEvery checkpoint
          // or the final count — collapsing `iters` driver round-trips
          // into iters/RebaseEvery. The cost is storage: up to
          // RebaseEvery rank frames stay registered until the window's
          // rebase point frees them (the eager path bounds it at 2),
          // MEMORY_AND_DISK so deep windows spill rather than OOM.
          ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
          lazyPins ::= ranks
          if (i % RebaseEvery == 0) {
            // one materializing job per window; resets the logical plan
            // to a LogicalRDD leaf (the r12 plan-depth lesson) and lets
            // the window's lazy cache entries go
            ranks = Pin(ranks)
            lazyPins.foreach(_.unpersist(false))
            lazyPins = Nil
          }
        } else {
          ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
          ranks.count() // materialize: the next iteration plans on an
          // InMemoryRelation leaf instead of the unrolled tree
          prevTrunc.foreach(_.unpersist(false)) // trailing release
          prevTrunc = Some(ranks)
          if (i % RebaseEvery == 0) {
            // PLAN-DEPTH rebase (round 12, the deep-run leg): the cache
            // substitution truncates EXECUTION, but the `ranks` var's
            // LOGICAL plan still nests one level per iteration, and
            // per-iteration analysis + AQE plan-string generation grow
            // ~quadratically with that depth — at 20 iterations the
            // persist-only form spent minutes inside generateTreeString
            // and died on driver memory (24g), while flat-plan ckpt ran
            // 25-31 s (TimeQuery q68_iters20 vs q68_iters20_ckpt). A
            // localCheckpoint here reads the just-persisted cache (no
            // recompute) and resets the plan to a LogicalRDD leaf;
            // rebasing only every [[RebaseEvery]] keeps the declared
            // 5-iteration path byte-identical to the measured r10 A/B
            // winner (persist, no rebase triggered) while bounding any
            // deep run's plan depth.
            ranks = Pin(ranks)
            prevTrunc.foreach(_.unpersist(false))
            prevTrunc = None
          }
        }
      }
    }
    val out = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the final iteration (and, on the lazy
    // path, every pending cache build behind it — one job)
    (Seq(e, deg, nodes) ++ Option(eDeg) ++ prevTrunc ++ lazyPins)
      .foreach(_.unpersist(false))
    out
  }

  /** Materialize-and-truncate cadence: every iteration (measured best —
    * scaladoc A/B on [[ranks]]). */
  val TruncateEvery = 1

  /** Iterations between plan-depth rebases on the persist truncation
    * path (see the loop comment): deep enough that the declared
    * 5-iteration bench shape never rebases, shallow enough that a deep
    * run's analysis cost stays linear. */
  val RebaseEvery = 5

  /** Materialize each truncated iteration with an eager count() (the r10
    * A/B winner) vs registering the cache lazily and letting the next
    * materializing action build the whole window's chain in one job (the
    * round-14 VERDICT-r13-#2 arm — see the loop comment).
    *
    * LAZY by round-14 measurement: two interleaved TimeQuery sessions at
    * sf0.1 (q68_eager vs q68_lazy, 4 runs each, order swapped between
    * sessions) read floors 7.71 vs 6.86 and 8.57 vs 8.23 — lazy wins
    * both sessions' floors (−11% / −4%) and 5 of 7 calm same-index
    * pairs, by removing the per-iteration driver action (5 count() jobs
    * → 1 final count; the driver round-trip was the measured scheduler
    * floor, VERDICT r13: q68 runs 2.2× FASTER on 8 cores than 32 at
    * sf0.1). The r10 eager result is not contradicted — that A/B was
    * persist+count vs NO truncation (the unrolled-plan hazard); this one
    * keeps the per-iteration cache registration (so plans stay depth-1
    * over IMR leaves) and changes only WHEN the blocks materialize.
    * Trade: up to RebaseEvery rank frames registered per window instead
    * of 2 (MEMORY_AND_DISK — spills, never OOMs); deep runs still
    * rebase+free every [[RebaseEvery]] iterations (q68_lazy_iters20 arm;
    * PageRankSpec pins 12-iter bit-identity across two windows). */
  @volatile private[graft] var EagerTrunc = false

  /** Hoist the loop-invariant `e ⋈ deg` join out of the iteration loop
    * (see the comment at the hoist site). MEASURED SLOWER at bench scale
    * and kept OFF: two interleaved TimeQuery sessions at sf0.1
    * (q68_hoist vs q68_plain, 3+4 runs) read floors 11.37 vs 9.86 and
    * 10.68 vs 9.22 — AQE broadcasts the |V|-sized deg table (~21k rows
    * here), so the "hoisted" join was already a near-free broadcast per
    * iteration, while the hoisted (src, dst, outdeg) frame is a WIDER
    * cached scan every iteration plus one extra preamble
    * materialization. The hoist wins only where deg outgrows the
    * broadcast threshold (|V| ~ 10^8+, where a per-iteration |E|-shuffle
    * join would appear) — that is the dial's documented use, not the
    * local default. */
  val HoistDeg = false

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
