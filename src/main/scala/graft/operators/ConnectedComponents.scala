package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin

/** Connected components over an undirected pair set — the resolution step
  * that turns near-dup PAIRS (Dedup.ngramJaccard / minhashLsh /
  * simhashPairs output) into canonical keep-sets: every document maps to
  * the smallest doc id reachable through the duplicate relation.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * standard shuffle-bounded formulation at 10^11-edge scale:
  *
  *  - large-star: every neighbor v > u re-attaches to m = min(Γ⁺(u));
  *  - small-star: every neighbor v <= u (and u itself) re-attaches to m.
  *
  * Each half-round is a groupBy(u).min + an equi-join back on u — the
  * join key equals the aggregation key, so the min table reuses the
  * groupBy's shuffle partitioning (no extra exchange; AQE broadcasts it
  * when small). No per-node neighbor lists are materialized (a
  * collect_list formulation would OOM on the star root, which accumulates
  * its whole component), and convergence is O(log n) rounds independent
  * of component diameter — unlike min-label propagation, whose round
  * count on a 100 TB duplicate CHAIN is the chain length. `maxIter`
  * bounds the loop, a (count, hash-sum) signature detects the fixpoint,
  * and a [[graft.core.Pin]] truncates lineage each round (the same reason
  * GraphX checkpoints inside Pregel); the pins report their real size,
  * so a caller joining the small output against a corpus broadcasts it.
  */
object ConnectedComponents {

  /** @param pairs undirected edges, two columns (defaults id_a/id_b);
    *              self-loops and duplicate edges are tolerated
    * @param requireConverged when true (default), throw if the star rounds
    *              exhaust `maxIter` before reaching the fixpoint — an
    *              unconverged edge set silently yields WRONG components
    *              (nodes still chained through intermediates), which on a
    *              dedup pipeline means keeping duplicates; fail loudly
    *              instead. Pass false only for diagnostics.
    * @param onRound diagnostic hook, called once after the initial edge
    *              materialization (round 0: pair lineage + symmetrize +
    *              distinct) and once per star round with (round, seconds,
    *              edge rows) — the wall-exponent decomposition tool
    *              ([[graft.tools.CCRounds]]) uses it to pin whether a
    *              super-linear total comes from round COUNT or per-round
    *              cost. No-op by default; never changes the result.
    * @return (id, component) — one row per distinct node in `pairs`,
    *         component = min node id of its connected component */
  def resolve(pairs: DataFrame, srcCol: String = "id_a", dstCol: String = "id_b",
      maxIter: Int = 20, requireConverged: Boolean = true,
      onRound: (Int, Double, Long) => Unit = (_, _, _) => ()): DataFrame = {
    val tInit = System.nanoTime()
    // Evaluate the (possibly expensive) pair lineage exactly ONCE: the
    // callers feed ngramJaccard/minhashLsh output whose shingle-df
    // aggregates and candidate self-join would otherwise recompute for
    // the `nodes` frame below — measured at sf0.1 this halved q100's
    // near-dup stage. Only the two id columns are materialized.
    val p = Pin(pairs.select(col(srcCol).as("a"), col(dstCol).as("b")))
    // symmetrize once; edges keep BOTH directions so Γ(u) is one groupBy
    var edges = Pin(p.select(col("a").as("u"), col("b").as("v"))
      .union(p.select(col("b").as("u"), col("a").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct())

    def starStep(es: DataFrame, large: Boolean): DataFrame = {
      val mins = es.groupBy("u").agg(min("v").as("minv"))
        .select(col("u"), least(col("u"), col("minv")).as("m"))
      val joined = es.join(mins, Seq("u"))
      val emitted =
        if (large)
          joined.filter(col("v") > col("u"))
            .select(col("v").as("x"), col("m").as("y"))
        else
          joined.filter(col("v") <= col("u"))
            .select(col("v").as("x"), col("m").as("y"))
            .union(mins.select(col("u").as("x"), col("m").as("y")))
      val dedup = emitted.filter(col("x") =!= col("y"))
      dedup.select(col("x").as("u"), col("y").as("v"))
        .union(dedup.select(col("y").as("u"), col("x").as("v")))
        .distinct()
    }

    def signature(df: DataFrame): (Long, Long) = {
      val r = df
        .agg(count(lit(1)), coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    onRound(0, (System.nanoTime() - tInit) / 1e9, sig._1)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      edges = Pin(starStep(starStep(edges, large = true), large = false))
      val next = signature(edges)
      converged = next == sig
      sig = next
      iter += 1
      onRound(iter, (System.nanoTime() - t0) / 1e9, next._1)
    }
    if (requireConverged && !converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter star rounds; " +
          "raise maxIter (rounds needed grow O(log n), so a small bump goes far)")

    // at the fixpoint the graph is a union of depth-1 stars rooted at
    // component minima: component(u) = min(u, min(Γ(u)))
    val nodes = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id"))).distinct()
    nodes.join(edges.groupBy("u").agg(min("v").as("m")),
        nodes("id") === col("u"), "left")
      .select(col("id"), least(col("id"), coalesce(col("m"), col("id"))).as("component"))
  }
}
