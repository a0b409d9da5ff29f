package graft.tools

import graft.core.Sessions

/** Ad-hoc single-query timer for decomposition work: runs one declared
  * query (or a named internal stage) N times against a data directory and
  * prints per-run wall seconds. Bench/ScaleBench own the round artifacts;
  * this exists for the "which stage is the time going to" question they
  * can't answer — e.g. q115's cluster fit vs its pair join.
  *
  * Usage: runMain graft.tools.TimeQuery [--interleave] <dir> <name>[,name...] [runs]
  * (--interleave: round-robin the names per run index so cross-stage
  * deltas share box weather — see main)
  * Names: any SparkEntry.queries key, plus stage probes:
  *   q115_clusters — just the semantic-dedup Lloyd fit + assignment
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    // fail fast on unknown flags (ADVICE r11): a typo'd --interleave
    // silently running the sequential schedule would invalidate a
    // same-weather delta protocol with no signal
    require(flags.subsetOf(Set("--interleave")),
      s"unknown flags: ${(flags -- Set("--interleave")).mkString(", ")}")
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: TimeQuery [--interleave] <dir> <name>[,name...] [runs]")
    val (dir, names) = (pos(0), pos(1).split(",").toSeq)
    val runs = if (pos.length > 2) pos(2).toInt else 2
    // --interleave (round 11): run round-robin over the name list
    // (run1 of every name, then run2 of every name, ...) instead of
    // all runs of name1 first. Cross-stage DELTAS then compare runs
    // taken minutes apart under the same box weather — this session's
    // slow drift (~1.4x across one morning) made sequential-stage
    // arithmetic mushy twice before this flag existed.
    val interleave = flags.contains("--interleave")
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "timequery")
    spark.sparkContext.setLogLevel("ERROR")
    // The "stage" shingle-form arms: the staging write runs while the
    // frame is built, and its shuffle files (hot-df aggregate +
    // anti-join) are only deleted after a driver GC lets the
    // ContextCleaner see them unreachable. On the disk-bound decades the
    // form exists for, reclaiming them before the rest of the timed plan
    // shuffles is the point, so the arm requests a GC right after
    // building (advisory: a no-op under -XX:+DisableExplicitGC; library
    // code never forces a GC). A staged directory the arm's frame still
    // reads is deleted by the per-run sweep below.
    val stagedFrees = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def staged(df: org.apache.spark.sql.DataFrame,
        free: () => Unit = () => ()): org.apache.spark.sql.DataFrame = {
      System.gc()
      stagedFrees += free
      df
    }
    val stages: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "q115_clusters" -> ((s, d) => graft.queries.VectorQueries.semanticClusters(
        graft.core.Tables.embeddings(s, d))),
      // shingle-frame form A/B (round 12, VERDICT r11 #1): the r11
      // docShingles change traded the frame-distinct's exchange-reuse
      // for per-consumer rescans and landed with only a stormy-window
      // bench behind it — these arms run the DECLARED q34/q44 plans
      // with the three forms (rescan = current, pin = one shared
      // localCheckpoint, distinct = the r10 exchange-reuse form) so one
      // --interleave session decides the default on shared weather.
      // Pin-arm checkpoint blocks are swept by the per-run
      // getPersistentRDDs cleanup below.
      "q34_rescan" -> ((s, d) => graft.operators.Dedup.ngramJaccardForm(
        graft.core.Tables.documents(s, d), 3, 0.5, "doc_id", "text",
        graft.queries.TextQueries.MaxShingleDf, "rescan")._1
        .orderBy("id_a", "id_b")),
      "q34_pin" -> ((s, d) => graft.operators.Dedup.ngramJaccardForm(
        graft.core.Tables.documents(s, d), 3, 0.5, "doc_id", "text",
        graft.queries.TextQueries.MaxShingleDf, "pin")._1
        .orderBy("id_a", "id_b")),
      "q34_distinct" -> ((s, d) => graft.operators.Dedup.ngramJaccardForm(
        graft.core.Tables.documents(s, d), 3, 0.5, "doc_id", "text",
        graft.queries.TextQueries.MaxShingleDf, "distinct")._1
        .orderBy("id_a", "id_b")),
      "q44_rescan" -> ((s, d) =>
        graft.queries.TextQueries.q44WithForm(s, d, "rescan")),
      "q44_pin" -> ((s, d) =>
        graft.queries.TextQueries.q44WithForm(s, d, "pin")),
      "q44_distinct" -> ((s, d) =>
        graft.queries.TextQueries.q44WithForm(s, d, "distinct")),
      // round-14 disk-shaped arm (VERDICT r13 #3): shingle frame staged
      // once as zstd parquet, re-read per consumer
      "q44_stage" -> ((s, d) => staged(
        graft.queries.TextQueries.q44WithForm(s, d, "stage"))),
      // round-14 grouped candidate join (one corpus shuffle instead of
      // the self-join's two): with rescan and with the staged store
      "q44_groups" -> ((s, d) =>
        graft.queries.TextQueries.q44WithForm(s, d, "rescan", "groups")),
      "q44_stage_groups" -> ((s, d) => staged(
        graft.queries.TextQueries.q44WithForm(s, d, "stage", "groups"))),
      "q34_stage" -> ((s, d) => {
        val (df, free) = graft.operators.Dedup.ngramJaccardForm(
          graft.core.Tables.documents(s, d), 3, 0.5, "doc_id", "text",
          graft.queries.TextQueries.MaxShingleDf, "stage")
        staged(df, free).orderBy("id_a", "id_b")
      }),
      // q115 fit decomposition (round 11): prefix stages of the
      // two-level Lloyd fit — see VectorQueries.fitProbe's scaladoc for
      // the delta arithmetic that isolates each term.
      "q115_fit_quant" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "quant")),
      // round-12 quantization-strategy arm: fused codegen QuantizeExpr
      // vs the interpreted aggregate+transform Column form
      "q115_fit_quant_expr" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "quantexpr")),
      "q115_fit_coarse" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "coarse")),
      "q115_fit_seeds" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "seeds")),
      "q115_fit_assign1" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "assign1")),
      "q115_fit_update1" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "update1")),
      // round-12 update-strategy arms: centroid updates via the VecSum
      // whole-vector aggregate (see VecSum scaladoc) vs the posexplode
      // form — interleave with the plain stages for same-weather deltas
      "q115_fit_coarse_agg" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "coarseagg")),
      // round-12 assign-strategy arm: the coarse prefix with the
      // constant-code-size NearestCentroidExpr assign instead of the
      // k1-literal array_min form (the measured g300 cliff)
      "q115_fit_coarse_nc" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "coarsenc")),
      // all three round-12 strategies at once: the candidate new default
      "q115_clusters_fast" -> ((s, d) => graft.queries.VectorQueries.semanticClusters(
        graft.core.Tables.embeddings(s, d),
        viaVecSum = true, viaNc = true, viaQuantExpr = true)),
      "q115_fit_update1_agg" -> ((s, d) => graft.queries.VectorQueries.fitProbe(
        graft.core.Tables.embeddings(s, d), "update1agg")),
      // isolate the UPDATE strategy alone (ADVICE r12: with the defaults
      // flipped, passing only viaVecSum=true made this arm plan-identical
      // to q115_clusters_fast AND the default q115_clusters — pin the
      // other two strategies to their PLAIN forms so the arm still
      // measures a delta vs q115_fit_update1/the plain fit)
      "q115_clusters_agg" -> ((s, d) => graft.queries.VectorQueries.semanticClusters(
        graft.core.Tables.embeddings(s, d),
        viaVecSum = true, viaNc = false, viaQuantExpr = false)),
      // q79 window-frame pin A/B (round 13, NOTES r12 #5): the span-stat
      // window frame is read twice (df agg + join side) — rescan
      // (declared default) vs one shared localCheckpoint
      "q79_rescan" -> ((s, d) => graft.operators.Dedup.spanDupStats(
        graft.core.Tables.documents(s, d)).orderBy("doc_id")),
      "q79_pin" -> ((s, d) => graft.operators.Dedup.spanDupStats(
        graft.core.Tables.documents(s, d), pinWindows = true).orderBy("doc_id")),
      // q116's salt dial (output-identical; salt only spreads the
      // candidate join's hot keys): the declared default is 2 (commit
      // 8004558, measured ~35% under salt-4 at g10) — probe the OLD
      // default 4 and the floor 1 at depth, where the side-B fan-out
      // (20 combos × salt rows/doc) is the measured wall term
      "q116_salt4" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsCombinatorial(docs,
            maxDist = 3, saltBuckets = 4), threshold = 0.5)
      }),
      "q116_salt1" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsCombinatorial(docs,
            maxDist = 3, saltBuckets = 1), threshold = 0.5)
      }),
      // q35's stage ladder (VERDICT r8 #1: name the super-linear leg, if
      // real, of the g100 wall). Each stage is a PREFIX of the declared
      // q35 plan; stage-to-stage deltas isolate the legs:
      //   shingles           = the n-gram scan + per-shingle hash
      //   sigs − shingles    = the k=16 rehash + groupBy-min aggregation
      //   bands − sigs       = band slicing + posexplode
      //   lsh − bands        = the band self-join + est filter + distinct
      //   q35 − lsh          = exact-Jaccard verification + sort
      "q35_shingles" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, explode, xxhash64}
        graft.core.Tables.documents(s, d)
          .select(col("doc_id").as("id"),
            explode(graft.functions.TextFunctions.shingles(col("text"), 3))
              .as("shingle"))
          .withColumn("h", xxhash64(col("shingle")))
      }),
      // shingle-strategy 2-arm probe (round 13, VERDICT r12 #1): the
      // SAME scan+explode+hash stage with the interpreted HOF form vs
      // the codegen ShinglesExpr (q35_shingles above follows the
      // TextFunctions default). Interleave the pair for same-weather
      // deltas; this stage is where 100% of the shingle cost lives for
      // every family member.
      "q35_shingles_hof" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, explode, xxhash64}
        graft.core.Tables.documents(s, d)
          .select(col("doc_id").as("id"),
            explode(graft.functions.TextFunctions.shinglesViaHof(col("text"), 3))
              .as("shingle"))
          .withColumn("h", xxhash64(col("shingle")))
      }),
      "q35_shingles_expr" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, explode, xxhash64}
        graft.core.Tables.documents(s, d)
          .select(col("doc_id").as("id"),
            explode(graft.functions.ShinglesFn.shinglesVec(col("text"), 3))
              .as("shingle"))
          .withColumn("h", xxhash64(col("shingle")))
      }),
      // full-query arms under each shingle strategy (the flag is read at
      // PLAN-BUILD time inside the timed window, single-threaded here;
      // restored to the default by the next arm's own set)
      "q35_full_hof" -> ((s, d) => {
        graft.functions.TextFunctions.UseShinglesExpr = false
        try graft.SparkEntry.queries("q35_minhash_lsh")(s, d)
        finally graft.functions.TextFunctions.UseShinglesExpr = true
      }),
      "q35_full_expr" -> ((s, d) => {
        graft.functions.TextFunctions.UseShinglesExpr = true
        graft.SparkEntry.queries("q35_minhash_lsh")(s, d)
      }),
      "q35_sigs" -> ((s, d) => graft.operators.Dedup.minhashSignatures(
        graft.core.Tables.documents(s, d), k = 16, n = 3)),
      "q35_bands" -> ((s, d) => graft.operators.Dedup.minhashBandKeys(
        graft.core.Tables.documents(s, d), k = 16, bands = 4, n = 3)),
      "q35_lsh" -> ((s, d) => graft.operators.Dedup.minhashLsh(
        graft.core.Tables.documents(s, d), k = 16, bands = 4,
        minEstimate = 0.5)),
      // pin-strategy A/B for the verify leg (round 9): same declared
      // query, intermediates pinned via persist() vs localCheckpoint().
      // Run the pair interleaved in ONE session — cross-session walls
      // swing ~2x on this VM and cache entries are cleared between runs,
      // so these are honest same-weather compute numbers.
      "q35_pin_persist" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccardWithFrees(docs,
          graft.operators.Dedup.minhashLsh(docs, 16, 4, 3, 0.5),
          threshold = 0.5, viaCheckpoint = false)._1.orderBy("id_a", "id_b")
      }),
      "q35_pin_ckpt" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccardWithFrees(docs,
          graft.operators.Dedup.minhashLsh(docs, 16, 4, 3, 0.5),
          threshold = 0.5, viaCheckpoint = true)._1.orderBy("id_a", "id_b")
      }),
      "q97_pin_persist" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccardWithFrees(docs,
          graft.operators.Dedup.prefixCandidates(docs, 0.5, guard = false),
          threshold = 0.5, viaCheckpoint = false)._1.orderBy("id_a", "id_b")
      }),
      "q97_pin_ckpt" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccardWithFrees(docs,
          graft.operators.Dedup.prefixCandidates(docs, 0.5, guard = false),
          threshold = 0.5, viaCheckpoint = true)._1.orderBy("id_a", "id_b")
      }),
      // q68's stage ladder (VERDICT r9 #1: the honest cache-cleared cost
      // has no floor — decompose before touching anything). q68_edges is
      // the bipartite edge build alone (lineitem scan + distinct +
      // union); q68_itersN is the full declared query at N iterations,
      // so (iters5 − iters1)/4 is the marginal per-iteration cost and
      // iters1 − edges ≈ the persist/degree/node-count preamble + one
      // iteration + the final materialize.
      "q68_edges" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
      }),
      "q68_iters1" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 1).orderBy("node")
      }),
      // deep-run leg (round 12, r10 verdict #7): 20 iterations — with
      // q68_iters1/q68_iters3 in the same session, (iters20 − iters3)/17
      // is the deep marginal per-iteration cost; flat marginals confirm
      // the per-iteration plan truncation and the ≤2-pinned-frames bound
      // hold at depth
      "q68_iters20" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 20).orderBy("node")
      }),
      "q68_iters20_ckpt" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 20,
          truncViaCheckpoint = true).orderBy("node")
      }),
      "q68_iters3" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 3).orderBy("node")
      }),
      // truncation-strategy A/B at the declared 5 iterations (round 10 —
      // the measurements the PageRank.ranks scaladoc cites): persist() +
      // count() truncates via CacheManager.useCachedData's
      // InMemoryRelation substitution at analysis time; localCheckpoint
      // via a LogicalRDD leaf. Both bound the plan the next iteration
      // builds on; persist measured faster and recomputes on eviction.
      "q68_t2_ckpt" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, truncateEvery = 2,
          truncViaCheckpoint = true).orderBy("node")
      }),
      "q68_t2_persist" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, truncateEvery = 2,
          truncViaCheckpoint = false).orderBy("node")
      }),
      "q68_t1_ckpt" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, truncateEvery = 1,
          truncViaCheckpoint = true).orderBy("node")
      }),
      // round-13 loop-invariant-join A/B: the declared 5-iteration q68
      // with the per-iteration `e ⋈ deg` join (plain — the pre-r13
      // shape) vs the hoisted persisted (src, dst, outdeg) frame
      // (PageRank.HoistDeg). Interleave the pair; output bit-identical
      // (integer arithmetic over identical rows, PageRankSpec pins it).
      "q68_hoist" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, hoistDeg = true)
          .orderBy("node")
      }),
      "q68_plain" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, hoistDeg = false)
          .orderBy("node")
      }),
      // round-14 truncation-scheduling A/B (VERDICT r13 #2): the declared
      // 5-iteration q68 with the eager per-iteration persist+count (the
      // r10 winner, 1 driver action per iteration) vs lazy cache
      // registration (all pending cache builds fold into the final count
      // — 2 actions total). Bit-identical output (PageRankSpec).
      "q68_eager" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, eagerTrunc = true)
          .orderBy("node")
      }),
      "q68_lazy" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, eagerTrunc = false)
          .orderBy("node")
      }),
      // lazy-path deep-run leg: 20 iterations crossing three RebaseEvery
      // windows — the plan-depth + storage-bound check at depth
      "q68_lazy_iters20" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 20, eagerTrunc = false)
          .orderBy("node")
      }),
      // round-13 q74 top-edge pin A/B: the wedge-close join reads its
      // edge input 3x; rescan re-derives the whole CoOccur pipeline per
      // read (12 scans in the r13 plan audit), pin cuts it to one via an
      // eager 100-row localCheckpoint. Output identical (plan cut).
      "q74_pin" -> ((s, d) =>
        graft.queries.AnalyticsQueries.q74WithPin(s, d, pinTop = true)),
      "q74_rescan" -> ((s, d) =>
        graft.queries.AnalyticsQueries.q74WithPin(s, d, pinTop = false)),
      // round-13 co-occurrence form A/B (the round-1 "pairsViaGroups is
      // slower" verdict was measured with interpreted HOF combination
      // emitters — re-decide with the codegen PairCombosExpr arm):
      // q21_join = the declared self-join form; q21_groups_hof = per-key
      // explosion, HOF emitter; q21_groups_expr = per-key explosion,
      // codegen emitter. All three output-identical (CoOccurSpec).
      "q21_join" -> ((s, d) => graft.operators.CoOccur.pairs(
        graft.core.Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", minShared = 2L, maxItemsPerKey = 64L)
        .orderBy("item_a", "item_b")),
      "q21_groups_hof" -> ((s, d) => graft.operators.CoOccur.pairsViaGroups(
        graft.core.Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", minShared = 2L, maxItemsPerKey = 64L,
        viaExpr = false)
        .orderBy("item_a", "item_b")),
      "q21_groups_expr" -> ((s, d) => graft.operators.CoOccur.pairsViaGroups(
        graft.core.Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", minShared = 2L, maxItemsPerKey = 64L,
        viaExpr = true)
        .orderBy("item_a", "item_b")),
      // round-14 simhash-family decomposition + strategy arms (VERDICT
      // r13 #4 widened): q116_sims is the signature pipeline alone (the
      // stage the keyed join's two sides each re-derive);
      // pin = one localCheckpoint of the narrow (id, simhash) frame;
      // prune = drop singleton (table, key) buckets before the salted
      // self-join. All output-identical (DedupSpec scheme equivalence).
      "q116_sims" -> ((s, d) => graft.operators.Dedup.simhashDocsPortable(
        graft.core.Tables.documents(s, d))),
      "q116_cands" -> ((s, d) => graft.operators.Dedup.simhashPairsCombinatorial(
        graft.core.Tables.documents(s, d), maxDist = 3)),
      "q116_pin" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsCombinatorial(docs, maxDist = 3,
            pinSims = true), threshold = 0.5)
      }),
      "q116_prune" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsCombinatorial(docs, maxDist = 3,
            pruneSingletons = true), threshold = 0.5)
      }),
      "q116_pin_prune" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsCombinatorial(docs, maxDist = 3,
            pinSims = true, pruneSingletons = true), threshold = 0.5)
      }),
      "q122_pin_prune" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsPermuted(docs, maxDist = 3,
            pinSims = true, pruneSingletons = true), threshold = 0.5)
      }),
      "q123_pin_prune" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.simhashPairsCombinatorial(docs, maxDist = 3,
            nBlocks = 7, pinSims = true, pruneSingletons = true),
          threshold = 0.5)
      }),
      // round-14 q35 minhash dials: same pin/prune pattern as the simhash
      // family (the band join re-derives the 16-hash signature pipeline
      // per side and carries both 128-byte signatures per candidate row)
      "q35_pin_prune" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.minhashLsh(docs, k = 16, bands = 4,
            minEstimate = 0.5, pinSigs = true, pruneSingletons = true),
          threshold = 0.5)
          .orderBy("id_a", "id_b")
      }),
      // round-14 q100 exact-dedup shape A/B (VERDICT r13 #5): window
      // (full-text shuffle by fp, the pre-r14 shape) vs narrow min-agg +
      // left-semi (one text shuffle, shared with the component join)
      "q100_window" -> ((s, d) =>
        graft.queries.TextQueries.q100WithExact(s, d, minAgg = false)),
      "q100_minagg" -> ((s, d) =>
        graft.queries.TextQueries.q100WithExact(s, d, minAgg = true)),
      // round-14 q97 stage ladder (VERDICT r13 #6): keys = shingle df +
      // per-doc rank windows; cands = + positional self-join + distinct;
      // declared q97 = + exact-Jaccard verify. Deltas isolate the legs.
      // q97_pin runs the declared plan with the prefix frame
      // localCheckpointed (each self-join side otherwise re-derives it).
      "q97_keys" -> ((s, d) => graft.operators.Dedup.prefixKeys(
        graft.core.Tables.documents(s, d), threshold = 0.5)),
      "q97_cands" -> ((s, d) => graft.operators.Dedup.prefixCandidates(
        graft.core.Tables.documents(s, d), threshold = 0.5, guard = false)),
      "q97_pin" -> ((s, d) => {
        val docs = graft.core.Tables.documents(s, d)
        graft.operators.Dedup.verifiedJaccard(docs,
          graft.operators.Dedup.prefixCandidates(docs, threshold = 0.5,
            guard = false, pinPrefix = true), threshold = 0.5)
          .orderBy("id_a", "id_b")
      }),
      "q68_t1_persist" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val sp = graft.core.Tables.lineitem(s, d)
          .select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.PageRank.ranks(s, edges, 5, truncateEvery = 1,
          truncViaCheckpoint = false).orderBy("node")
      }))
    // absorb the fresh-JVM classload/codegen cost (~9 s measured — the
    // PartProbe per-session warmup lesson) so run1 of the first name
    // isn't charged for it; VM stall waves can still hit the first
    // window, so the protocol stays p50 + per-leg minima
    spark.range(1000000).selectExpr("id % 97 AS k").groupBy("k").count().count()
    val all = graft.SparkEntry.queries ++ stages
    val schedule: Seq[(String, Int)] =
      if (interleave) for (i <- 1 to runs; n <- names) yield (n, i)
      else for (n <- names; i <- 1 to runs) yield (n, i)
    schedule.foreach { case (name, i) =>
      val fn = all.getOrElse(name, sys.error(s"unknown query $name"))
      locally {
        val t0 = System.nanoTime()
        // noop-sink materialization (Sessions.materialize): count() lets
        // the optimizer prune work out of the timed plan
        Sessions.materialize(fn(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        // outside the timed window: cache entries are keyed by logical
        // plan, so without this a repeat run reuses the previous run's
        // persisted verify intermediates and reports cache-read speed
        spark.catalog.clearCache()
        // clearCache() frees only CacheManager entries — localCheckpoint
        // blocks live outside it and otherwise accumulate across repeat
        // runs until a driver GC (ADVICE r9: the pin A/B's ckpt legs ran
        // under growing residual storage while the persist legs were
        // swept clean each run). Unpersisting every still-persistent RDD
        // frees checkpoint blocks for the pin entries AND for declared
        // queries that checkpoint internally (q35/q97/q119/q120),
        // symmetrically for every leg. Safe here: nothing re-executes a
        // prior run's plan.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        stagedFrees.foreach(_())
        stagedFrees.clear()
        println(f"[timequery] $name run$i $dt%.2f s")
      }
    }
    spark.stop()
  }
}
