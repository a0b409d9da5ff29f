package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Pin, Tables}
import graft.functions.{VectorFunctions => V}
import graft.operators.{Dedup, Similarity}

/** Similarity-search battery over the `embeddings` table (64-dim float
  * vectors). Cosine math folds in double precision left-to-right on both
  * engines, so rounded values hash-match.
  *
  * The approximate variants (q39 LSH, q41 IVF) use DETERMINISTIC,
  * SQL-reproducible machinery — ±1 Rademacher hyperplanes and data-seeded
  * centroids — so the full approximate top-k is DuckDB-oracle-verifiable,
  * not just rows-counted. The plane/centroid literals in the oracle SQL
  * are generated from the same Scala arrays the Spark plan uses.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q39's LSH family: 8 seeded ±1 planes over the 64-dim embedding
    * space (q40's default blocking family lives in Dedup.nearDupPlanes). */
  private[graft] val lshPlanesQ39: Array[Array[Double]] = V.rademacherPlanes(8, 64)

  /** Brute-force cosine top-3 for the first 10 vectors as queries. */
  def q38KnnBrute(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.knnBruteForce(e, e.filter(col("vec_id") < 10), k = 3)
      .orderBy("query_id", "rn")
  }

  /** LSH-bucketed approximate top-3 (the scale path: one bucket shuffle,
    * then per-bucket candidate joins). Rademacher ±1 planes make every
    * bucket id and cosine SQL-reproducible → full hash oracle. */
  def q39KnnLsh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.knnLshWith(e, e.filter(col("vec_id") < 10), lshPlanesQ39, k = 3)
      .orderBy("query_id", "rn")
  }

  /** Embedding near-dup pairs with the default (LSH-bucket) blocking —
    * label blocking went quadratic on low-cardinality corpora (VERDICT r2
    * §wrong 3). cosine ≥ 0.3: the synthetic corpus has no planted vector
    * dups; τ relaxed to exercise the operator non-trivially. */
  def q40EmbedNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDup(Tables.embeddings(s, d), threshold = 0.3)
      .orderBy("id_a", "id_b")

  /** The AT-SCALE embedding near-dup (the documented default for large
    * corpora): plane count grows as ceil(log2(n/targetPerBucket)) so
    * bucket populations — and therefore candidate work per row — stay
    * constant as the corpus grows, where q40's fixed 16 buckets are
    * Θ(n²/16) asymptotically. Radius-1 multiprobe recovers the recall
    * the extra planes cost. Fully DuckDB-mirrored: the oracle recomputes
    * the corpus-count scalar, the masked bucket, the XOR multiprobe, and
    * every cosine (see Dedup.embeddingNearDupAdaptiveOracleSql).
    *
    * DIAL DECISION (round 7, VERDICT r6 #6): q113 stays UNCAPPED BY
    * DESIGN — it is the exact-recall flagship (BLOCKDIAL_r06: the full
    * radius-1 probe set is near-lossless, 99.95-100% planted-pair
    * recall at every decade), and its residual volume exponent
    * ~1.15-1.19 is the documented probe-log + plane-skew term, not a
    * defect. Deep-corpus users trade that term away explicitly via
    * [[q117EmbedNearDupCapped]] (cap 8: volume exponent converging
    * 1.075 → 1.006 at g30 for a 0.05-0.6% recall cost, cap mirrored in
    * its oracle). Keeping the flagship uncapped keeps its oracle an
    * exact-recall proof; capping it here would silently weaken what the
    * hash match certifies. */
  def q113EmbedNearDupAdaptive(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupAdaptive(Tables.embeddings(s, d), threshold = 0.3)
      .orderBy("id_a", "id_b")

  /** Probe-plane cap of q117's declared capped near-dup form: 8 planes
    * flipped at most, freezing the probe count — and with it the
    * candidate volume's log n growth term — once the corpus needs more
    * than 8 planes (CANDVOL_r06: capped volume exponent 1.07 on the
    * g3→g10 leg vs 1.19 uncapped). */
  val CappedProbePlanes = 8

  /** q113's probe-CAPPED declared form — the ≤1.1-exponent configuration
    * of the adaptive near-dup (NOTES r6): identical bucket scheme, but
    * side B flips only the first [[CappedProbePlanes]] planes, so probe
    * fan-out stops growing with the corpus at the documented recall cost
    * on deep corpora (~0.93 → ~0.87 on cos≥0.99 pairs at 10 planes,
    * pinned in CandVolSpec). At fixture scale the corpus needs ≤ 8
    * planes, so the cap is inactive and q117 ≡ q113 — the oracle mirrors
    * the cap in its flips CTE either way, so the hash compare proves the
    * capped machinery, and CandVol/BENCH_SCALE measure where the capped
    * volume diverges (g3/g10). */
  def q117EmbedNearDupCapped(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupAdaptive(Tables.embeddings(s, d), threshold = 0.3,
      maxProbePlanes = CappedProbePlanes)
      .orderBy("id_a", "id_b")

  /** IVF approximate top-3 with data-seeded centroids (embeddings of
    * vec_id < 8) and nprobe=2 — deterministic and SQL-reproducible, so
    * the whole operator is hash-verified. The KMeans-cell variant
    * ([[Similarity.knnIvf]]) keeps its recall pinned in SimilaritySpec. */
  def q41KnnIvf(s: SparkSession, d: String): DataFrame =
    Similarity.knnIvfSeeded(Tables.embeddings(s, d),
      Tables.embeddings(s, d).filter(col("vec_id") < 10),
      k = 3, nCells = 8, nprobe = 2)
      .orderBy("query_id", "rn")

  /** Symmetric int8 quantization of every embedding: per-vector scale,
    * integer checksum, and the max reconstruction error (bounded by
    * scale/2 per component) — the storage-reduction step a 10^9-vector
    * corpus takes before indexing. Elementwise math only, so DuckDB
    * reproduces every value. */
  def q47EmbedQuantize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    e.select(col("vec_id"), col("embedding"), V.quantScale(col("embedding")).as("__s"))
      .withColumn("q", V.quantize(col("embedding"), col("__s")))
      .select(col("vec_id"),
        round(col("__s"), 6).as("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("sum_q"),
        round(aggregate(
          zip_with(col("q"), col("embedding"),
            (q, x) => abs(q.cast("double") * col("__s") - x.cast("double"))),
          lit(0.0), (a, v) => greatest(a, v)), 6).as("max_err"))
      .orderBy("vec_id")
  }

  /** k-means cluster count / Lloyd iterations for [[q99Kmeans]]. */
  val KmK = 4
  val KmIters = 3
  /** Embedding dimensionality, used by the oracle's unrolled distance
    * expressions (the Spark side infers it from data). */
  private val KmDim = 64

  /** Deterministic integer k-means (the q68-PageRank discipline applied
    * to clustering): Lloyd iterations over int8-QUANTIZED vectors with
    * all distance and centroid arithmetic in exact integers — squared-L2
    * distances are BIGINT sums, centroid components are
    * floor(sum/count) on exactly-representable doubles — so every
    * iteration is bit-identical across engines, partitionings, and
    * cluster sizes, and the whole 3-iteration run has a DuckDB twin via
    * unrolled CTEs. Seeding is data-deterministic (the quantized vectors
    * of vec_id 0..k-1), ties break toward the lower centroid id.
    *
    * Scale shape: centroids are k×dim numbers — driver-resident between
    * iterations (the documented bounded collect, as in knnIvfSeeded) and
    * injected as literals, so ASSIGNMENT is a narrow map over the corpus
    * (no join, no shuffle) and each iteration costs exactly one
    * (cid, component) aggregate of k×dim rows. The corpus shuffles
    * nothing but pre-combined partial sums, at any corpus size. */
  /** (vec_id, qv) — the int8-quantized corpus the Lloyd machinery runs
    * on (shared by q99 and q115). */
  /** Quantization strategy: `false` = the Column form (aggregate +
    * transform higher-order functions — CodegenFallback, interpreted,
    * per-element BigDecimal in the builtin round); `true` = the fused
    * codegen [[graft.functions.QuantizeExpr]]. Outputs bit-identical
    * (QuantizeUtil scaladoc has the argument; FunctionLaws and
    * VectorQueriesSpec the assertions). DEFAULT TRUE by measurement
    * (BENCH_SCALE_r12_q115stages, g300 interleaved pair): quant stage
    * 45.4/46.7 s interpreted vs 0.63/1.10 s fused — 42×; the quantize
    * pass was the whole fit floor at g100 (~21 of 24.6 s) and the
    * largest term left in the post-NcAssign coarse fit at g300. */
  private[graft] val CodegenQuantize = true

  private[graft] def quantizedFrame(e: DataFrame,
      viaExpr: Boolean = CodegenQuantize): DataFrame =
    if (viaExpr)
      e.select(col("vec_id"),
        graft.functions.QuantizeFn.quantizeVec(col("embedding")).as("qv"))
    else
      e.select(col("vec_id"),
        V.quantize(col("embedding"), V.quantScale(col("embedding"))).as("qv"))

  /** Squared distance to a constant centroid — the codegen expression
    * ([[graft.functions.SqDistExpr]]); integer-identical to the old
    * `aggregate(zip_with(...))` fold, which evaluated interpreted and
    * dominated the flat fit's wall time (n·k of these per iteration). */
  private def distTo(cv: Array[Long]): Column =
    graft.functions.SqDistFn.sqDist(col("qv"), cv)

  /** Flat-assignment strategy: `false` = the Column formulation
    * (array_min over k literal struct(sq_dist, cid) sub-expressions —
    * generated code GROWS with k, and past a threshold between k=40
    * and k=70 the hot method stops being JIT-compilable: the round-12
    * g300 fit decomposition measured the coarse fit at 383 s against
    * ~2 s of the same work at g100's k1=40, with quantize linear and
    * the update aggregate ruled out by its own A/B arm — the
    * k1-literal assign is the residual by elimination, the same
    * code-size cliff [[assignedFine]] hit at 484 literals and solved
    * with [[graft.functions.NearestCentroidExpr]]'s constant-size
    * generated code); `true` = that same expression with a single-cell
    * table. Outputs bit-identical: the expression's strict-minimum
    * fid-ascending loop IS array_min's lexicographic (dist, cid)
    * struct-min (its scaladoc carries the argument; the
    * VectorQueriesSpec strategy test asserts it end-to-end). DEFAULT
    * TRUE by measurement (BENCH_SCALE_r12_q115stages, g300 interleaved
    * pair): coarse prefix 330.9/337.5 s with the k1=70-literal form vs
    * 55.9/60.5 s via NearestCentroidExpr — and ~46 s of the remainder
    * is the interpreted quantize, so the assign itself shrank ~20×.
    * This was the round-11 open residual (g300 fit floor 399.9 vs a
    * 137 s distance model). */
  private[graft] val NcAssign = true

  /** Nearest-centroid assignment (ties toward the lower cid): a narrow
    * map over the corpus — centroids are injected as literals (Column
    * form) or as one table reference ([[NcAssign]] form), so no join
    * and no shuffle either way. */
  private def assignedTo(q: DataFrame, cents: Seq[(Int, Array[Long])],
      viaNc: Boolean = NcAssign): DataFrame =
    if (viaNc) {
      val table = Map(0 -> cents.sortBy(_._1).toArray)
      q.withColumn("m",
          graft.functions.NearestCentroidFn.nearestCentroid(lit(0), col("qv"), table))
        .select(col("vec_id"), col("qv"),
          col("m.fid").as("cid"), col("m.dist").as("dist"))
    } else {
      val scored = cents.map { case (cid, cv) =>
        struct(distTo(cv).as("dist"), lit(cid).as("cid"))
      }
      q.withColumn("m", array_min(array(scored: _*)))
        .select(col("vec_id"), col("qv"),
          col("m.cid").as("cid"), col("m.dist").as("dist"))
    }

  /** `iters` Lloyd iterations from the data-deterministic seed (the
    * quantized vectors of vec_id 0..k-1); returns the final centroids.
    * Centroids are k×dim numbers, driver-resident between iterations
    * (the documented bounded collect); each iteration costs one
    * (cid, component) aggregate. */
  /** Centroid-update strategy for the Lloyd fits. `false` = the
    * original posexplode formulation (fan each row into dim (cid, i, x)
    * rows, two-level scalar aggregate); `true` = ONE
    * [[graft.functions.VecSum]] aggregate per group (whole-vector
    * partial state, no n·dim fan-out, k·parts instead of k·dim·parts
    * emitted partials). Outputs are bit-identical —
    * Math.floorDiv(sum, n) == floor(sum.toDouble / n) at these
    * magnitudes (VecSum scaladoc has the argument, VectorQueriesSpec
    * the assertion). DEFAULT TRUE by measurement
    * (BENCH_SCALE_r12_q115stages): full fit 405.5 → 350.2 s at g300
    * with only this strategy swapped (six update aggregates saved
    * ~9 s each); at g100 the isolated update1 delta read 3.1/5.5 s
    * posexplode vs 1.1/2.3 s VecSum on both interleaved runs. */
  private[graft] val VecSumUpdates = true

  /** Sums+count → centroid components, shared by both VecSum update
    * paths: comp_i = floorDiv(sum_i, n). */
  private def centsFromSums(sums: Seq[Long], n: Long): Array[Long] = {
    val out = new Array[Long](sums.length)
    var i = 0
    while (i < out.length) { out(i) = Math.floorDiv(sums(i), n); i += 1 }
    out
  }

  private def lloydCentroids(q: DataFrame, k: Int, iters: Int,
      viaVecSum: Boolean = VecSumUpdates,
      viaNc: Boolean = NcAssign): Seq[(Int, Array[Long])] = {
    var cents: Seq[(Int, Array[Long])] = q.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("qv"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Int](1).map(_.toLong).toArray))
      .sortBy(_._1).toSeq
    require(cents.size == k,
      s"k-means seeding needs vec_ids 0..${k - 1} present; found ${cents.size}")
    for (_ <- 1 to iters) {
      cents =
        if (viaVecSum)
          assignedTo(q, cents, viaNc)
            .groupBy("cid")
            .agg(graft.functions.VecSum(col("qv")).as("sums"),
              count(lit(1)).as("n"))
            .collect()
            .map(r => (r.getInt(0), centsFromSums(r.getSeq[Long](1), r.getLong(2))))
            .sortBy(_._1).toSeq
        else
          assignedTo(q, cents, viaNc)
            .select(col("cid"), posexplode(col("qv")).as(Seq("i", "x")))
            .groupBy("cid", "i")
            .agg(floor(sum(col("x").cast("long")).cast("double") / count(lit(1)))
              .cast("long").as("comp"))
            .groupBy("cid")
            .agg(transform(array_sort(collect_list(struct(col("i"), col("comp")))),
              _.getField("comp")).as("cv"))
            .collect()
            .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
            .sortBy(_._1).toSeq
    }
    cents
  }

  // Deliberately NOT pinned across iterations (round 11, contrast
  // coarseAssigned): q99's k is the fixed bench-scale KmK=16 and its
  // declared corpus is sf0.1 (20k vectors), where the fit's wall is
  // session/codegen-bound, not scan-bound — the lineage-pin win that
  // cut q115's corpus-scale fit 1.4-5.5x (BENCH_SCALE_r11_q115stages)
  // rounds to noise here, and the pin would leave either a persisted
  // RDD behind a lazily-returned frame or an extra eager checkpoint in
  // the plan. If q99 is ever declared at corpus scale, route it
  // through the coarseAssigned pattern instead of re-deriving this.
  def q99Kmeans(s: SparkSession, d: String): DataFrame = {
    val q = quantizedFrame(Tables.embeddings(s, d))
    val cents = lloydCentroids(q, KmK, KmIters)
    val centroidSum = cents.map { case (cid, cv) =>
      (col("cid") === cid, lit(cv.sum))
    }.foldLeft(lit(null).cast("long")) { case (acc, (cond, v)) =>
      when(cond, v).otherwise(acc)
    }
    assignedTo(q, cents).groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum("dist").as("inertia"),
        min("vec_id").as("min_member"))
      .withColumn("centroid_sum", centroidSum)
      .orderBy("cid")
  }

  /** Cluster floor / target cluster size / cosine threshold /
    * per-cluster bound for [[q115SemanticDedup]]. */
  val SemK = 16
  val SemTargetCluster = 1250L
  val SemTau = 0.3
  val SemMaxCluster = 4000L

  /** q115's cluster count GROWS with the corpus —
    * k = max([[SemK]], ceil(n / [[SemTargetCluster]])) — the SemDeDup
    * paper's own scaling (50k clusters on LAION): per-cluster
    * populations stay ~[[SemTargetCluster]], so within-cluster pair
    * work stays ~n · target instead of n²/k with a frozen k. Integer
    * arithmetic so the oracle lands on the SAME k (one count scalar,
    * the q113 pattern). */
  def semKFor(n: Long): Int =
    math.max(SemK.toLong, (n + SemTargetCluster - 1) / SemTargetCluster).toInt

  /** Coarse branch factor: 1 while k sits at the [[SemK]] floor — with
    * one coarse cell the fine fit IS the flat k-means fit (assignment
    * to a single centroid is cid 0 regardless of its value), so small
    * corpora keep the flat path's cost and bit-identical clusters —
    * else the smallest k1 with k1² >= k (integer loop — an FP sqrt
    * could mis-round at exact squares and the oracle must land on the
    * SAME k1). Fine branch factor is ceil(k / k1). */
  def semK1For(k: Int): Int = {
    if (k <= SemK) 1
    else {
      var k1 = 1
      while (k1 * k1 < k) k1 += 1
      k1
    }
  }

  /** q115's cluster assignment — (vec_id, cid) at the declared
    * configuration. TWO-LEVEL Lloyd (round 6): a coarse k1 = ceil(√k)
    * fit over the corpus, then an independent fine k2 = ceil(k/k1) fit
    * WITHIN each coarse cell (seeds = the cell's k2 lowest vec_ids), so
    * assignment work is n·(k1+k2) ≈ 2n√k distances per pass instead of
    * flat k-means' n·k — with k ∝ n that is the difference between
    * ~n^1.5 and n² fit cost (measured: the flat fit was 46 of q115's
    * 48 s at gen10). The first rung of the hierarchical-k-means ladder
    * the ANN literature uses for exactly this term; deeper recursion
    * reaches n·log n but two levels already make the fit a minority
    * cost at every measured scale. Both levels keep the bit-exact
    * integer Lloyd arithmetic, so the composite cluster id
    * (ccid·k2 + fid) is engine-reproducible and the DuckDB oracle
    * unrolls BOTH levels. Factored out so [[graft.tools.CandVol]]
    * measures the cluster-blocked pair volume from the EXACT blocks the
    * operator joins, not a reimplementation. */
  private[graft] def semanticClusters(e: DataFrame,
      viaVecSum: Boolean = VecSumUpdates,
      viaNc: Boolean = NcAssign,
      viaQuantExpr: Boolean = CodegenQuantize): DataFrame = {
    val k = semKFor(e.count())
    val k1 = semK1For(k)
    val k2 = (k + k1 - 1) / k1
    val q = quantizedFrame(e, viaQuantExpr)
    val coarse = coarseAssigned(q, k1, viaVecSum, viaNc)
    val fine = lloydFine(coarse, k2, KmIters, viaVecSum)
    fine.select(col("vec_id"),
      (col("ccid") * k2 + col("fid")).cast("int").as("cid"))
  }

  /** [[semanticClusters]] plus the checkpoint-release thunk (VERDICT
    * r12 #8 — the WithFrees pattern [[graft.operators.Dedup
    * .verifiedJaccardWithFrees]] established): the returned thunk frees
    * the coarse assignment's pinned checkpoint blocks via
    * [[graft.core.Pin.free]] (Dataset.unpersist is a
    * silent no-op on checkpointed frames — the round-9 find). Call it
    * ONLY after fully materializing everything derived from the
    * assignment: the checkpoint truncates lineage, so a freed frame
    * breaks rather than recomputes. Long-lived library sessions calling
    * q115 repeatedly should use this entry; the declared query keeps
    * the ContextCleaner default. */
  private[graft] def semanticClustersWithFree(e: DataFrame,
      viaVecSum: Boolean = VecSumUpdates,
      viaNc: Boolean = NcAssign,
      viaQuantExpr: Boolean = CodegenQuantize): (DataFrame, () => Unit) = {
    val k = semKFor(e.count())
    val k1 = semK1For(k)
    val k2 = (k + k1 - 1) / k1
    val q = quantizedFrame(e, viaQuantExpr)
    val (coarse, free) = coarseAssignedWithFree(q, k1, viaVecSum, viaNc)
    val fine = lloydFine(coarse, k2, KmIters, viaVecSum)
    (fine.select(col("vec_id"),
      (col("ccid") * k2 + col("fid")).cast("int").as("cid")), free)
  }

  /** The checkpoint-backed coarse assignment [[semanticClusters]]
    * builds on — (vec_id, qv, ccid) with truncated
    * lineage, so every fine-level pass reads stored rows instead of
    * re-running scan+quantize.
    *
    * k1 == 1 (corpora at the [[SemK]] floor): every vector lands in
    * coarse cell 0 whatever the centroid, so the coarse fit is skipped
    * and the fine fit equals the flat k-means fit exactly; the
    * localCheckpoint (round 11) still bounds the flat path's lineage —
    * without it every fine pass re-scans the corpus.
    *
    * Coarse branch (round 11, BENCH_SCALE_r11_q115stages): the g300
    * stage probes showed the coarse fit alone costing as much as the
    * WHOLE two-level fit (575/658 s vs full-fit 553–568 s, same
    * morning) even though the fine level runs four more full passes —
    * because [[lloydCentroids]]' iterations each re-execute the
    * scan+quantize lineage (5–6 full parquet scans per fit) while fine
    * reads the checkpointed frame. The fix is the iterative-fit pin
    * PageRank uses for its edges: persist the quantized corpus (n·dim
    * ints, ~1.6 GB at 6M vectors; partition-local blocks on a cluster)
    * for the duration of the coarse fit, release it once the coarse
    * assignment is checkpoint-backed — the fine level never touches q.
    * Bit-identical output: pinning changes nothing about the integer
    * arithmetic.
    *
    * RETENTION (ADVICE r11): the checkpoint blocks (both branches)
    * CANNOT be freed inside the operator — the returned assignment and
    * everything [[semanticClusters]] derives from it read them on every
    * downstream execution, so an eager free would break the caller's
    * plan rather than recompute (localCheckpoint truncates lineage).
    * They are released when the driver GC collects the frame (the
    * ContextCleaner pattern [[graft.operators.Dedup.verifiedJaccard]]
    * documents); the timing harnesses sweep persistent RDDs between
    * runs. A long-lived session calling q115 repeatedly accumulates
    * one quantized-corpus checkpoint per call until a GC cycle —
    * bounded by n·dim ints each, and on a real cluster spread across
    * executor storage; long-lived callers release deterministically via
    * [[semanticClustersWithFree]] (round 13 — the WithFrees entry this
    * paragraph used to name as the fix-if-it-bites). */
  private def coarseAssigned(q: DataFrame, k1: Int,
      viaVecSum: Boolean = VecSumUpdates,
      viaNc: Boolean = NcAssign): DataFrame =
    coarseAssignedWithFree(q, k1, viaVecSum, viaNc)._1

  private def coarseAssignedWithFree(q: DataFrame, k1: Int,
      viaVecSum: Boolean = VecSumUpdates,
      viaNc: Boolean = NcAssign): (DataFrame, () => Unit) =
    if (k1 == 1) {
      val c = Pin(q.withColumn("ccid", lit(0)))
      (c, () => Pin.free(c))
    } else {
      q.persist()
      val c = Pin(assignedTo(q, lloydCentroids(q, k1, KmIters, viaVecSum, viaNc), viaNc)
        .select(col("vec_id"), col("qv"), col("cid").as("ccid")))
      q.unpersist(blocking = false)
      (c, () => Pin.free(c))
    }

  /** Nearest FINE centroid within each row's own coarse cell, via ONE
    * [[graft.functions.NearestCentroidExpr]] carrying the whole centroid
    * table — each row pays k2 distances, not k (the two-level scheme's
    * whole point), and the generated code is constant-size at any k.
    * The previous Column formulation (array_min over a CASE of literal
    * struct arrays) emitted k1·k2 sq_dist sub-expressions in one
    * projection — at gen30 (484 of them) it blew janino's method limits
    * and silently fell back to interpreted evaluation. Ties break
    * (dist, fid) like [[assignedTo]] — the expression mirrors
    * array_min's lexicographic struct-min exactly. */
  private def assignedFine(coarse: DataFrame,
      cents: Map[Int, Seq[(Int, Array[Long])]]): DataFrame = {
    val table = cents.map { case (c, cs) => c -> cs.sortBy(_._1).toArray }
    coarse.withColumn("m", graft.functions.NearestCentroidFn.nearestCentroid(
        col("ccid"), col("qv"), table))
      .select(col("vec_id"), col("qv"), col("ccid"),
        col("m.fid").as("fid"), col("m.dist").as("dist"))
  }

  /** Per-cell fine Lloyd fit: seeds are each cell's k2 lowest vec_ids
    * (cells smaller than k2 get one centroid per member), then `iters`
    * integer Lloyd updates keyed by (ccid, fid). Centroids are at most
    * k1·k2 ≈ k rows of dim numbers — the same bounded driver collect as
    * the flat fit. */
  private def toCellMap(rows: Array[org.apache.spark.sql.Row],
      cv: org.apache.spark.sql.Row => Array[Long]): Map[Int, Seq[(Int, Array[Long])]] =
    rows.map(r => (r.getInt(0), r.getInt(1), cv(r)))
      .groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }

  /** Fine-level seed centroids: each coarse cell's k2 lowest vec_ids
    * (cells smaller than k2 get one centroid per member). */
  private def fineSeeds(coarse: DataFrame,
      k2: Int): Map[Int, Seq[(Int, Array[Long])]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ccid").orderBy("vec_id")
    toCellMap(
      coarse.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k2)
        .select(col("ccid"), (col("rn") - 1).cast("int").as("fid"), col("qv"))
        .collect(),
      r => r.getSeq[Int](2).map(_.toLong).toArray)
  }

  /** ONE fine-level Lloyd update: assign every row to its nearest
    * in-cell fine centroid, then recompute centroids as the per-(cell,
    * fid, component) integer mean — the posexplode fans each row into
    * dim component rows, the first groupBy's map-side partial
    * aggregation collapses them to ≤ cells·k2·dim partials per
    * partition before the shuffle, and the driver collect is ≤ k rows. */
  private def fineUpdate(coarse: DataFrame,
      cents: Map[Int, Seq[(Int, Array[Long])]],
      viaVecSum: Boolean = VecSumUpdates): Map[Int, Seq[(Int, Array[Long])]] =
    if (viaVecSum)
      toCellMap(
        assignedFine(coarse, cents)
          .groupBy("ccid", "fid")
          .agg(graft.functions.VecSum(col("qv")).as("sums"),
            count(lit(1)).as("n"))
          .collect(),
        r => centsFromSums(r.getSeq[Long](2), r.getLong(3)))
    else
      toCellMap(
        assignedFine(coarse, cents)
          .select(col("ccid"), col("fid"), posexplode(col("qv")).as(Seq("i", "x")))
          .groupBy("ccid", "fid", "i")
          .agg(floor(sum(col("x").cast("long")).cast("double") / count(lit(1)))
            .cast("long").as("comp"))
          .groupBy("ccid", "fid")
          .agg(transform(array_sort(collect_list(struct(col("i"), col("comp")))),
            _.getField("comp")).as("cv"))
          .collect(),
        r => r.getSeq[Long](2).toArray)

  private def lloydFine(coarse: DataFrame, k2: Int, iters: Int,
      viaVecSum: Boolean = VecSumUpdates): DataFrame = {
    var cents: Map[Int, Seq[(Int, Array[Long])]] = fineSeeds(coarse, k2)
    for (_ <- 1 to iters) {
      cents = fineUpdate(coarse, cents, viaVecSum)
    }
    assignedFine(coarse, cents)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with k-means, then
    * prune near-duplicate pairs ONLY within clusters — the quadratic
    * pair work is confined to cluster-sized blocks instead of the whole
    * corpus. Re-expressed with this engine's deterministic machinery:
    *
    *  - clustering is the TWO-LEVEL integer Lloyd fit
    *    ([[semanticClusters]]: coarse ceil(√k) cells, then fine
    *    ceil(k/k1) within each, k = [[semKFor]](n), 3 iterations per
    *    level) — bit-identical across engines and partitionings, so
    *    cluster membership (and therefore the dedup decision) is
    *    DuckDB-reproducible, unlike a float KMeans whose assignments
    *    drift on the boundary;
    *  - within each cluster, a vector is REMOVED when any lower-id
    *    member of the same cluster has cosine >= [[SemTau]] with it
    *    (the deterministic keep-one rule the dedup family uses; the
    *    paper keeps a random/farthest-from-centroid representative —
    *    lowest-id is the portable tie-break);
    *  - clusters larger than [[SemMaxCluster]] are excluded from pair
    *    work entirely (members kept), the same bound-the-worst-block
    *    guard as embeddingNearDup.
    *
    * Scale shape: k GROWS with the corpus ([[semKFor]]: max(SemK,
    * ceil(n/[[SemTargetCluster]])) — the paper runs 50k clusters on
    * LAION), so per-cluster populations stay ~SemTargetCluster and
    * total pair work is ~n · SemTargetCluster — the same linear-in-n
    * contract as q113's adaptive planes, reached through clustering
    * instead of hashing; CandVol measures the blocked pair volume
    * directly. The Lloyd fit itself costs n·k distances per iteration
    * (the documented cost of SemDeDup's clustering step — the paper
    * spends it on GPUs); assignment is a narrow map (centroid
    * literals, no join), and the only shuffles are the per-cluster
    * aggregates and the bounded within-cluster pair join.
    *
    * Output: (vec_id, cid, kept) for every vector — the corpus
    * annotated with its cluster and the keep/remove decision. */
  def q115SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val base = e.select(col("vec_id"), col("embedding"))
      .join(semanticClusters(e), Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("embedding").as("v"),
        V.l2Norm(col("embedding")).as("nrm"))
    val ok = base.groupBy("cid").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") <= SemMaxCluster).select("cid")
    val f = base.join(ok, Seq("cid"))
    val a = f.select(col("cid"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = f.select(col("cid"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val removed = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(V.cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")), 4)
        >= SemTau)
      .select(col("id_b").as("vec_id")).distinct()
    base.select("vec_id", "cid")
      .join(removed.withColumn("is_dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("is_dup").isNull.as("kept"))
      .orderBy("vec_id")
  }

  val all: Map[String, Q] = Map(
    "q99_kmeans" -> (q99Kmeans _),
    "q115_semantic_dedup" -> (q115SemanticDedup _),
    "q38_knn_bruteforce" -> (q38KnnBrute _),
    "q39_knn_lsh" -> (q39KnnLsh _),
    "q40_embed_neardup" -> (q40EmbedNearDup _),
    "q113_embed_neardup_adaptive" -> (q113EmbedNearDupAdaptive _),
    "q117_embed_neardup_capped" -> (q117EmbedNearDupCapped _),
    "q41_knn_ivf" -> (q41KnnIvf _),
    "q47_embed_quantize" -> (q47EmbedQuantize _),
  )

  /** The Lloyd machinery as unrolled DuckDB CTEs (the q68 PageRank
    * oracle technique), parameterized by (k, iters) and shared by the
    * q99 and q115 oracles. Emits the CTE chain from `WITH e` (double
    * vectors) through `a{iters+1}` — the final (vec_id, cid, d)
    * assignment — plus the intermediate `c{iters}` centroids. All
    * arithmetic is integer-exact on both sides, so cluster membership
    * is bit-for-bit, not approximate. */
  private def kmeansCtes(k: Int, iters: Int): String =
    kmeansCtesExpr(k.toString, iters)

  /** [[kmeansCtes]] with the cluster count as an arbitrary SQL scalar
    * expression — q115's data-adaptive k is a COUNT-derived scalar
    * subquery, mirroring [[semKFor]]'s integer arithmetic exactly. */
  private def kmeansCtesExpr(kExpr: String, iters: Int): String = {
    val dim = KmDim
    def dist(q: String, c: String): String =
      s"CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> ($q.qv[i] - $c.cv[i]) * ($q.qv[i] - $c.cv[i]))) AS BIGINT)"
    val head =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id, list_transform(v, x -> CAST(round(x /
         |  (greatest(list_max(list_transform(v, y -> abs(y))), 1e-30) / 127.0)) AS INTEGER)) AS qv
         |  FROM e),
         |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid,
         |  list_transform(qv, x -> CAST(x AS BIGINT)) AS cv FROM q WHERE vec_id < ($kExpr))""".stripMargin
    val its = (1 to iters).map { n =>
      s"""a${n}d AS (SELECT q.vec_id, q.qv, c.cid, ${dist("q", "c")} AS d
         |  FROM q CROSS JOIN c${n - 1} c),
         |a$n AS (SELECT vec_id, qv, cid, d FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a${n}d)
         |  WHERE rn = 1),
         |c${n}p AS (SELECT cid, i, CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
         |  FROM a$n CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) idx GROUP BY cid, i),
         |c$n AS (SELECT cid, list(comp ORDER BY i) AS cv FROM c${n}p GROUP BY cid)""".stripMargin
    }
    val fin = iters + 1
    s"""$head,
       |${its.mkString(",\n")},
       |a${fin}d AS (SELECT q.vec_id, q.qv, c.cid, ${dist("q", "c")} AS d
       |  FROM q CROSS JOIN c$iters c),
       |a$fin AS (SELECT vec_id, cid, d FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a${fin}d)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of [[q99Kmeans]]. */
  private val kmeansSql: String = {
    val fin = KmIters + 1
    s"""${kmeansCtes(KmK, KmIters)},
       |cs AS (SELECT cid, CAST(list_sum(cv) AS BIGINT) AS centroid_sum FROM c$KmIters)
       |SELECT a.cid, count(*) AS n_members, CAST(sum(a.d) AS BIGINT) AS inertia,
       |  min(a.vec_id) AS min_member, cs.centroid_sum
       |FROM a$fin a JOIN cs ON a.cid = cs.cid
       |GROUP BY a.cid, cs.centroid_sum ORDER BY a.cid""".stripMargin
  }

  /** DuckDB twin of [[q115SemanticDedup]]: BOTH Lloyd levels unrolled —
    * the k/k1/k2 integer scalars (same arithmetic as [[semKFor]] /
    * [[semK1For]]), the coarse k1 fit, the per-cell fine seeds
    * (row_number by vec_id within cell), the fine (ccid, fid)-keyed
    * iterations, the composite cid = ccid·k2 + fid, then the
    * within-cluster lower-id cosine prune reproduced exactly (same
    * round-then-compare as the Spark side). */
  private val semanticDedupSql: String = {
    val dim = KmDim
    val iters = KmIters
    def dist(q: String, c: String): String =
      s"CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> ($q.qv[i] - $c.cv[i]) * ($q.qv[i] - $c.cv[i]))) AS BIGINT)"
    val head =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id, list_transform(v, x -> CAST(round(x /
         |  (greatest(list_max(list_transform(v, y -> abs(y))), 1e-30) / 127.0)) AS INTEGER)) AS qv
         |  FROM e),
         |sc AS (SELECT k, k1, (k + k1 - 1) // k1 AS k2 FROM (
         |  SELECT k, CASE WHEN k <= $SemK THEN CAST(1 AS BIGINT) ELSE
         |    (SELECT min(x) FROM (SELECT unnest(range(1, 4096)) AS x)
         |     WHERE x * x >= k) END AS k1
         |  FROM (SELECT GREATEST(CAST($SemK AS BIGINT),
         |    ((SELECT count(*) FROM q) + ${SemTargetCluster - 1}) // $SemTargetCluster) AS k))),
         |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid,
         |  list_transform(qv, x -> CAST(x AS BIGINT)) AS cv FROM q, sc WHERE vec_id < sc.k1)""".stripMargin
    val coarseIts = (1 to iters).map { n =>
      s"""a${n}d AS (SELECT q.vec_id, q.qv, c.cid, ${dist("q", "c")} AS d
         |  FROM q CROSS JOIN c${n - 1} c),
         |a$n AS (SELECT vec_id, qv, cid, d FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a${n}d)
         |  WHERE rn = 1),
         |c${n}p AS (SELECT cid, i, CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
         |  FROM a$n CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) idx GROUP BY cid, i),
         |c$n AS (SELECT cid, list(comp ORDER BY i) AS cv FROM c${n}p GROUP BY cid)""".stripMargin
    }
    val cfin = iters + 1
    val coarseFinal =
      s"""a${cfin}d AS (SELECT q.vec_id, q.qv, c.cid, ${dist("q", "c")} AS d
         |  FROM q CROSS JOIN c$iters c),
         |ca AS (SELECT vec_id, qv, cid AS ccid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a${cfin}d)
         |  WHERE rn = 1),
         |f0 AS (SELECT ccid, CAST(rn - 1 AS INTEGER) AS fid,
         |  list_transform(qv, x -> CAST(x AS BIGINT)) AS cv
         |  FROM (SELECT ccid, vec_id, qv,
         |          row_number() OVER (PARTITION BY ccid ORDER BY vec_id) AS rn FROM ca), sc
         |  WHERE rn <= sc.k2)""".stripMargin
    val fineIts = (1 to iters).map { n =>
      s"""fa${n}d AS (SELECT ca.vec_id, ca.qv, ca.ccid, f.fid, ${dist("ca", "f")} AS d
         |  FROM ca JOIN f${n - 1} f USING (ccid)),
         |fa$n AS (SELECT vec_id, qv, ccid, fid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, fid) AS rn FROM fa${n}d)
         |  WHERE rn = 1),
         |f${n}p AS (SELECT ccid, fid, i, CAST(floor(CAST(sum(qv[i]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
         |  FROM fa$n CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) idx GROUP BY ccid, fid, i),
         |f$n AS (SELECT ccid, fid, list(comp ORDER BY i) AS cv FROM f${n}p GROUP BY ccid, fid)""".stripMargin
    }
    val fineFinal =
      s"""fa${cfin}d AS (SELECT ca.vec_id, ca.qv, ca.ccid, f.fid, ${dist("ca", "f")} AS d
         |  FROM ca JOIN f$iters f USING (ccid)),
         |asg AS (SELECT vec_id, CAST(ccid * sc.k2 + fid AS INTEGER) AS cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, fid) AS rn FROM fa${cfin}d), sc
         |  WHERE rn = 1)""".stripMargin
    s"""$head,
       |${coarseIts.mkString(",\n")},
       |$coarseFinal,
       |${fineIts.mkString(",\n")},
       |$fineFinal,
       |base AS (SELECT a.vec_id, a.cid, e.v,
       |  sqrt(list_dot_product(e.v, e.v)) AS nrm
       |  FROM asg a JOIN e ON a.vec_id = e.vec_id),
       |okc AS (SELECT cid FROM base GROUP BY cid HAVING count(*) <= $SemMaxCluster),
       |f AS (SELECT base.* FROM base JOIN okc USING (cid)),
       |rem AS (SELECT DISTINCT b.vec_id FROM f a JOIN f b ON a.cid = b.cid
       |  AND a.vec_id < b.vec_id
       |  AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $SemTau)
       |SELECT base.vec_id, base.cid, (r.vec_id IS NULL) AS kept
       |FROM base LEFT JOIN rem r ON base.vec_id = r.vec_id
       |ORDER BY base.vec_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q99_kmeans" -> kmeansSql,
    "q115_semantic_dedup" -> semanticDedupSql,
    "q38_knn_bruteforce" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rn
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cos, rn FROM ranked
        |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,
    "q39_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |  ${V.lshBucketDuckDbSql(lshPlanesQ39)} AS bucket FROM e),
         |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rn
         |  FROM pairs)
         |SELECT query_id, neighbor_id, cos, rn FROM ranked
         |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,
    "q40_embed_neardup" -> Dedup.embeddingNearDupOracleSql(threshold = 0.3),
    "q113_embed_neardup_adaptive" ->
      Dedup.embeddingNearDupAdaptiveOracleSql(threshold = 0.3),
    "q117_embed_neardup_capped" ->
      Dedup.embeddingNearDupAdaptiveOracleSql(threshold = 0.3,
        maxProbePlanes = CappedProbePlanes),
    "q47_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS sc FROM e),
        |q AS (SELECT vec_id, sc, v,
        |  list_transform(v, x -> CAST(round(x / sc) AS INTEGER)) AS qv FROM s)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  round(list_max(list_transform(range(1, len(v) + 1),
        |    i -> abs(qv[i] * sc - v[i]))), 6) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q41_knn_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cents AS (SELECT vec_id AS cid, v AS cv, sqrt(list_dot_product(v, v)) AS cn
        |  FROM n WHERE vec_id < 8),
        |scored AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    CAST(row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cid) AS INT) AS cr
        |  FROM n CROSS JOIN cents c),
        |corpus AS (SELECT vec_id AS neighbor_id, v AS cv, nrm AS cn, cid AS cell
        |  FROM scored WHERE cr = 1),
        |qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS cell
        |  FROM scored WHERE vec_id < 10 AND cr <= 2),
        |pairs AS (SELECT query_id, neighbor_id,
        |    round(list_dot_product(qv, cv) / (qn * cn), 4) AS cos
        |  FROM qs JOIN corpus USING (cell) WHERE query_id <> neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rn
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cos, rn FROM ranked
        |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,
  )
}
