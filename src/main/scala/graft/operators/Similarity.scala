package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Similarity search over embedding columns.
  *
  * Brute-force top-k is the exactness baseline: queries × corpus with the
  * query side broadcast (query sets are small by construction; the corpus —
  * the 100 TB side — never moves). The LSH variant is the scale path: one
  * shuffle to bucket the corpus, then per-bucket candidate joins; recall is
  * traded via nPlanes. IVF comes in two flavors: KMeans cells (the
  * programmatic scale path) and seeded cells (deterministic, SQL-oracle
  * reproducible, with nprobe > 1).
  *
  * Every candidate pair costs ONE dot product: both sides carry a
  * precomputed `__*n` norm column into the join and cosine is
  * `dot / (normA * normB)` ([[V.cosineFromNorms]]). Recomputing norms
  * per pair (round-1 shape) tripled the pair work — 47 s → the dominant
  * cost of the r1 bench's worst query.
  */
object Similarity {

  // the embeddings schema (FIXTURES.md): the id and the vector column
  private val VecId = "vec_id"
  private val Vec = "embedding"

  /** Output names of one join side's id, vector and norm. */
  private case class Side(id: String, v: String, n: String)
  private val Query = Side("query_id", "qv", "qn")
  private val Neighbor = Side("neighbor_id", "cv", "cn")

  /** The normed side projection: id, vector and `norm` (by default the
    * vector's l2 norm) under `side`'s names. */
  private def normed(side: Side, norm: Column = V.l2Norm(col(Vec))): Seq[Column] =
    Seq(col(VecId).as(side.id), col(Vec).as(side.v), norm.as(side.n))

  /** The ranking tail every kNN entry runs after its candidate join:
    * rounded cosine, the k best neighbors per query by (cos desc,
    * neighbor_id). */
  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs
      .withColumn("cos", round(V.cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Query side is broadcast. */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int = 3): DataFrame =
    topK(broadcast(queries.select(normed(Query): _*))
      .join(corpus.select(normed(Neighbor): _*), col("query_id") =!= col("neighbor_id")), k)

  /** Corpus bucketed by sign-LSH over explicit hyperplanes
    * ([[V.rademacherPlanes]] for SQL-reproducible buckets,
    * [[V.hyperplanes]] for seeded Gaussian ones). */
  def lshBucketsWith(corpus: DataFrame, planes: Array[Array[Double]]): DataFrame =
    corpus.withColumn("bucket", V.lshBucket(col(Vec), planes))

  /** IVF coarse quantizer: KMeans centroids over a (sampled) corpus; each
    * vector is assigned to its nearest centroid's cell. At 100 TB the model
    * fits on the driver (k × dim doubles) and the assignment is a narrow
    * map — one pass, no shuffle. */
  def ivfAssign(corpus: DataFrame, k: Int = 16, seed: Long = 42L): DataFrame = {
    val featurized = corpus.withColumn("__features",
      org.apache.spark.ml.functions.array_to_vector(col(Vec)))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setFeaturesCol("__features").setPredictionCol("cell")
      .fit(featurized)
    model.transform(featurized).drop("__features")
  }

  /** IVF approximate top-k over KMeans cells: probe only the query's cell
    * (nprobe=1). KMeans internals are engine-specific — recall is pinned
    * by SimilaritySpec against [[knnBruteForce]]; the hash-verifiable
    * variant is [[knnIvfSeeded]]. */
  def knnIvf(corpus: DataFrame, queryIds: DataFrame => DataFrame, k: Int = 3,
      nCells: Int = 16): DataFrame = {
    val assigned = ivfAssign(corpus, nCells)
    val c = assigned.select(col("cell") +: normed(Neighbor): _*)
    val q = broadcast(queryIds(assigned).select(col("cell") +: normed(Query): _*))
    topK(q.join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** IVF with data-seeded centroids and multi-cell probing: the centroids
    * are the embeddings of `vec_id < nCells` (deterministic and exactly
    * reproducible in SQL — unlike KMeans this makes the whole operator
    * DuckDB-oracle-verifiable), each corpus vector joins the inverted list
    * of its nearest centroid (cosine, ties to the smallest centroid id),
    * and each query probes its `nprobe` nearest cells.
    *
    * Scale shape: centroids are collected to the driver (nCells × dim
    * doubles) and the cell assignment is a pure expression — a narrow map
    * over the corpus with NO shuffle and no per-row join fan-out; the only
    * shuffle is the final per-query top-k window on the (small) candidate
    * set. nprobe trades recall for candidate volume at a 1/nCells
    * granularity. */
  def knnIvfSeeded(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      nCells: Int = 8, nprobe: Int = 2): DataFrame = {
    // driver-resident centroids, in centroid-id order; norms are folded
    // left-to-right like V.dot so SQL twins reproduce them bit-for-bit
    val cents: Array[(Int, Seq[Double])] = corpus.filter(col(VecId) < nCells)
      .select(col(VecId).cast("int"), col(Vec))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    require(cents.length == nCells, s"expected $nCells centroid rows, got ${cents.length}")

    def cellRank(v: Column, vn: Column): Column = {
      // array of (−cos, cid), ascending sort = cosine desc with smallest-id
      // tie-break; pure expression, evaluated once per row
      val scored = cents.map { case (cid, cv) =>
        val cn = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))
        struct((V.cosineFromNorms(v, typedLit(cv), vn, lit(cn)) * lit(-1.0)).as("neg"),
          lit(cid).as("cid"))
      }
      sort_array(array(scored: _*))
    }

    val c = corpus
      .withColumn("__n", V.l2Norm(col(Vec)))
      .select(normed(Neighbor, col("__n")) :+
        element_at(cellRank(col(Vec), col("__n")), 1).getField("cid").as("cell"): _*)
    val q = broadcast(queries
      .withColumn("__n", V.l2Norm(col(Vec)))
      .select(normed(Query, col("__n")) :+
        explode(transform(slice(cellRank(col(Vec), col("__n")), 1, nprobe),
          s => s.getField("cid"))).as("cell"): _*))
    topK(q.join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket
    * under explicit hyperplanes; misses across bucket boundaries are the
    * accepted recall trade (floor pinned by SimilaritySpec).
    * [[V.rademacherPlanes]] gives ±1 planes whose dot products SQL
    * engines reproduce exactly, making the full bucketed top-k
    * DuckDB-oracle-verifiable; [[V.hyperplanes]] gives the classic
    * seeded Gaussian family. */
  def knnLshWith(corpus: DataFrame, queries: DataFrame,
      planes: Array[Array[Double]], k: Int = 3): DataFrame = {
    val cb = lshBucketsWith(corpus, planes).select(col("bucket") +: normed(Neighbor): _*)
    val qb = broadcast(lshBucketsWith(queries, planes).select(col("bucket") +: normed(Query): _*))
    topK(qb.join(cb, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id")), k)
  }
}
