package graft.operators

import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.core.Tables
import graft.functions.{VectorFunctions => V}

/** Pins the recall of every approximate kNN variant against
  * [[Similarity.knnBruteForce]] on the sf0.001 embeddings, and the
  * determinism of the SQL-reproducible variants (seeded IVF, Rademacher
  * LSH). Referenced by the Similarity scaladoc — an approximate index
  * whose recall silently decays is the classic unobserved bug in
  * similarity search. */
class SimilaritySpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val sfDir = "/root/testdata/sf0.001"
  private def embs: DataFrame = Tables.embeddings(spark, sfDir)
  private def queries: DataFrame = embs.filter(col("vec_id") < 10)

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exact = pairSet(Similarity.knnBruteForce(embs, queries, k = 3))

  private def recall(approx: DataFrame): Double =
    (pairSet(approx) intersect exact).size.toDouble / exact.size

  test("exact top-3 is 3 neighbors per query") {
    assert(exact.size == 30)
  }

  // Sign-LSH recall is a function of neighbor ANGLE: P(same bucket) =
  // (1 − θ/π)^planes. On uniformly random vectors the true top-3 sit at
  // θ ≈ 65-75° and recall is near zero BY DESIGN — LSH is a near-dup
  // index, not a general kNN index. So the LSH recall tests use a corpus
  // with planted high-cosine neighbors (θ ≈ 2°), where the family's
  // guarantee actually applies, and pin the planted-neighbor recall.
  private lazy val planted: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val base = Array.fill(40)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 10).map { i => // planted near-dup of query i: cos ≈ 0.9995
        val v = base(i).map(x => x + 0.03f * rnd.nextGaussian().toFloat)
        ((1000 + i).toLong, v)
      }
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def plantedRecall(approx: DataFrame): Double = {
    val found = pairSet(approx)
    (0 until 10).count(i => found.contains((i.toLong, (1000 + i).toLong))) / 10.0
  }

  test("LSH (Rademacher planes, q39 family) planted-neighbor recall floor") {
    val q = planted.filter(col("vec_id") < 10)
    val r = plantedRecall(Similarity.knnLshWith(planted, q, V.rademacherPlanes(8, 64), k = 3))
    // θ ≈ 1.7° → P(all 8 planes agree) ≈ 0.93; measured 0.9 on this seed
    assert(r >= 0.8, s"planted recall $r")
  }

  test("LSH with fewer planes widens buckets and recall") {
    val q = planted.filter(col("vec_id") < 10)
    val r4 = plantedRecall(Similarity.knnLshWith(planted, q, V.rademacherPlanes(4, 64), k = 3))
    val r8 = plantedRecall(Similarity.knnLshWith(planted, q, V.rademacherPlanes(8, 64), k = 3))
    assert(r4 >= r8, s"4-plane recall $r4 < 8-plane recall $r8")
    assert(r4 >= 0.9, s"planted recall $r4")
  }

  test("seeded IVF (q41 config) recall floor") {
    assert(recall(Similarity.knnIvfSeeded(embs, queries, k = 3, nCells = 8, nprobe = 2)) >= 0.5)
  }

  test("KMeans IVF recall floor") {
    assert(recall(Similarity.knnIvf(embs, a => a.filter(col("vec_id") < 10),
      k = 3, nCells = 8)) >= 0.5)
  }

  test("seeded IVF is deterministic across runs") {
    def run() = Similarity.knnIvfSeeded(embs, queries, k = 3, nCells = 8, nprobe = 2)
      .orderBy("query_id", "rn").collect().toSeq
    assert(run() == run())
  }

  test("every kNN entry ranks exact cosine ties by neighbor_id") {
    import spark.implicits._
    val k = 3
    val rnd = new scala.util.Random(5L)
    val qs = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    // five identical copies of each query (cos exactly 1, more ties than
    // k), listed in descending id order, and 30 unrelated vectors
    val copies = for (i <- qs.indices; j <- 4 to 0 by -1)
      yield ((100 + 10 * i + j).toLong, qs(i))
    val others = (0 until 30).map(i => ((200 + i).toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = (qs.indices.map(i => (i.toLong, qs(i))) ++ copies ++ others)
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val entries = Seq(
      "brute force" -> Similarity.knnBruteForce(corpus, queries, k),
      "KMeans IVF" -> Similarity.knnIvf(corpus, _.filter(col("vec_id") < 4), k, nCells = 2),
      "seeded IVF" -> Similarity.knnIvfSeeded(corpus, queries, k, nCells = 4, nprobe = 2),
      "LSH" -> Similarity.knnLshWith(corpus, queries, V.rademacherPlanes(4, 16), k))
    for ((name, df) <- entries) {
      val byQuery = df.collect().toSeq
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rows) =>
          q -> rows.map(r => (r.getAs[Int]("rn"), r.getAs[Long]("neighbor_id"))).sortBy(_._1) }
      // the k smallest copy ids, rn 1..k in id order
      assert(byQuery == qs.indices.map(i =>
        i.toLong -> (1 to k).map(j => (j, (100 + 10 * i + j - 1).toLong))).toMap, name)
      assert(df.filter(col("cos") =!= 1.0).isEmpty, name)
    }
  }

  test("Rademacher LSH is deterministic across runs") {
    val planes = V.rademacherPlanes(8, 64)
    def run() = Similarity.knnLshWith(embs, queries, planes, k = 3)
      .orderBy("query_id", "rn").collect().toSeq
    assert(run() == run())
  }
}
