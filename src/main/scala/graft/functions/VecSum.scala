package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Component-wise sum of an `array<int>` column as ONE aggregate value
  * (`array<long>`), for the Lloyd centroid updates.
  *
  * Why this exists (round 12, the q115 fit-residual work): the
  * posexplode formulation of a centroid update fans every vector into
  * `dim` skinny (cid, i, x) rows before the aggregate — n·dim rows
  * through the exchange write path, and a map-side partial state of
  * k·dim scalar entries whose EMITTED partials scale as k·dim·parts
  * rows per pass (with k ∝ n and parts scaled with the data per the
  * measurement protocol, that term is super-linear in n). This
  * aggregate keeps whole vectors: per-group state is one long[dim]
  * (k·parts emitted partials — dim× fewer rows, ~3.5× fewer bytes at
  * the g300 shapes), there is no n·dim row fan-out at all, and the
  * update is a primitive array add (no boxing: the input encoder is
  * the primitive `Array[Int]`).
  *
  * Commutative + associative (integer adds), so safe under any
  * partitioning and AQE re-plan — the same mergeability argument as
  * [[MisraGries]]. Empty groups cannot occur (groups exist only for
  * observed rows). All input arrays must share one length; the first
  * row sizes the buffer and a mismatch throws rather than silently
  * truncating.
  *
  * The DIVISION that turns sums into centroid components stays with
  * the caller: `Math.floorDiv(sum, n)` is bit-identical to the
  * posexplode form's `floor(sum.cast(double) / count)` because |sum|
  * < 2^53 makes the double quotient exact to within 1 ulp and a
  * rational quotient with denominator n sits at least 1/n from any
  * integer it doesn't equal — VectorQueriesSpec pins the end-to-end
  * equality with an in-memory Lloyd twin that divides in double. */
object VecSum {

  /** vecSum(qv): df.groupBy(...).agg(VecSum(col("qv"))) → array<long>. */
  def apply(vec: Column): Column = udaf(Agg).apply(vec)

  private object Agg extends Aggregator[Array[Int], Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], v: Array[Int]): Array[Long] = {
      // ADVICE r12: null/empty inputs would silently diverge from the
      // posexplode form (callers' count(lit(1)) still counts such rows
      // in the divisor, and a zero-length vector is indistinguishable
      // from the zero buffer, bypassing the ragged check) — the
      // embeddings envelope guarantees non-null fixed-dim vectors, so a
      // violation fails loudly instead of skewing centroids
      require(v != null && v.length > 0,
        "vecSum: null or empty input vector (callers divide by the group " +
          "row count, so skipping it would silently skew the centroid)")
      val acc = if (b.length == 0) new Array[Long](v.length) else b
      require(acc.length == v.length,
        s"vecSum: ragged input (${v.length} vs ${acc.length})")
      var i = 0
      while (i < v.length) { acc(i) += v(i); i += 1 }
      acc
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      require(a.length == b.length,
        s"vecSum: ragged partials (${a.length} vs ${b.length})")
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }
}
