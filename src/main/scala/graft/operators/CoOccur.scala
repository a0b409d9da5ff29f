package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Items that share a key — the one bucket-pair implementation under
  * every co-occurrence and near-dup family in the engine (suppliers
  * co-supplying parts, docs sharing shingles, LSH bands or simhash
  * tables, vectors sharing a block or a cluster). Three steps, each
  * written once:
  *
  *  - [[dropHotKeys]] — bound the worst bucket before pairing;
  *  - [[dropSingletonKeys]] — drop buckets that cannot pair;
  *  - [[bucketPairs]] — the symmetric `id_a < id_b` self-join.
  *
  * [[pairs]] is the generic co-occurrence count on top of them. Joins of
  * two DIFFERENT frames (the adaptive multiprobe, the cross-corpus band
  * join, the streaming history probe) are not bucket pairs and do not
  * come through here.
  *
  * The grouped form (collect the sorted ids per key and emit the
  * combinations per group) was measured against the self-join twice and
  * tied it on calm floors (r1, r13 at sf0.1); it was kept only as a
  * candidate for disk-bound depths this box cannot reach, and is gone.
  */
object CoOccur {

  /** `frame` without the rows whose `keys` tuple is held by more than
    * `cap` rows; `cap <= 0` keeps every row.
    *
    * One key held by S rows yields S(S−1)/2 pairs, so a single
    * pathological key at 100× data is a straight scale-killer. Dropping
    * it is a SEMANTIC choice the caller opts into: a key shared by
    * "everyone" carries no pairing signal, like a stopword shingle. The
    * measured case is the n-gram shingle cap (BENCH_SCALE_r04
    * three_point): on the Heaps-vocabulary corpus the uncapped join's
    * 15k→50k-doc leg exponent reached 1.40 (stopword trigrams dominate
    * the candidate join), while a cap of 200 measured 0.55 at 3.6× less
    * wall time — output-identical at 15k docs, 6217/6225 pairs (99.87%)
    * at 50k. A shingle in hundreds of documents contributes quadratic
    * candidates but almost never decides a J >= 0.5 verdict.
    *
    * The bound is an anti-join against the hot keys, never a size filter
    * on grouped rows: the hot-key aggregate is map-side combinable and
    * shares the frame's key partitioning with the anti-join, and no task
    * ever buffers a hot key's rows. Rows with a null key are kept (they
    * never pair anyway). Every oracle applies the same cap, so engine and
    * DuckDB agree at any scale. */
  def dropHotKeys(frame: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    if (cap <= 0) frame
    else {
      val hot = frame.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > cap)
        .select(keys.map(col): _*)
      frame.join(hot, keys, "left_anti")
    }

  /** `frame` restricted to the rows whose `keys` tuple is held by at
    * least 2 rows. A one-row bucket cannot produce a pair, and with wide
    * keys (27-36-bit simhash tables, hashed LSH bands) almost every
    * bucket is a singleton at any real corpus size, so the self-join —
    * which carries each row's payload, and in the salted form replicates
    * side B `salt` times — would otherwise shuffle mostly rows that can
    * never meet. The prune costs one narrow map-side-combinable count
    * plus a left-semi attach; the non-singleton key set is small enough
    * that the planner broadcasts it at every measured scale. Adopted by
    * r14 measurement together with the signature pin (OPTIMIZATION_r14
    * §7): q35 at g100 104.8/32.4 → 96.9/27.2 s, q116 123.5 → 101.8 s,
    * q123 558.7/353.4 → 331.1/241.9 s in paired windows; at sf0.1 a
    * ≤0.1 s wash. Rows with a null key are dropped. */
  def dropSingletonKeys(frame: DataFrame, keys: Seq[String]): DataFrame = {
    val multi = frame.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(keys.map(col): _*)
    frame.join(multi, keys, "left_semi")
  }

  /** Every pair of `frame` rows that share all `keys` (null never
    * matches), with `id_a < id_b`: one output row per shared key tuple,
    * so a pair sharing three keys appears three times. Output columns:
    * the `keys`, then `<id>_a`, `<id>_b`, then `<p>_a` and `<p>_b` for
    * each `payload` column. Two rows with the same id never pair.
    *
    * `salt > 1` salts the join: one hot bucket's pair enumeration is a
    * same-key cartesian inside a single sort-merge task, which AQE's
    * skew split cannot break up. Side A keys each row by
    * `hash(id) mod salt`, side B replicates each row to all `salt`
    * values, so every pair still meets exactly once while a B²-pair
    * bucket spreads over `salt` tasks. With `salt = 1` the plan has no
    * salt column. */
  def bucketPairs(frame: DataFrame, keys: Seq[String], id: String,
      payload: Seq[String] = Nil, salt: Int = 1): DataFrame = {
    def side(s: String): DataFrame =
      frame.select(keys.map(col) ++ (id +: payload).map(c => col(c).as(s"${c}_$s")): _*)
    val (idA, idB) = (s"${id}_a", s"${id}_b")
    val joined =
      if (salt <= 1) side("a").join(side("b"), keys)
      else side("a").withColumn("salt", pmod(hash(col(idA)), lit(salt)))
        .join(side("b").withColumn("salt", explode(array((0 until salt).map(lit): _*))),
          keys :+ "salt")
    val out = keys ++ Seq(idA, idB) ++ Seq("a", "b").flatMap(s => payload.map(p => s"${p}_$s"))
    joined.filter(col(idA) < col(idB)).select(out.map(col): _*)
  }

  /** Co-occurrence pairs: (item_a, item_b, shared_keys) with
    * item_a < item_b, for items that share at least `minShared` keys.
    * The input is reduced to DISTINCT (key, item) first, and keys held by
    * more than `maxItemsPerKey` distinct items are dropped
    * ([[dropHotKeys]]; `<= 0` disables the bound). */
  def pairs(df: DataFrame, keyCol: String, itemCol: String,
      minShared: Long = 1L, maxItemsPerKey: Long = 0L): DataFrame = {
    val distinctPairs = df.select(col(keyCol).as("key"), col(itemCol).as("item")).distinct()
    bucketPairs(dropHotKeys(distinctPairs, Seq("key"), maxItemsPerKey), Seq("key"), "item")
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("shared_keys"))
      .filter(col("shared_keys") >= minShared)
  }
}
