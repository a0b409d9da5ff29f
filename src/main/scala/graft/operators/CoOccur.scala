package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-occurrence pairs: items that share at least `minShared` keys
  * (suppliers co-supplying parts, authors co-writing articles, docs
  * sharing shingles — the graph 2-hop self-join J7/G3 generalized).
  *
  * Scale design: the input is reduced to DISTINCT (key, item) before the
  * self-join, and keys with more than `maxItemsPerKey` distinct items are
  * dropped first — one key held by S items yields S(S−1)/2 pairs, so a
  * single pathological key at 100× data is a straight scale-killer (the
  * same hot-key discipline as `Dedup.docShingles` `maxDocFreq`; see the
  * r1 verdict on q21). Dropping hot keys is a SEMANTIC choice the caller
  * opts into: a key shared by "everyone" carries no pairing signal, like
  * a stopword shingle. `maxItemsPerKey <= 0` disables the bound.
  */
object CoOccur {

  /** @return (item_a, item_b, shared_keys) with item_a < item_b. */
  def pairs(df: DataFrame, keyCol: String, itemCol: String,
      minShared: Long = 1L, maxItemsPerKey: Long = 0L): DataFrame = {
    val distinctPairs = df.select(col(keyCol).as("key"), col(itemCol).as("item")).distinct()
    val bounded =
      if (maxItemsPerKey <= 0) distinctPairs
      else {
        val hot = distinctPairs.groupBy("key").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxItemsPerKey)
          .select("key")
        distinctPairs.join(hot, Seq("key"), "left_anti")
      }
    val a = bounded.select(col("key"), col("item").as("item_a"))
    val b = bounded.select(col("key"), col("item").as("item_b"))
    a.join(b, Seq("key"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("shared_keys"))
      .filter(col("shared_keys") >= minShared)
  }

  /** Same contract as [[pairs]] (with the bound REQUIRED), formulated as
    * per-key pair explosion instead of a self-join: collect the bounded,
    * sorted item set per key and emit only the a<b combinations directly
    * — S(S−1)/2 rows outright instead of the join's S² candidates, and
    * one fewer exchange.
    *
    * The round-1 A/B measured this form SLOWER than [[pairs]] (3.6 s vs
    * 1.95 s warm p50 on sf0.1 lineitem, 499,500 pairs, identical output)
    * — but that measurement was taken with the combination emitter as
    * nested transform/slice/flatten HOFs, which are CodegenFallback
    * (interpreted, a closure dispatch + slice allocation per element) —
    * the same expression class whose removal bought 9–25x on shingles
    * and 42x on quantize. `viaExpr = true` (default) swaps the emitter
    * for the codegen [[graft.functions.PairCombosExpr]] (output
    * identical, CoOccurSpec pins all three forms frame-equal); the HOF
    * emitter stays as the reference CoOccurSpec checks the codegen one
    * against.
    *
    * Round-13 re-measurement (interleaved at sf0.1): the codegen emitter
    * removes the HOF penalty entirely (HOF floor 6.11 s vs codegen
    * 3.56-3.67 s), but with the scale-safe pre-bound anti-join in place
    * the whole form TIES the self-join on calm floors (3.56 vs 3.35 s —
    * inside this host's noise band). On a tie the incumbent stands:
    * q21/q74 keep [[pairs]]; this form remains the measured alternative
    * for inputs that arrive already grouped (where collect_list is free)
    * or where the S² -> S(S−1)/2 candidate reduction dominates (very
    * large S near the cap). Whether q21 should switch once singleton
    * pruning sits in front of both forms is still open (TimeQuery's
    * q21_join / q21_groups_expr arms). */
  def pairsViaGroups(df: DataFrame, keyCol: String, itemCol: String,
      minShared: Long = 1L, maxItemsPerKey: Long = 64L,
      viaExpr: Boolean = true): DataFrame = {
    require(maxItemsPerKey > 0, "pairsViaGroups needs a positive maxItemsPerKey " +
      "(the per-key collect_list is only safe bounded); use pairs() for unbounded")
    val distinctPairs = df.select(col(keyCol).as("key"), col(itemCol).as("item")).distinct()
    // drop hot keys BEFORE collect_list, not after: a size filter on the
    // collected array still buffers the full item list of a pathological
    // key inside one aggregation task (one key held by 10^8 items is a
    // task OOM, not a filter) — the same pre-bound anti-join as [[pairs]]
    // keeps the per-key buffer <= maxItemsPerKey by construction. The
    // count aggregate and the anti-join share distinctPairs' key
    // partitioning, so this costs no extra exchange over the size-filter
    // form.
    val hot = distinctPairs.groupBy("key").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxItemsPerKey)
      .select("key")
    val grouped = distinctPairs.join(hot, Seq("key"), "left_anti")
      .groupBy("key")
      .agg(sort_array(collect_list(col("item"))).as("items"))
    val combos =
      if (viaExpr) graft.functions.PairCombosFn.pairCombos(col("items"))
      else expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items) - i - 1),
          |    y -> struct(x AS item_a, y AS item_b))))""".stripMargin)
    grouped
      .select(explode(combos).as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("shared_keys"))
      .filter(col("shared_keys") >= minShared)
  }
}
