package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scaling-exponent measurement (VERDICT r3 "next round" #1): run the
  * pair-producing query family at two scales generated by [[GenScale]]
  * and report, per query, p50 wall time at each scale and the measured
  * exponent `log(t_big/t_small) / log(ratio)` — the empirical answer to
  * "is this operator actually sub-quadratic, or only argued to be".
  *
  * Exponent reading: 1.0 = perfectly linear, <1 = fixed overhead still
  * dominates at the small scale, ~2 = the candidate machinery is
  * quadratic at this corpus shape. Iterative operators (connected
  * components, PageRank) carry an O(log n) rounds term on top of linear
  * per-round work, so their allowance is ~1.2 (the verdict's bar).
  *
  * Also runs the skew-join A/B/C proof (VERDICT #6): one deliberately
  * Zipf-skewed build of lineitem keys joined against a keys-sized dim,
  * measured three ways — plain shuffle join with AQE off, AQE skew-split
  * on, and [[graft.operators.SkewJoin.saltedInner]] with AQE off — all
  * three verified to produce the same row count.
  *
  * Usage:
  *   runMain graft.tools.ScaleBench <smallDir> <bigDir> <ratio> <outJson> [q,...]
  */
object ScaleBench {
  import Timing.{fmt, p50}

  /** The pair-producing family from the verdict, in measurement order;
    * q113 and q114 are the scale-safe forms of q40 and q36. */
  val Family: Seq[String] = Seq(
    "q34_ngram_jaccard", "q35_minhash_lsh", "q36_simhash_pairs",
    "q97_prefix_join", "q40_embed_neardup", "q44_dedup_clusters",
    "q21_cosupply_pairs", "q68_pagerank", "q100_pipeline_e2e",
    "q113_embed_neardup_adaptive", "q114_simhash_manku")

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ScaleBench <smallDir> <bigDir> <ratio> <outJson> [q,...]")
    val (smallDir, bigDir, ratio, outJson) =
      (args(0), args(1), args(2).toDouble, args(3))
    val queries = Timing.lookup(if (args.length > 4) args(4).split(",").toSeq else Family)
    // Shuffle width: defaults to the core count (the era every
    // BENCH_SCALE_r* artifact through r08 was measured under). On a real
    // cluster shuffle partitions scale with the data; at the g100 decade
    // the fixed 32-wide shuffle spills (q116: 857.8 s at 32 parts vs
    // 539.1/508.7 at 128/512 — PARTPROBE_r08.json, and the wide reading
    // matches the volume-predicted wall). Deep-decade legs should set
    // SPARK_GRAFT_SHUFFLE_PARTS so per-partition shuffle volume stays
    // roughly constant across the two dirs; the value is recorded in the
    // output record ("parts") so eras never get compared blind.
    val spark = Timing.session("scalebench")
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions")
    Timing.warmUp(spark)

    val results = queries.map { case (name, fn) =>
      // SAME run count and statistic on both sides: p50-of-3 each.
      // An asymmetric min-of-2 on the big side would systematically
      // deflate t_big — and with this VM's documented 17-70 s stalls,
      // bias every exponent optimistic.
      def runAt(dir: String, n: Int): Seq[Double] =
        (1 to n).map { _ =>
          val dt = Timing.run(spark)(fn(spark, dir)).get
          // Shuffle files are released by ContextCleaner only after the
          // driver GCs the ShuffleDependency objects; at deep decades a
          // 48-64g heap may not GC for several runs, so each run's
          // 25-30 GB of shuffle files linger and stack — the r13 q44
          // g300 leg filled 75 GB of free disk exactly this way. An
          // explicit GC between runs (outside the timed window) bounds
          // disk at roughly one run's working set — ADVISORY only: under
          // -XX:+DisableExplicitGC this is a no-op and the bound silently
          // widens to "until the JVM GCs on its own" (ADVICE r13; the
          // harness doesn't control JVM flags, so deep legs should verify
          // free disk isn't ratcheting between runs). The settle sleep
          // gives the async ContextCleaner thread a window to actually
          // delete shuffle files before the next timed run starts.
          System.gc()
          Thread.sleep(500)
          dt
        }
      // SPARK_GRAFT_SCALE_RUNS widens the sample when a leg needs to be
      // re-measured through stall weather (symmetric on both sides,
      // always p50)
      val nRuns = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
      // one UNTIMED warm run on the small dir first: this VM's stall
      // waves repeatedly land on the first measured window of a session
      // (observed: a first-slot query reading 33-154 s on runs that
      // later settle to 7-14 s), and a query's first execution also
      // pays its codegen/classload. The warm run absorbs both.
      runAt(smallDir, 1)
      val small = runAt(smallDir, nRuns)
      val big = runAt(bigDir, nRuns)
      val exp = math.log(p50(big) / p50(small)) / math.log(ratio)
      System.err.println(f"[scale] $name%-22s small=${p50(small)}%8.2fs big=${p50(big)}%8.2fs exp=$exp%5.2f")
      (name, p50(small), p50(big), exp, small, big)
    }

    // partial fixtures (e.g. a docs+embeddings-only g30) have no
    // lineitem — skip the skew proof rather than dying AFTER an hour of
    // measured legs with the artifact unwritten (the g30 session's
    // failure mode this guard exists for)
    val skew =
      if (Files.exists(Paths.get(s"$bigDir/lineitem.parquet")))
        skewProof(spark, bigDir)
      else {
        System.err.println(s"[scale] $bigDir has no lineitem.parquet — skew proof skipped")
        "null"
      }

    val qJson = results.map { case (n, s, b, e, rs, rb) =>
      s""""$n":{"t_small":${fmt(s)},"t_big":${fmt(b)},"exponent":${fmt(e)},""" +
        s""""raw_small":${rs.map(fmt).mkString("[", ",", "]")},"raw_big":${rb.map(fmt).mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    // stamp the JVM heap alongside the shuffle width (VERDICT r8 #6):
    // both are fixed local resources that scale with the data on a real
    // cluster, and both have now manufactured a fake super-linear wall
    // at the g100 decade (width: PARTPROBE_r08; heap: the q35 48g A/B) —
    // an exponent record without them can't be compared across eras
    val driverMemGb = Runtime.getRuntime.maxMemory / (1L << 30)
    val json =
      s"""{"metric":"scale_exponents","harness":"noop","cache_cleared":true,"parts":$shuffleParts,"driver_mem_gb":$driverMemGb,"ratio":$ratio,"sf_small":"$smallDir","sf_big":"$bigDir",""" +
        s""""queries":$qJson,"skew_join":$skew}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    spark.stop()
    println(json)
  }

  /** Skew-join A/B/C on a Zipf-skewed key derived from big-scale lineitem:
    * 50% of fact rows land on key 0, the rest spread uniformly. The dim
    * side is |keys| rows — too big to broadcast by default config at sf1,
    * small enough to replicate 16x. Returns a JSON object string. */
  def skewProof(spark: SparkSession, bigDir: String): String = {
    val fact = graft.core.Tables.lineitem(spark, bigDir)
      .select(
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(100)) < 50, 0L)
          .otherwise(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(1)), lit(100000)))
          .as("k"),
        col("l_quantity").as("v"))
    val dim = spark.range(100000).select(col("id").as("k"),
      (col("id") % 7).as("w"))
    // force via head() on the aggregate itself: .count() on a global agg
    // lets Catalyst prune the unreferenced sum, timing the join shuffle
    // but never evaluating the aggregate
    def agg(df: DataFrame): Long =
      Option(df.select(sum(col("v") * col("w"))).head().get(0))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)

    def withAqe(on: Boolean)(body: => Double): Double = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", on.toString)
      // disable broadcast so the skewed shuffle join actually happens
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try body
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    }
    def run(body: => Long): Double = p50((1 to 2).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })
    // row-count parity first (cheap, AQE on): salted == plain
    val nPlain = fact.join(dim, Seq("k")).count()
    val nSalted = graft.operators.SkewJoin.saltedInner(fact, dim, Seq("k")).count()
    require(nPlain == nSalted, s"salted join row count $nSalted != plain $nPlain")

    val tPlain = withAqe(false)(run(agg(fact.join(dim, Seq("k")))))
    val tAqe = withAqe(true)(run(agg(fact.join(dim, Seq("k")))))
    val tSalted = withAqe(false)(run(agg(
      graft.operators.SkewJoin.saltedInner(fact, dim, Seq("k")))))
    System.err.println(f"[skew] plain=$tPlain%.2fs aqe=$tAqe%.2fs salted=$tSalted%.2fs rows=$nPlain")
    s"""{"rows":$nPlain,"plain_noaqe":${fmt(tPlain)},"aqe":${fmt(tAqe)},""" +
      s""""salted_noaqe":${fmt(tSalted)},"salt_factor":16}"""
  }
}
