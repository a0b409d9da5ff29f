package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.core.Tables
import graft.operators.{CoOccur, Dedup}

/** Deterministic scale diagnostic for the WHOLE near-dup family: each
  * blocking scheme's candidate-pair volume is a pure function of the
  * corpus — Σ over join keys of C(pop, 2) for the symmetric self-joins,
  * Σ popA·popProbe for q113's one-sided multiprobe — so its growth
  * across GenScale corpora measures each operator's asymptote with ZERO
  * timing noise (this VM's scheduler stalls made the round-5 q34 g1→g3
  * wall-clock leg read 1.43; the volume reads the true growth, 1.08).
  *
  * Every volume is computed from the SAME key frames the operators
  * shuffle (minhashBandKeys / simhashComboKeys / simhashPermutedKeys /
  * prefixKeys / adaptiveBuckets — factored, not reimplemented; q36's and
  * q114's chunks are the one-block combination tables; CandVolSpec
  * pins each aggregate equal to the enumerated join count on the fixture
  * corpus). The shingle-posting volumes (q34_cand_capped/uncapped, from
  * Dedup.docShingles) are the pair join ngramContainment runs; q34's
  * family joins its capped prefix keys (q34_prefix_capped).
  * Declared-query configurations throughout: q34/q44/q56/q100's df cap
  * and t=0.5 prefixes, q35's 16×4 bands, q36's maxDist=12, q114's Manku
  * maxDist=3, q97's t=0.5 prefixes, q113's targetPerBucket=256 with
  * radius-1 multiprobe.
  *
  * Per-directory output also carries the q113 bucket stats (planes,
  * bucket count, mean/max pop) — the direct witness that the round-6
  * even-stepping scheme holds populations near target at EVERY n
  * (the round-5 power-of-two stepping let them sawtooth 2×). With 2+
  * dirs, per-leg exponents are emitted against the corpus row-count
  * ratio (docs for text ops, vectors for q113).
  *
  * Usage: runMain graft.tools.CandVol [--out=path.json] <dir> [dir...] */
object CandVol {

  /** Σ over distinct key of C(pop, 2) — the row count of an
    * `id_a < id_b` self-equijoin on `keyCols` (each unordered same-key
    * pair meets exactly once per shared key). */
  def selfJoinVolume(keys: DataFrame, keyCols: Seq[String]): Long =
    keys.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("pop"))
      .agg(sum(col("pop") * (col("pop") - 1) / 2).cast("long"))
      .head().getLong(0)

  /** Σ over distinct key of popA·popB — the row count of an A×B
    * cross-equijoin on `keyCols` (q119's corpus × probe band join). */
  def crossJoinVolume(keysA: DataFrame, keysB: DataFrame,
      keyCols: Seq[String]): Long = {
    val a = keysA.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("pa"))
    val b = keysB.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("pb"))
    a.join(b, keyCols)
      .agg(sum(col("pa") * col("pb")).cast("long")).head().getLong(0)
  }

  /** q115's blocking frame: each surviving vector keyed by its Lloyd
    * cluster, hot clusters (> SemMaxCluster) dropped exactly as the
    * operator drops them before its pair join. [[selfJoinVolume]] on
    * `cid` is then the operator's within-cluster pair count. */
  def semanticBlockKeys(embs: DataFrame): DataFrame =
    CoOccur.dropHotKeys(graft.queries.VectorQueries.semanticClusters(embs),
      Seq("cid"), graft.queries.VectorQueries.SemMaxCluster)
      .select(col("vec_id").as("id"), col("cid"))

  /** q113's asymmetric volume: side A sits in its effective bucket,
    * side B probes the deduped coarsenings of its raw bucket and every
    * single-plane flip; the join feeds Σ_e popA(e) · probeRows(e) rows
    * into the id/cosine filters. Raw-bucket pops are ≤ 2^(p+1) rows —
    * tiny — so the exact per-row probe sets are enumerable on the
    * driver from the (fullb → count) histogram. */
  def adaptiveProbeVolume(bounded: DataFrame,
      scheme: Dedup.AdaptiveScheme,
      maxProbePlanes: Int = Int.MaxValue): (Long, Long, Double, Long) = {
    val popsFull = bounded.groupBy("full").agg(count(lit(1)).as("pop"))
      .select(col("full").cast("int").as("full"), col("pop")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def coarsen(x: Int): Int = {
      val low = x & ((1 << scheme.nLowPlanes) - 1)
      val top = (x >> scheme.nLowPlanes) & 1
      if (low < scheme.m) low | (top << scheme.nLowPlanes) else low
    }
    val popsEff = popsFull.groupMapReduce { case (f, _) => coarsen(f) }(_._2)(_ + _)
    val flips = 0 +: (0 until math.min(scheme.planesUsed, maxProbePlanes)).map(1 << _)
    // probe rows landing in effective bucket e, from each row's DEDUPED
    // probe set — the exact explode the operator joins
    val probeRows = popsFull.toSeq
      .flatMap { case (f, pop) => flips.map(fl => coarsen(f ^ fl)).distinct.map(_ -> pop) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val vol = popsEff.iterator.map { case (e, popA) =>
      popA * probeRows.getOrElse(e, 0L)
    }.sum
    val nVec = popsFull.valuesIterator.sum
    val meanPop = if (popsEff.isEmpty) 0.0 else nVec.toDouble / popsEff.size
    (vol, nVec, meanPop, if (popsEff.isEmpty) 0L else popsEff.valuesIterator.max)
  }

  /** All volumes for one corpus directory, keyed by metric name. */
  def volumes(s: SparkSession, dir: String): Seq[(String, Double)] = {
    val docs = Tables.documents(s, dir)
    val embs = Tables.embeddings(s, dir)
    val cap = graft.queries.TextQueries.MaxShingleDf

    // shingle-posting volumes: the pairs a shingle-keyed join over the
    // distinct doc-shingle postings would feed its pair count, capped and
    // uncapped (ngramContainment's join; the q34/q44/q56/q100 family's
    // before it joined prefixes). The family's own keys are
    // q34_prefix_capped below.
    val sh = Dedup.docShingles(docs, n = 3, maxDocFreq = 0L)
    val ng = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(
        count(lit(1)).as("vocab"),
        sum(when(col("df") <= cap, col("df") * (col("df") - 1) / 2)
          .otherwise(0L)).cast("long").as("cand_capped"),
        sum(col("df") * (col("df") - 1) / 2).cast("long").as("cand_uncapped"),
        sum(when(col("df") <= cap, col("df")).otherwise(0L))
          .cast("long").as("postings_kept"),
        sum(when(col("df") > cap, 1).otherwise(0)).cast("long").as("n_hot"))
      .head()

    val nDocs = docs.count()
    val minhash = selfJoinVolume(
      Dedup.minhashBandKeys(docs, k = 16, bands = 4, n = 3),
      Seq("band", "band_hash"))
    val comboCols = Seq("combo_idx", "combo_key")
    // q36/q114: the (maxDist+1)-chunk pigeonhole, i.e. the one-block
    // combination tables
    val sim36 = selfJoinVolume(
      Dedup.simhashComboKeys(Dedup.simhashDocs(docs), maxDist = 12,
        bits = graft.functions.SimHash.Bits, nBlocks = 13), comboCols)
    val simsPortable = Dedup.simhashDocsPortable(docs)
    simsPortable.persist()
    val sim114 = selfJoinVolume(
      Dedup.simhashComboKeys(simsPortable, maxDist = 3,
        bits = Dedup.PortableSimHashBits, nBlocks = 4), comboCols)
    // q116: Manku block-combination tables — the chance-collision term's
    // fix; its volume should stay ~linear where sim114's n²/2^15 term
    // has taken over
    val sim116 = selfJoinVolume(
      Dedup.simhashComboKeys(simsPortable, maxDist = 3,
        bits = Dedup.PortableSimHashBits, nBlocks = 6), comboCols)
    // q123: the 7-block rung (C(7,4)=35 tables on 32-36-bit keys) — the
    // answer to q116's measured 2^30 envelope (volume 1.204 at g1000)
    val sim123 = selfJoinVolume(
      Dedup.simhashComboKeys(simsPortable, maxDist = 3,
        bits = Dedup.PortableSimHashBits, nBlocks = 7), comboCols)
    // q122: recursive permuted tables — 16 tables on 26-27-bit keys;
    // volume should track q116's ~1.0 at 20% less fan-out
    val sim122 = selfJoinVolume(
      Dedup.simhashPermutedKeys(simsPortable, maxDist = 3,
        bits = Dedup.PortableSimHashBits, nOuter = 4, nInner = 4),
      Seq("tbl_idx", "tbl_key"))
    simsPortable.unpersist()
    val prefix = selfJoinVolume(
      Dedup.prefixKeys(docs, threshold = 0.5), Seq("shingle"))
    // q34/q44/q56/q100: the same prefix join over the capped sets
    val prefixCapped = selfJoinVolume(
      Dedup.prefixKeys(docs, threshold = 0.5, maxDocFreq = cap), Seq("shingle"))
    // q119: corpus × probe band join — the decontamination shape; the
    // probe slice is the declared query's own doc_id % mod split
    val dmod = graft.queries.TextQueries.DecontamMod
    val cross = crossJoinVolume(
      Dedup.minhashBandKeys(docs.filter(col("doc_id") % dmod =!= 0)),
      Dedup.minhashBandKeys(docs.filter(col("doc_id") % dmod === 0)),
      Seq("band", "band_hash"))
    // q120: incremental-ingest dedup — the history-index probe (cross
    // join, linear in the history for a fixed band scheme) plus the
    // in-batch self-join, at the declared batch slice
    val imod = graft.queries.TextQueries.IngestMod
    val bh120 = Dedup.minhashBandKeys(docs.filter(col("doc_id") % imod =!= 0))
    val bb120 = Dedup.minhashBandKeys(docs.filter(col("doc_id") % imod === 0))
    val ingestCross = crossJoinVolume(bh120, bb120, Seq("band", "band_hash"))
    val ingestWithin = selfJoinVolume(bb120, Seq("band", "band_hash"))
    // q115: pair work is confined to Lloyd clusters ≤ the size cap —
    // Σ over surviving clusters of C(pop, 2), from the operator's own
    // cluster assignment (semanticClusters — factored, not reimplemented)
    val semVol = selfJoinVolume(semanticBlockKeys(embs), Seq("cid"))

    val (bounded, scheme) = Dedup.adaptiveBuckets(embs)
    val (adVol, boundedVecs, adMean, adMax) = adaptiveProbeVolume(bounded, scheme)
    // the probe-plane cap dial (Dedup.probeBuckets maxProbePlanes=8):
    // volume with the probe-growth term frozen — the <=1.1-exponent
    // configuration, at the documented recall cost on deep corpora
    val (adVolCap, _, _, _) = adaptiveProbeVolume(bounded, scheme, 8)
    System.err.println(
      f"[candvol] $dir q113: planes=${scheme.planesUsed} buckets=${scheme.nBuckets} " +
        f"mean_pop=$adMean%.1f max_pop=$adMax")
    // n_vecs is the full table count (ADVICE r11): the bounded frame's
    // count excludes vectors in blocks dropped by the maxItemsPerBlock
    // left_anti, so it is reported as its own q113 metric, never as the
    // exponent base
    val nVecs = embs.count()
    Seq(
      ("n_docs", nDocs.toDouble),
      ("n_vecs", nVecs.toDouble),
      ("vocab", ng.getLong(0).toDouble),
      ("q34_cand_capped", ng.getLong(1).toDouble),
      ("q34_cand_uncapped", ng.getLong(2).toDouble),
      ("postings_kept", ng.getLong(3).toDouble),
      ("hot_shingles_pruned", ng.getLong(4).toDouble),
      ("q35_minhash_bands", minhash.toDouble),
      ("q36_simhash_d12", sim36.toDouble),
      ("q114_simhash_manku", sim114.toDouble),
      ("q116_simhash_combo", sim116.toDouble),
      ("q123_simhash_combo7", sim123.toDouble),
      ("q122_simhash_permuted", sim122.toDouble),
      ("q97_prefix", prefix.toDouble),
      ("q34_prefix_capped", prefixCapped.toDouble),
      ("q119_cross_bands", cross.toDouble),
      ("q120_hist_probe", ingestCross.toDouble),
      ("q120_within_batch", ingestWithin.toDouble),
      ("q113_bounded_vecs", boundedVecs.toDouble),
      ("q113_adaptive_probe", adVol.toDouble),
      ("q113_probe_cap8", adVolCap.toDouble),
      ("q113_n_planes", scheme.planesUsed.toDouble),
      ("q113_n_buckets", scheme.nBuckets.toDouble),
      ("q113_mean_bucket_pop", adMean),
      ("q113_max_bucket_pop", adMax.toDouble),
      ("q115_semantic_blocks", semVol.toDouble))
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else Timing.fmt(v)

  def main(args: Array[String]): Unit = {
    val out = args.collectFirst { case a if a.startsWith("--out=") => a.drop(6) }
    val dirs = args.filterNot(_.startsWith("--")).toSeq
    require(dirs.nonEmpty, "usage: CandVol [--out=path.json] <dir> [dir...]")
    val s = Timing.session("candvol")
    val perDir = dirs.map(d => d -> volumes(s, d))
    perDir.foreach { case (d, vs) =>
      println(s"$d " + vs.map { case (k, v) => s"$k=${fmt(v)}" }.mkString(" "))
    }
    // per-leg volume exponents between consecutive dirs, scaled by the
    // corpus's own row-count ratio (docs for text ops, vectors for
    // q113/q115)
    val volKeys = Seq("q34_cand_capped", "q34_cand_uncapped",
      "q35_minhash_bands", "q36_simhash_d12", "q114_simhash_manku",
      "q116_simhash_combo", "q123_simhash_combo7",
      "q122_simhash_permuted", "q97_prefix", "q34_prefix_capped",
      "q119_cross_bands",
      "q120_hist_probe", "q120_within_batch",
      "q113_adaptive_probe", "q113_probe_cap8", "q115_semantic_blocks")
    val legs = perDir.sliding(2).collect { case Seq((d1, v1), (d2, v2)) =>
      val m1 = v1.toMap; val m2 = v2.toMap
      val exps = volKeys.flatMap { k =>
        val base = if (k.startsWith("q113") || k.startsWith("q115")) "n_vecs" else "n_docs"
        for {
          a <- m1.get(k); b <- m2.get(k)
          r1 <- m1.get(base); r2 <- m2.get(base)
          ratio = r2 / r1
          if a > 0 && b > 0 && ratio > 1
        } yield k -> math.log(b / a) / math.log(ratio)
      }
      exps.foreach { case (k, e) =>
        System.err.println(f"[candvol] $d1 -> $d2 $k%-22s exponent=$e%5.2f")
      }
      (d1, d2, exps)
    }.toSeq
    out.foreach { path =>
      val dirJson = perDir.map { case (d, vs) =>
        "\"" + d + "\":" + vs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      val legJson = legs.map { case (d1, d2, exps) =>
        s"""{"from":"$d1","to":"$d2","exponents":""" +
          exps.map { case (k, e) => "\"" + k + "\":" + fmt(e) }
            .mkString("{", ",", "}") + "}"
      }.mkString("[", ",", "]")
      val json =
        s"""{"metric":"candidate_volumes","what":"deterministic asymptote check: candidate-pair volume of each near-dup blocking scheme, computed from the operators' own key frames (zero timing noise); exponents are per-leg log(vol ratio)/log(corpus ratio)","dirs":$dirJson,"legs":$legJson}"""
      Files.writeString(Paths.get(path), json + "\n")
      println(json)
    }
    s.stop()
  }
}
