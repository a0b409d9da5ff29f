package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin
import graft.functions.{MinHashFn, SimHash, SimHashFn, TextFunctions => T,
  VectorFunctions => V}

/** Document / embedding deduplication operators for the training-data
  * pipeline: exact (hash-groupBy), n-gram Jaccard (shingle join), MinHash+
  * LSH (banded signatures), SimHash (Hamming block tables),
  * embedding-cosine.
  *
  * Scale design:
  *  - exact dedup is one hash-partitioned groupBy on a 128-bit fingerprint
  *    (never on the raw text — shuffling full documents at 100 TB is the
  *    classic mistake; only the fingerprint + id move);
  *  - n-gram Jaccard joins only each document's df-ascending prefix of
  *    its distinct shingles (the AllPairs/PPJoin bound), with hot
  *    shingles (df > maxDocFreq) dropped first — a stopword-shingle
  *    appearing in every document would otherwise quadratically explode
  *    the candidate join — and verifies the candidates exactly by array
  *    intersection, so no (pair × shingle) row is ever counted;
  *  - MinHash/LSH replaces the all-pairs comparison with b bucket joins —
  *    the only formulation that survives 10^9 documents;
  *  - SimHash pairs key Manku's block tables (dist<=k leaves some table's
  *    blocks untouched on both sides; the (k+1)-chunk pigeonhole is the
  *    one-block case) so candidates come from equality joins, not cross
  *    joins.
  */
object Dedup {

  // the documents and embeddings schemas (FIXTURES.md)
  private val DocId = "doc_id"
  private val Text = "text"
  private val VecId = "vec_id"
  private val Vec = "embedding"

  /** Exact dedup: group by content fingerprint, keep the smallest id. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col(DocId), T.contentFingerprint(col(Text)).as("fp"))
      .groupBy("fp")
      .agg(min(DocId).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, shingle) pairs with hot-shingle pruning
    * ([[CoOccur.dropHotKeys]] on the shingle, `maxDocFreq <= 0` keeps
    * every shingle). [[graft.tools.CandVol]] reads it uncapped for the
    * shingle-posting volumes.
    *
    * Deduplication is PER-ROW (`array_distinct` before the explode),
    * not a frame-level `distinct()`: ids are unique, so the global
    * distinct set of (id, shingle) equals each doc's own deduped
    * shingle set — and the frame-level form was a full corpus-sized
    * shuffle for it (round 11: the g1000 decade's 2.65B exploded rows
    * overflowed this box's disk through exactly that shuffle; at any
    * scale it was one whole extra shuffle in the q34/q44/q97/q100
    * family's lineage for a set-identity no-op).
    *
    * Nothing is materialized: each consumer re-derives this narrow
    * scan+explode subtree (Spark reuses only Exchange/Subquery nodes,
    * not arbitrary subtrees). Once the codegen
    * [[graft.functions.ShinglesExpr]] made re-shingling near-free, one
    * shared localCheckpoint measured within 4% of the rescan
    * (BENCH_SCALE_r13_shform2: q34 sf0.1 3.00 vs 2.98 s, g10 46.71 vs
    * 47.54 s; q44 sf0.1 4.55 vs 4.61 s, g10 45.17 vs 46.88 s), and on a
    * tie the form with no corpus-sized block store wins. */
  private[graft] def docShingles(docs: DataFrame, n: Int, maxDocFreq: Long): DataFrame =
    CoOccur.dropHotKeys(docs.select(col(DocId).as("id"),
      explode(distinctShingles(n)).as("shingle")),
      Seq("shingle"), maxDocFreq)

  /** A row's distinct `n`-token shingles as one array: the per-row
    * deduplication every shingle frame here starts from. */
  private def distinctShingles(n: Int): Column =
    array_distinct(T.shingles(col(Text), n))

  /** Pairwise n-gram Jaccard >= threshold among docs sharing >= 1
    * shingle. Output: id_a < id_b, n_common, jaccard. `maxDocFreq` is the
    * hot-shingle cap: a shingle held by more than `maxDocFreq` docs is
    * dropped from every doc's set before sizes, overlaps and Jaccard are
    * taken (`<= 0` keeps every shingle). PRECONDITION: `doc_id` values are
    * unique (see [[prefixKeys]]); every repo caller passes a primary-key
    * doc_id.
    *
    * Candidates come from the prefix filter ([[prefixCandidates]]) over
    * the capped sets, and [[verifiedJaccard]]'s array intersection makes
    * them exact, so the only pair-keyed exchange is the candidates'
    * dedup — not a count over every (pair, shared shingle) row. On a
    * 500-doc realistic corpus (GenScale, local[4], 4 shuffle partitions)
    * at cap 200 that cut the shuffle writes from 626 to 469 KB, in 14
    * jobs instead of 7: the pair count (32,734 rows, 293 KB) became a
    * rank exchange of the shareable rows, and the df count stayed.
    *
    * With a cap, the shareable (df >= 2) shingle counts are counted ONCE
    * and pinned: the prefix ranking reads them for the df order and the
    * cap, and the verify leg reads the hot ones (df > cap) to drop them
    * from the candidate docs' arrays through a broadcast anti-join. The
    * two run in separate jobs, so without the pin each would count the
    * corpus's shingles again. The hot set is small by construction: its
    * shingles each hold more than `maxDocFreq` postings. The pin is freed
    * once the verify leg's own pins are built. Without a cap this is
    * exactly `verifiedJaccard(docs, prefixCandidates(docs, threshold, n),
    * threshold, n)`. */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.2,
      maxDocFreq: Long = 0L): DataFrame =
    if (maxDocFreq <= 0) verifiedJaccard(docs, prefixCandidates(docs, threshold, n), threshold, n)
    else {
      val shareable = Pin(shareableDf(docs, n))
      try verify(docs,
        prefixJoin(prefixKeysOver(docs, threshold, n, shareable, maxDocFreq), threshold),
        threshold, n, Some(shareable.filter(col("df") > maxDocFreq).select("shingle")))
      finally Pin.free(shareable)
    }

  /** Per-document duplicated-span statistics: for each doc, how many of
    * its distinct `windowTokens`-token windows also appear in at least
    * one OTHER document, and the duplicated fraction — the span-level
    * dedup signal (cf. Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": substring-level duplication matters
    * even when whole documents aren't near-dups).
    *
    * Scale design: there is NO pair join anywhere. The corpus-scale work
    * is one distinct (doc, window) projection plus one map-side-combinable
    * count per window; a boilerplate window shared by millions of docs
    * costs one aggregate row, never a quadratic candidate explosion
    * (contrast [[ngramJaccard]], which must prune hot shingles before its
    * self-join). That makes per-doc span stats the dedup diagnostic that
    * still runs on the full corpus when pair enumeration can't.
    *
    * Output: (doc_id, n_windows, n_dup_windows, dup_ratio), one row per
    * input doc; docs shorter than `windowTokens` tokens report 0/0/0.0.
    *
    * The window frame is read twice (df aggregate + join side) and
    * re-derived for each: one shared localCheckpoint measured a tie
    * (BENCH_SCALE_r13_census, sf0.1 interleaved, 3 runs: floors rescan
    * 1.30 s vs pin 1.31 s), and the rescan keeps no corpus-sized block
    * store. */
  def spanDupStats(docs: DataFrame, windowTokens: Int = 8): DataFrame = {
    val w = docs.select(col(DocId).as("id"),
      explode(distinctShingles(windowTokens)).as("w"))
    // nd = number of distinct docs containing the window ((id, w) is
    // already distinct, so a plain count is a distinct-doc count)
    val docFreq = w.groupBy("w").agg(count(lit(1)).as("nd"))
    val perDoc = w.join(docFreq, Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    docs.select(col(DocId).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(DocId),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_dup_windows") / col("n_windows").cast("double"), 4))
          .as("dup_ratio"))
  }

  /** Pairwise n-gram CONTAINMENT >= threshold among docs sharing >= 1
    * shingle: containment = |A∩B| / min(|A|,|B|) — the asymmetric
    * near-dup signal. Detects a document embedded in (or truncated from)
    * a larger one, which Jaccard structurally misses: J = |∩|/|∪| decays
    * toward 0 as the larger doc grows even when the smaller doc is
    * copied verbatim, while containment stays 1. Same hot-shingle cap and
    * unique-`doc_id` precondition as [[ngramJaccard]].
    *
    * Containment has no symmetric prefix bound (a small doc contained in
    * a large one may share nothing with the large doc's prefix), so this
    * keeps the shingle-keyed pair join: every doc pair sharing a capped
    * distinct shingle, counted per pair, with sa/sb each doc's capped
    * distinct-shingle count. The per-row `array_distinct` frame equals
    * the frame-level distinct ONLY when ids are unique (DedupSpec pins it
    * against a frame-level distinct reference on a corpus with in-doc
    * repeats); a caller feeding duplicate ids would silently inflate df
    * and n_sh instead of deduping.
    * Output: id_a < id_b, n_common, containment. */
  def ngramContainment(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 0L): DataFrame = {
    val sh = docShingles(docs, n, maxDocFreq)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    CoOccur.bucketPairs(sh, Seq("shingle"), "id")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("sa")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("sb")), Seq("id_b"))
      .withColumn("containment",
        round(col("n_common") / least(col("sa"), col("sb")).cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "containment")
  }

  /** MinHash signatures: k independent hashes, min over shingles,
    * computed in the row that carries the doc
    * ([[graft.functions.MinHashExpr]]: no per-shingle rows, no shuffle).
    * The (variable-length) shingle string is hashed ONCE; the k "permutations" re-hash the
    * resulting fixed 8-byte value — one string pass + k word hashes per
    * shingle instead of k string passes. A doc with no shingles (null
    * text, fewer than `n` tokens) gets no row.
    *
    * PRECONDITION: `doc_id` values are unique. The signature is per row,
    * so two rows sharing an id get two rows here (the earlier group-by
    * form silently merged them into one signature over both texts).
    * Every repo caller passes a primary-key doc_id.
    * Output: id, sig array<long> of length k. */
  def minhashSignatures(docs: DataFrame, k: Int = 16, n: Int = 3): DataFrame =
    rowsWhere(docs.select(col(DocId).as("id"),
      MinHashFn.minhash(T.shingles(col(Text), n), k).as("sig")), col("sig").isNotNull)

  /** The rows of `df` where `keep` holds, each column of `df` computed
    * ONCE per row. A plain `filter` on a computed column is pushed below
    * the projection that computes it (into a join condition, where there
    * is one), with the expression substituted for the column, so every
    * row computes it again in the filter: measured 1.9-2.0 s against
    * 1.0-1.1 s for the MinHash signatures of 10^5 docs (sf0.1 texts ×
    * 20), and four `array_intersect`s per candidate pair in the verify
    * leg. A generator's output is opaque to that pushdown, so `keep`
    * picks a one-row array or null, and `explode` of null emits no row. */
  private def rowsWhere(df: DataFrame, keep: Column): DataFrame =
    df.select(explode(when(keep, array(struct(df.columns.map(col): _*)))).as("row"))
      .select("row.*")

  /** LSH band keys of [[minhashLsh]]'s candidate join — (id, sig, band,
    * band_hash), one row per (doc, band). Factored out so the
    * candidate-volume diagnostic ([[graft.tools.CandVol]]) measures the
    * EXACT join keys the operator shuffles, not a reimplementation. */
  private[graft] def minhashBandKeys(docs: DataFrame, k: Int = 16,
      bands: Int = 4, n: Int = 3): DataFrame =
    bandSigs(minhashSignatures(docs, k, n), k, bands)

  /** Band an (id, sig) signature frame: `bands` slices of k/bands rows,
    * each hashed to one band key. `sigs` is by-name so the band check
    * runs before the caller's frame is built (or pinned). */
  private def bandSigs(sigs: => DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows))
      }: _*)).as(Seq("band", "band_hash")))
  }

  /** MinHash + LSH candidate pairs: band the k-row signature into `bands`
    * groups, bucket-join on (band, bandHash), estimate similarity as the
    * fraction of equal signature components.
    *
    * The signature frame is pinned before banding: the signature (corpus
    * scan + shingling + k rehashes per shingle, all per row) is otherwise
    * re-derived by every consumer of the banded frame — both join sides
    * and the singleton prune. Narrow: ~8(k+1) bytes/doc. Singleton
    * (band, band_hash) buckets are pruned before the join
    * ([[CoOccur.dropSingletonKeys]]; the band join carries BOTH 8k-byte
    * signatures per row). */
  def minhashLsh(docs: DataFrame, k: Int = 16, bands: Int = 4, n: Int = 3,
      minEstimate: Double = 0.5): DataFrame = {
    val bandKeys = Seq("band", "band_hash")
    val banded = CoOccur.dropSingletonKeys(
      bandSigs(Pin(minhashSignatures(docs, k, n)), k, bands),
      bandKeys)
    val cands = CoOccur.bucketPairs(banded, bandKeys, "id", Seq("sig"))
    // estimate BEFORE dedup (same reasoning as simhashPairs): the
    // signature comparison is per-row arithmetic on columns the join
    // already carries; distinct() then shuffles only surviving
    // (id_a, id_b, est) triples instead of full signature pairs. The
    // codegen agreement count (EqCountExpr) replaced an interpreted
    // zip_with fold of k lambda evals per candidate pair; filtering
    // through rowsWhere keeps it to ONE count per band-join row (a plain
    // filter is pushed into the join condition with the count
    // substituted, which computes it twice).
    rowsWhere(cands.select(col("id_a"), col("id_b"),
        round(graft.functions.EqCountFn.eqCount(col("sig_a"), col("sig_b"))
          / lit(k.toDouble), 4).as("est_jaccard")),
      col("est_jaccard") >= minEstimate)
      .distinct()
  }

  /** Fuzzy CROSS-corpus near-dup pairs — the decontamination shape of
    * the training pipeline: find `corpus` (train) documents that are
    * near-duplicates of any `probe` (eval/benchmark) document, so they
    * can be dropped before training. q50's exact containment catches
    * verbatim leakage; this catches paraphrase-level leakage the same
    * way the symmetric q35 catches near-dup pairs: MinHash band keys on
    * BOTH sides, an asymmetric band join (corpus × probe — never
    * corpus × corpus, so the candidate volume is |corpus bands| ×
    * |probe bucket mates|, linear in the corpus for a fixed probe set),
    * then exact-Jaccard verification so the output is exact on the
    * candidates found. At 100 TB the probe side (a benchmark suite) is
    * tiny: its banded keys behave like a broadcast-sized build side
    * against the streaming corpus scan. Output: (id_a = corpus doc,
    * id_b = probe doc, n_common, jaccard). Ids must be distinct across
    * the two frames (they are two slices of one id space in q119). */
  def crossCorpusNearDup(corpus: DataFrame, probe: DataFrame,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    val bc = minhashBandKeys(corpus, k, bands, n)
      .select(col("band"), col("band_hash"), col("id").as("id_a"))
    val bp = minhashBandKeys(probe, k, bands, n)
      .select(col("band"), col("band_hash"), col("id").as("id_b"))
    val cands = bc.join(bp, Seq("band", "band_hash"))
      .select("id_a", "id_b").distinct()
    verifiedJaccard(corpus.unionByName(probe), cands, threshold, n)
  }

  /** Incremental-ingest dedup — the shape every production corpus update
    * actually runs: a NEW batch of documents arrives and must be deduped
    * (a) against the accumulated historical corpus and (b) within itself,
    * while the history is never re-deduped (history × history never
    * joins). Per batch doc the verdict is deterministic and prioritized:
    * `dup_history` (some history doc matches at >= threshold; blame the
    * smallest such id), else `dup_batch` (a LOWER-id batch doc matches —
    * the same lower-id-wins convention as [[exact]]), else `kept`.
    *
    * Scale contract at 100 TB: the history side contributes only its
    * MinHash band keys — in production those are a materialized index
    * (computed once per doc at its own ingest, appended per batch — see
    * [[minhashBandKeys]], whose output is exactly the index schema), so
    * a daily ingest pays |batch| signature computations plus one
    * band-key probe join against the index plus the batch's internal
    * candidate join. Cost per ingest is linear in the batch for a fixed
    * band scheme; nothing ever rescans or re-pairs the full corpus. Both
    * candidate legs are exact-Jaccard verified ([[verifiedJaccard]]), so
    * the output is exact on the candidates found and the DuckDB oracle
    * (exact pair truth on both legs) doubles as the band recall proof —
    * the q35/q119 pattern.
    *
    * This batch entry signatures both frames itself. The batch's keys
    * are pinned once ([[graft.core.Pin]]; the in-batch join reads them on
    * both sides and the history probe a third time) and freed before
    * returning: the returned frame reads only the `pairs` checkpoint of
    * [[incrementalNearDupIndexed]], never the keys. */
  def incrementalNearDup(history: DataFrame, batch: DataFrame,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    def keys(docs: DataFrame): DataFrame =
      minhashBandKeys(docs, k, bands, n)
        .select(col("band"), col("band_hash"), col("id"))
    val bb = Pin(keys(batch))
    try incrementalNearDupIndexed(keys(history), history, batch, bb,
      threshold, n)
    finally Pin.free(bb)
  }

  /** [[incrementalNearDup]] with both sides' band keys supplied (schema
    * = [[minhashBandKeys]] output: band, band_hash, id) — the form the
    * streaming ingest path ([[graft.streaming.IncrementalDedup]]) runs
    * every micro-batch. `historyBands` is the MATERIALIZED INDEX, computed
    * once per doc at its own ingest and persisted, so a new batch never
    * re-signatures the corpus. `batchBands` is the batch's own keys; the
    * streaming path passes the index partition it just wrote for the
    * batch, so each batch is signatured exactly once. The operator never
    * derives keys itself, so the band scheme (k, bands) is the caller's.
    * `historyDocs` is the corpus registry (id, text); only docs that
    * actually appear as candidates are fetched from it (left-semi on
    * candidate ids) — verification cost is bounded by the candidate set,
    * never the corpus. Output is identical to [[incrementalNearDup]] by
    * construction (the batch form delegates here).
    *
    * History is only SCANNED, not shuffled, while the batch side is
    * small: the history probe broadcasts `batchBands` (a parquet scan,
    * hinted), and both verify-leg semi-joins (history registry, batch
    * docs) join against candidate ids read from the pinned `cands`,
    * which reports its real stored size ([[graft.core.Pin]]), so the
    * planner broadcasts them under the session's broadcast threshold.
    *
    * Envelope: the history candidate ids number at most |batch| × bands
    * × (history docs per matched bucket). On a corpus of mostly
    * singleton buckets that is about |batch|·bands; a hot bucket (one
    * band hash shared by many history docs — templated or boilerplate
    * pages) multiplies it by the bucket's population. Past the broadcast
    * threshold the semi-joins plan as sort-merge joins and shuffle the
    * registry's candidate rows: slower, same rows.
    *
    * Executor loss: `cands` and `pairs` are pinned checkpoints — their
    * blocks live only in executor storage and their lineage is cut. If
    * an executor holding a block is lost before the returned frame is
    * consumed, the next job reading it fails on the missing checkpoint
    * block; nothing recomputes it, so the failure is loud and never
    * yields different rows. Under the streaming wiring the micro-batch
    * fails, and the restarted query replays the same batch id, which
    * rewrites its partitions and recomputes the same verdicts. */
  def incrementalNearDupIndexed(historyBands: DataFrame,
      historyDocs: DataFrame, batch: DataFrame, batchBands: DataFrame,
      threshold: Double = 0.5, n: Int = 3): DataFrame = {
    // Both candidate legs join the same batch keys, and ONE verify pass
    // over the union serves both legs. `cands` is pinned
    // (the ConnectedComponents.resolve pattern): it is referenced by 3
    // downstream joins, and a lazy plan re-derives the whole candidate
    // subtree per reference (the plan audit measured 32 shuffles / 29
    // scans lazy vs 12 / 7 with it and the batch keys pinned; the keys
    // now arrive as a stable frame from the caller). It is bounded by
    // the BATCH side (candidate id pairs), never by the history — the
    // asymmetry that makes the checkpoint safe at any corpus size.
    val histCands = historyBands
      .select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(broadcast(batchBands.select(col("band"), col("band_hash"),
        col("id").as("id_b"))), Seq("band", "band_hash"))
      .select("id_a", "id_b").distinct()
      .withColumn("src", lit("hist"))
    val batchCands = CoOccur.bucketPairs(batchBands, Seq("band", "band_hash"), "id")
      .select("id_a", "id_b").distinct()
      .withColumn("src", lit("batch"))
    val cands = Pin(histCands.unionByName(batchCands))
    // Verification shingles only the docs that can appear in a verified
    // pair: every candidate's id_b is a batch doc, and the history ids
    // are exactly the hist-leg id_a values — left-semi against those
    // keeps the verify pass candidate-bounded (shingling the WHOLE
    // corpus registry per ingest would be a full-corpus rescan, the
    // thing this operator exists to avoid).
    // ids are disjoint across the two frames (operator contract), so a
    // verified pair re-joins to exactly one tagged candidate row; the
    // `pairs` pin stops the two blame aggregates below from each
    // re-running the whole verify subtree (its output is just the
    // surviving pairs — the smallest frame in the operator).
    // cands and the verifier's pinned intermediates feed only the
    // (eager) pairs checkpoint — their blocks are freed as soon as it is
    // built or has failed, instead of waiting for the ContextCleaner
    // (ADVICE r8: a long-running driver otherwise accumulates them per
    // micro-batch). `verified` reads only the verifier's two pins; the
    // docs handed to it (which read `cands`) sit behind their cuts, so
    // nothing else is freed. pairs itself backs the returned frame; the
    // streaming wiring frees it after the verdict write.
    val pairs = try {
      val neededHist = historyDocs.join(
        cands.filter(col("src") === "hist").select(col("id_a").as(DocId)),
        Seq(DocId), "left_semi")
      val verified = verifiedJaccard(
        neededHist.unionByName(batch),
        cands.select("id_a", "id_b"), threshold, n)
      try Pin(verified.join(cands, Seq("id_a", "id_b")))
      finally Pin.free(verified)
    } finally Pin.free(cands)
    val histBlame = pairs.filter(col("src") === "hist")
      .groupBy(col("id_b").as(DocId)).agg(min("id_a").as("hist_dup"))
    val batchBlame = pairs.filter(col("src") === "batch")
      .groupBy(col("id_b").as(DocId)).agg(min("id_a").as("batch_dup"))
    batch.select(col(DocId))
      .join(histBlame, Seq(DocId), "left")
      .join(batchBlame, Seq(DocId), "left")
      .select(col(DocId),
        when(col("hist_dup").isNotNull, lit("dup_history"))
          .when(col("batch_dup").isNotNull, lit("dup_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("hist_dup"), col("batch_dup"), lit(-1L)).as("dup_of"))
  }

  /** Per-doc 64-bit SimHash over DISTINCT token n-gram shingles (n=1
    * degenerates to bare tokens).
    *
    * Feature choice is what gives simhash its precision — more than any
    * chunking/banding tweak downstream. Hashing bare tokens makes every
    * pair of docs drawn from a small vocabulary nearly collinear:
    * measured on the sf0.1 corpus, 1.05M of the 12.5M doc pairs fall
    * within hamming 12 on token features, vs 864 within hamming 16 on
    * 3-gram shingle features (true J>=0.5 pairs sit at 0-11 on both).
    * Shingles are also exactly what [[verifiedJaccard]] checks, so the
    * signature approximates the metric the verifier enforces.
    *
    * Computed in the row ([[graft.functions.SimHashExpr]] over xxhash64
    * features): no per-shingle rows, no shuffle. A doc with no shingles
    * gets no row; `doc_id` must be unique, as for [[minhashSignatures]]. */
  def simhashDocs(docs: DataFrame, n: Int = 3): DataFrame =
    simhashFrame(docs, n, md5 = false)

  private def simhashFrame(docs: DataFrame, n: Int, md5: Boolean): DataFrame =
    rowsWhere(docs.select(col(DocId).as("id"),
      SimHashFn.simhash(T.shingles(col(Text), n), md5).as("simhash")),
      col("simhash").isNotNull)

  /** SimHash near-dup pairs with Hamming distance <= maxDist. Candidates
    * via the (k+1)-chunk pigeonhole equality join — [[hammingPairs]]'
    * one-block combination tables — verified with bit_count.
    *
    * Scaling contract (measured, BENCH_SCALE_r04): chunk width
    * w = 64/(maxDist+1) bits caps the bucket count at 2^w, so chance
    * collisions grow as n²/2^w — at maxDist=12 (5-bit chunks) the
    * exponent measured 1.16 on a Heaps-vocabulary corpus but 1.57 on the
    * degenerate fixed-vocabulary one. The production dial at 10^9+ docs
    * is WIDER chunks: lower maxDist (Manku et al. WWW'07 use 3 with
    * 64-bit fingerprints = 16-bit chunks) or longer fingerprints, both
    * exposed here via `maxDist` / [[SimHash.Bits]]. Measured on the
    * degenerate corpus: maxDist=3 collapses the exponent 1.44 → 0.50 and
    * runs 3× faster, but finds only the tightest dups (296 of 620 exact
    * pairs vs maxDist=12's 583) — the dial buys scale with recall. When
    * the corpus is too uniform for simhash to discriminate,
    * [[minhashLsh]] + [[verifiedJaccard]] measured flat (0.44) on the
    * same corpus with identical exact output, and is the default
    * recommendation. The Manku-width configuration is DECLARED as q114
    * ([[simhashPairsPortable]], maxDist=3 over 15-bit chunks with a
    * full DuckDB mechanism oracle) — the battery's at-scale simhash
    * form; this maxDist=12 entry (q36) remains the recall-oriented
    * small-corpus dial.
    *
    * Two further scale decisions, both invisible in the (exact) output:
    *  - chunk widths are BALANCED (width differs by at most one bit,
    *    [[simhashBlockBounds]]): the pigeonhole guarantee holds for any
    *    (k+1)-way bit partition, and a narrow chunk is a weak pruner —
    *    the old floor-width split gave twelve 4-bit chunks whose 16
    *    buckets each held ~1/16 of the corpus (worse under simhash bit
    *    bias: measured buckets of 2700+ docs at sf0.1, ~40M
    *    chance-collision pairs).
    *  - the bucket self-join is SALTED ([[CoOccur.bucketPairs]]'
    *    `salt`): one hot bucket's pairs spread over `saltBuckets`
    *    tasks.
    *
    * The (id, simhash) frame is pinned, as on every simhash pair entry:
    * see [[simhashPairsCombinatorial]]. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 8,
      saltBuckets: Int = 16, n: Int = 3): DataFrame =
    hammingPairs(Pin(simhashDocs(docs, n)),
      maxDist, SimHash.Bits, saltBuckets)

  /** Signature width of the [[simhashDocsPortable]] family: 60 bits (15
    * md5 hex digits per feature — see TextFunctions.hash60), so every
    * shift/sum stays ANSI-Long-safe and DuckDB reproduces each bit. */
  val PortableSimHashBits = 60

  /** Portable 60-bit simhash signatures: identical shape to
    * [[simhashDocs]] but the feature hash is md5-derived
    * (TextFunctions.hash60) instead of xxhash64, so a SQL engine can
    * recompute every signature bit from the same hex digits — the
    * q39/q40 recompute-the-buckets oracle pattern applied to simhash.
    * (Bits 60-63 of the signature are structurally 0: every feature
    * hash is < 2^60, so those counters only ever decrement.) */
  def simhashDocsPortable(docs: DataFrame, n: Int = 3): DataFrame =
    simhashFrame(docs, n, md5 = true)

  /** SimHash near-dup candidates at the Manku chunk width — the
    * MID-CORPUS dial (fine to ~10^6 docs; the at-scale simhash is
    * [[simhashPairsCombinatorial]], VERDICT r6 #1's re-scope) —
    * maxDist=3 over the 60-bit portable signature gives four 15-bit
    * chunks (2^15 buckets per chunk), so the n²/2^w chance-collision
    * term that breaks narrow chunks (measured exponent 1.57 adversarial
    * at maxDist=12's 5-bit chunks) is suppressed by a 1024× larger
    * bucket space (Manku et al. WWW'07 run exactly this shape: 64-bit
    * fingerprints, distance 3, 16-bit blocks). Recall is the documented
    * trade: only the tightest near-dups sit within Hamming 3, so route
    * looser corpora through [[minhashLsh]] + [[verifiedJaccard]].
    * Portable signatures make the whole operator — signature bits,
    * chunking, candidate join, Hamming filter — reproducible in SQL
    * (declared as q114 with a full DuckDB mirror). The chunks are the
    * one-block tables of [[hammingPairs]]; a one-block key still admits
    * ~n²/2^15 chance agreements per table (measured exponent 1.95-1.99
    * over g1→g30); corpora past ~10^6 docs should use
    * [[simhashPairsCombinatorial]] (q116), whose (nBlocks − maxDist)-block
    * keys hold the volume linear at the same exact output. */
  def simhashPairsPortable(docs: DataFrame, maxDist: Int = 3,
      saltBuckets: Int = 16, n: Int = 3): DataFrame =
    hammingPairs(Pin(simhashDocsPortable(docs, n)),
      maxDist, PortableSimHashBits, saltBuckets)

  /** SimHash candidates via Manku's BLOCK-COMBINATION tables — **the
    * declared AT-SCALE simhash** (q116; the chunk forms q36/q114 are
    * small-/mid-corpus dials) and the fix for the chunk scheme's
    * chance-collision term. The
    * (maxDist+1)-chunk pigeonhole ([[simhashPairsPortable]]) keys each
    * table on ONE chunk of width bits/(maxDist+1): at maxDist=3 over 60
    * bits that is 15 bits, so each of the 4 tables admits ~n²/2^15
    * random agreements — a quadratic with a 2^-15 constant that CandVol
    * measures at exponent ~2.0 and that a corpus decade beyond gen10
    * would surface (NOTES r6 loose end). Manku et al. WWW'07 §3.1.1's
    * production answer: split the signature into MORE blocks than
    * maxDist and key each table on a COMBINATION of nBlocks − maxDist of
    * them. A pair within Hamming maxDist dirties at most maxDist blocks,
    * so some (nBlocks − maxDist)-subset of blocks is untouched on both
    * sides and the pair still meets in that subset's table — the
    * candidate set is exactly the Hamming ≤ maxDist pairs, same as the
    * chunk scheme (asserted in DedupSpec), but each table's key is now
    * (nBlocks − maxDist) blocks WIDE: the default 6 blocks of 10 bits
    * gives C(6,3) = 20 tables keyed on 30 bits, shrinking the per-table
    * chance-collision constant 2^15 → 2^30 (a 32768× drop) for a 5×
    * key-row fan-out (20 vs 4 rows per doc) — precisely Manku's
    * space-for-asymptote trade. CandVol measures both schemes' volumes
    * side by side; the combination scheme's exponent stays ~1 even on
    * corpora whose chunk volume has gone quadratic (measured 1.95-1.98
    * for the 15-bit chunks vs 1.00-1.01 here on the g1/g3/g10 Heaps
    * corpora; 16.7M vs 0.62M candidate pairs at 500k docs).
    *
    * saltBuckets defaults LOWER than the chunk scheme's 16: salt should
    * size to the expected hot-bucket population, and 30-bit keys make
    * chance buckets ~2^15× smaller than 15-bit chunks — the residual
    * hot keys are exact-/near-dup clusters, which a small salt already
    * spreads. Side B's replication is rows × C(nBlocks, nBlocks−maxDist)
    * × saltBuckets, so salt decides whether the 20-table fan-out costs
    * 5× shuffle (measured at g10, honest harness: salt 16 put this
    * join's wall ABOVE the chunk join's despite 27× fewer candidates;
    * salt 4 read ~61-95 s, salt 2 ~50-66 s, salt 1 ~53-57 s — salt 2 is
    * the declared default: ~35% under salt 4 at depth, equal at small
    * scale, and still 2-way spread on a genuinely hot dup-cluster key;
    * per-doc side-B fan-out 40 rows vs the chunk scheme's 64).
    *
    * Two plan decisions shared by the simhash pair entries, both
    * invisible in the output:
    *  - the narrow (id, simhash) signature frame is PINNED (one eager
    *    localCheckpoint, 16 bytes/doc — ~800 MB even at 5·10⁷ docs).
    *    Without it the keyed join's two sides each re-derive the
    *    signature (corpus scan, shingling, per-shingle feature hash):
    *    they shuffle on different keys, and Spark reuses only identical
    *    Exchange subtrees.
    *  - the table-key entries ([[simhashPairsCombinatorial]],
    *    [[simhashPairsPermuted]]) PRUNE singleton (table, key) buckets
    *    before the salted self-join ([[simhashKeyedJoin]]).
    *
    * Both were adopted together by r14 measurement (the numbers are on
    * [[CoOccur.dropSingletonKeys]]). Prune without the pin measured
    * slower at sf0.1 (the count aggregate re-derived the signature a
    * third time). Those numbers predate the per-row signature, when the
    * signature was an explode + aggregation with 2 corpus-sized
    * shuffles; the pin now saves a narrow rescan. */
  def simhashPairsCombinatorial(docs: DataFrame, maxDist: Int = 3,
      nBlocks: Int = 6, saltBuckets: Int = 2, n: Int = 3): DataFrame =
    simhashKeyedJoin(
      simhashComboKeys(Pin(simhashDocsPortable(docs, n)),
        maxDist, PortableSimHashBits, nBlocks),
      "combo_idx", "combo_key", maxDist, saltBuckets, pruneSingletons = true)

  /** Balanced block boundaries of the low `bits` signature bits split
    * `nBlocks` ways: block b covers [offset(b), offset(b)+width(b)) with
    * widths differing by at most one (first `bits % nBlocks` blocks get
    * the extra bit). */
  private[graft] def simhashBlockBounds(bits: Int, nBlocks: Int): Seq[(Int, Int)] = {
    val base = bits / nBlocks
    val extra = bits % nBlocks
    (0 until nBlocks).map(b => (b * base + math.min(b, extra),
      base + (if (b < extra) 1 else 0)))
  }

  /** The combination tables as (offset, width) runs: one run per chosen
    * block of each C(nBlocks, nBlocks − maxDist) block subset, subsets in
    * lexicographic order (the table index). `nBlocks = maxDist + 1`
    * gives the (maxDist+1)-chunk pigeonhole: one single-block table per
    * chunk. Shared by [[simhashComboKeys]] and the q116/q123 oracle SQL,
    * so both build the SAME tables. */
  private[graft] def simhashComboTables(bits: Int, nBlocks: Int,
      maxDist: Int): Seq[Seq[(Int, Int)]] = {
    require(nBlocks > maxDist,
      s"need nBlocks > maxDist for the pigeonhole (got $nBlocks <= $maxDist)")
    require(nBlocks <= bits, s"nBlocks $nBlocks exceeds signature bits $bits")
    val bounds = simhashBlockBounds(bits, nBlocks)
    (0 until nBlocks).combinations(nBlocks - maxDist).map(_.map(bounds)).toSeq
  }

  /** Combination-table keys of [[simhashPairsCombinatorial]] and
    * [[hammingPairs]] — (id, simhash, combo_idx, combo_key): for each
    * table of [[simhashComboTables]], the chosen blocks' bits packed
    * consecutively into one Long. Factored out so
    * [[graft.tools.CandVol]] measures the exact join keys shuffled. */
  private[graft] def simhashComboKeys(sims: DataFrame, maxDist: Int,
      bits: Int, nBlocks: Int): DataFrame =
    tableKeys(sims, simhashComboTables(bits, nBlocks, maxDist),
      "combo_idx", "combo_key")

  /** (id, simhash, `idxCol`, `keyCol`), one row per (doc, table): each
    * table's (offset, width) runs of the signature packed consecutively
    * into one Long, starting from the first run, so a one-run table's
    * key is the bare masked shift. The mask is `-1L >>> (64 − w)`:
    * `(1L << 64) − 1` is 0, because the JVM takes a long shift mod 64,
    * and a 64-bit run (maxDist = 0 at 64 bits) must keep every bit. */
  private def tableKeys(sims: DataFrame, tables: Seq[Seq[(Int, Int)]],
      idxCol: String, keyCol: String): DataFrame = {
    def run(off: Int, w: Int): Column =
      shiftrightunsigned(col("simhash"), off).bitwiseAND(lit(-1L >>> (64 - w)))
    val keyExprs = tables.map { runs =>
      val width = runs.map(_._2).sum
      require(runs.nonEmpty && runs.forall(_._2 > 0) && width <= 64,
        s"packed table key would need $width bits in runs $runs")
      val (off0, w0) = runs.head
      runs.tail.foldLeft((run(off0, w0), w0)) { case ((acc, shift), (off, w)) =>
        (acc.bitwiseOR(shiftleft(run(off, w), shift)), shift + w)
      }._1
    }
    sims.select(col("id"), col("simhash"),
      posexplode(array(keyExprs: _*)).as(Seq(idxCol, keyCol)))
  }

  /** SimHash candidates via Manku's RECURSIVE permuted-table scheme
    * (WWW'07 §3.1.1's other table design, declared as q122) — the
    * LOW-FAN-OUT non-quadratic simhash: where
    * [[simhashPairsCombinatorial]] pays C(6,3) = 20 tables for its
    * 30-bit keys, the recursive split reaches a comparable key width
    * with `nOuter × nInner` = 16 tables. Construction: split the
    * signature into `nOuter` balanced blocks; for each choice of one
    * outer block i (the "permutation" that leads with it), split the
    * REMAINING bits into `nInner` balanced sub-blocks and choose one, j.
    * Table (i, j)'s key packs block i's bits followed by sub-block j's
    * bits — 15 + 12 = 27 bits at the 60-bit defaults.
    *
    * Exactness (double pigeonhole): a pair within Hamming `maxDist` has
    * ≤ maxDist dirty outer blocks out of nOuter > maxDist, so some
    * outer block i is untouched on both sides; its complement carries
    * all ≤ maxDist differing bits, which dirty ≤ maxDist of the
    * nInner > maxDist sub-blocks, so some sub-block j is untouched too —
    * the pair meets in table (i, j). Conversely the Hamming filter
    * removes chance key agreements, so the output is exactly the
    * Hamming ≤ maxDist pairs — same contract as the chunk and
    * combination schemes (asserted by the three-scheme equivalence
    * spec).
    *
    * Scale position within the family: per-table chance collisions are
    * ~n²/2^27 (vs 2^30 for q116's 20 tables and 2^15 for q114's 4) —
    * 8× the combination scheme's constant for 20% less fan-out and a
    * simpler two-level key, and still ~4000× below the chunk dial; the
    * candidate volume reads exponent 1.01/1.04/1.09 across g1→g30 and
    * 1.02 adversarial (CANDVOL_r08), with the 2^27 term surfacing at
    * the g100 decade (1.25 at 5M docs, CANDVOL_r08_g100) — the
    * documented envelope: a few ×10⁶ docs at 60-bit signatures; past
    * it, [[simhashPairsCombinatorial]]'s 2^30 keys (1.03 at g100) are
    * the deeper-scale form. Side-B replication is
    * nOuter·nInner·saltBuckets = 32 rows/doc at the defaults (q116 at
    * salt 2: 40). Pins and prunes like [[simhashPairsCombinatorial]]. */
  def simhashPairsPermuted(docs: DataFrame, maxDist: Int = 3,
      nOuter: Int = 4, nInner: Int = 4,
      saltBuckets: Int = 2, n: Int = 3): DataFrame =
    simhashKeyedJoin(
      simhashPermutedKeys(Pin(simhashDocsPortable(docs, n)),
        maxDist, PortableSimHashBits, nOuter, nInner),
      "tbl_idx", "tbl_key", maxDist, saltBuckets, pruneSingletons = true)

  /** Bit segments of [[simhashPairsPermuted]]'s nOuter·nInner tables, in
    * table order (i major, j minor): each table is a list of (offset,
    * width) runs of the ORIGINAL signature to pack consecutively —
    * outer block i first, then sub-block j of i's complement (the
    * complement's bits concatenated in signature order, split into
    * nInner balanced parts; a sub-block straddling outer-block
    * boundaries contributes one run per straddled block). Factored out
    * so the q122 oracle SQL is GENERATED from the same enumeration. */
  private[graft] def simhashPermutedSegments(bits: Int, nOuter: Int,
      nInner: Int): Seq[Seq[(Int, Int)]] = {
    val outer = simhashBlockBounds(bits, nOuter)
    for {
      i <- 0 until nOuter
      (offI, wI) = outer(i)
      rest = outer.zipWithIndex.collect { case (b, k) if k != i => b }
      innerBounds = simhashBlockBounds(bits - wI, nInner)
      j <- 0 until nInner
    } yield {
      val (jOff, jW) = innerBounds(j)
      // map [jOff, jOff+jW) in the complement's concatenated bit space
      // back to original-signature runs
      var pos = 0
      val runs = rest.flatMap { case (ro, rw) =>
        val lo = math.max(jOff, pos)
        val hi = math.min(jOff + jW, pos + rw)
        pos += rw
        if (hi > lo) Some((ro + (lo - (pos - rw)), hi - lo)) else None
      }
      (offI, wI) +: runs
    }
  }

  /** Permuted-table keys of [[simhashPairsPermuted]] — (id, simhash,
    * tbl_idx, tbl_key), one row per (doc, table). Factored out so
    * [[graft.tools.CandVol]] measures the exact join keys shuffled. */
  private[graft] def simhashPermutedKeys(sims: DataFrame, maxDist: Int,
      bits: Int, nOuter: Int, nInner: Int): DataFrame = {
    require(nOuter > maxDist && nInner > maxDist,
      s"double pigeonhole needs nOuter and nInner > maxDist " +
        s"(got $nOuter/$nInner vs $maxDist)")
    tableKeys(sims, simhashPermutedSegments(bits, nOuter, nInner),
      "tbl_idx", "tbl_key")
  }

  /** Hamming near-dup pairs over any PRECOMPUTED (id, simhash) signature
    * frame through the (maxDist+1)-chunk pigeonhole: the one-block
    * combination tables ([[simhashComboKeys]] with nBlocks = maxDist + 1),
    * balanced chunk widths, salted self-join, Hamming verify. The
    * machinery behind [[simhashPairs]] and [[simhashPairsPortable]],
    * exposed for signatures that don't come from text shingles (e.g.
    * [[Multimodal.imageNearDup]]'s perceptual dHash). Same contract:
    * exactly the Hamming ≤ maxDist pairs, salted against hot buckets.
    * maxDist = 0 keys on the whole signature (one `bits`-wide chunk). */
  def hammingPairs(sims: DataFrame, maxDist: Int, bits: Int = 64,
      saltBuckets: Int = 16): DataFrame =
    simhashKeyedJoin(simhashComboKeys(sims, maxDist, bits, maxDist + 1),
      "combo_idx", "combo_key", maxDist, saltBuckets)

  /** Shared salted self-join + Hamming verify over any (id, simhash,
    * table-idx, key) candidate frame — the join body of every simhash
    * table scheme (the one-block chunk tables of [[hammingPairs]], the
    * combination tables of [[simhashPairsCombinatorial]], the permuted
    * tables of [[simhashPairsPermuted]]): the [[CoOccur.bucketPairs]]
    * self-join on (table, key), salted `saltBuckets` ways.
    *
    * `pruneSingletons` drops (table, key) buckets with fewer than 2 rows
    * first ([[CoOccur.dropSingletonKeys]]; count >= 2 iff >= 2 distinct
    * docs, since each doc emits exactly one row per table index). With
    * 27-36-bit keys almost every bucket is a singleton at any real
    * corpus size, and side B of the salted join replicates every row
    * saltBuckets times. The multi-block entries prune; [[hammingPairs]]'
    * chunk tables do not. */
  private def simhashKeyedJoin(keys0: DataFrame, idxCol: String,
      keyCol: String, maxDist: Int, saltBuckets: Int,
      pruneSingletons: Boolean = false): DataFrame = {
    val tableKeys = Seq(idxCol, keyCol)
    val keys = if (pruneSingletons) CoOccur.dropSingletonKeys(keys0, tableKeys) else keys0
    CoOccur.bucketPairs(keys, tableKeys, "id", Seq("simhash"), saltBuckets)
      // verify BEFORE dedup: hamming is a per-row bit op on columns the
      // join already carries, while distinct() is a shuffle — with ~5-bit
      // chunks the chunk join emits millions of chance collisions and
      // only near-dups survive the filter, so filtering first shrinks the
      // dedup shuffle from O(collisions) to O(true pairs) (measured 21 s
      // -> sub-second on q36 at sf0.1).
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Default blocking family for [[embeddingNearDup]]: 4 seeded ±1
    * Rademacher planes over the 64-dim embedding space → 16 buckets.
    * ±1 planes keep the bucket ids SQL-reproducible (the q40 oracle
    * recomputes them bit-for-bit in DuckDB). */
  private[graft] val nearDupPlanes: Array[Array[Double]] =
    V.rademacherPlanes(4, 64, seed = 7L)

  /** Embedding near-dup: cosine >= threshold among pairs sharing a block.
    *
    * SCALE NOTE: the fixed 4-plane default (16 buckets forever) makes
    * bucket populations grow ∝ n, so candidate work is Θ(n²/16)
    * asymptotically — fine at fixture scale, wrong at corpus scale. The
    * documented default for large corpora is
    * [[embeddingNearDupAdaptive]] (declared as q113): plane count grows
    * log2(n/target), measured exponent 0.88 vs this form's hidden
    * quadratic.
    *
    * Default blocking is the sign-LSH bucket of the vector itself — safe
    * on any corpus. Passing an explicit `blockCol` (e.g. a label) is
    * allowed but carries a cardinality contract: each block is joined
    * quadratically, so a low-cardinality column makes blocks
    * corpus/|values| wide (the round-2 scale-killer — VERDICT r2 §wrong
    * 3). Either way `maxItemsPerBlock` drops oversized blocks before the
    * pair join ([[CoOccur.dropHotKeys]]), bounding the worst block at
    * O(maxItemsPerBlock²), and applied identically in the DuckDB oracle
    * so semantics match at every SF.
    *
    * PRECONDITION: `vec_id` values are unique. Each row sits in exactly
    * one block, so a pair of distinct ids meets at most once and the
    * output needs no dedup; two rows sharing an id never pair. Every
    * repo caller passes a primary-key vec_id. */
  def embeddingNearDup(embs: DataFrame, threshold: Double = 0.9,
      blockCol: Option[String] = None, maxItemsPerBlock: Long = 10000L): DataFrame = {
    // norms computed once per row, pre-join: each candidate pair then
    // costs a single dot product (see VectorFunctions.cosineFromNorms)
    val blocked = blockCol match {
      case Some(c) => embs.withColumn("blk", col(c))
      case None    => embs.withColumn("blk", V.lshBucket(col(Vec), nearDupPlanes))
    }
    val n = blocked.select(col("blk"), col(VecId).as("id"),
      col(Vec).as("v"), V.l2Norm(col(Vec)).as("nrm"))
    CoOccur.bucketPairs(CoOccur.dropHotKeys(n, Seq("blk"), maxItemsPerBlock),
        Seq("blk"), "id", Seq("v", "nrm"))
      .withColumn("cos", round(V.cosineFromNorms(col("v_a"), col("v_b"),
        col("nrm_a"), col("nrm_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Scale-adaptive embedding near-dup — the asymptotic fix for
    * [[embeddingNearDup]]'s FIXED plane count: with 2^4 = 16 buckets the
    * bucket self-join is Θ(n²/16) no matter how large the corpus grows
    * (measured exponent 0.88 at 2k→20k vectors only because fixed costs
    * still dominate there). Here the plane count grows with the corpus —
    * `nPlanes = max(4, ceil(log2(n / targetPerBucket)))` — so the
    * expected bucket population stays ~targetPerBucket and candidate
    * work stays ~n · targetPerBucket: linear in n with a log-deep
    * bucket id, the same width-scales-with-log-n rule the simhash
    * scaladoc cites from Manku et al.
    *
    * EVEN STEPPING (round 6; kills the round-5 sawtooth): a pure
    * power-of-two bucket count makes the mean population sawtooth in
    * (target/2, target] — one short measurement leg read 1.44 in
    * BENCH_SCALE_r05 purely from the population step. Instead the
    * bucket count is B = max(16, ceil(n/target)), stepping by ONE: with
    * p = floor(log2 B) and m = B − 2^p, the scheme computes p+1 plane
    * signs and MERGES the top-plane split for low-bit prefixes >= m
    * (eff = low < m ? low | top<<p : low), yielding exactly 2m split +
    * (2^p − m) merged = B buckets. This is a locality-preserving
    * coarsening of the (p+1)-plane bucket, so LSH semantics are intact,
    * and per-row candidate work ripples within [0.5, 0.5625]·target —
    * a 12.5% ripple instead of 2× — at EVERY n.
    *
    * More planes cost recall (a cosine-θ pair agrees per plane with
    * prob 1 − θ/π), so candidates are MULTIPROBED at Hamming radius 1:
    * side B lands in its own effective bucket plus the coarsening of
    * every single-plane flip, and a pair meets whenever their p+1 plane
    * signs differ in ≤1 plane (flipping the merged top plane is the
    * identity on the effective bucket, so merged regions are strictly
    * MORE permissive). For planted near-identical pairs (cos ≥ 0.99,
    * θ ≈ 8°) recall is ~0.95 at 8 planes (pinned in DedupSpec); radius
    * and target are the documented recall/cost dials. Output is EXACT on
    * the candidates found: same per-bucket bound and verified cosine as
    * [[embeddingNearDup]].
    *
    * The corpus count is one driver scalar (documented bounded collect —
    * the same class as IVF centroids); the bucket count therefore
    * depends only on the DATA, never on partitioning, so results are
    * deterministic at any parallelism — and the q113 oracle reproduces
    * it in DuckDB: B/p/m are integer scalar subqueries, the effective
    * bucket coarsens the 30-plane bucket's low p+1 bits (Rademacher
    * plane i is seed-deterministic and independent of the family size —
    * asserted by DedupSpec's prefix pin), and the radius-1 multiprobe is
    * an XOR-bit-flip + coarsen join.
    *
    * PRECONDITION: `vec_id` values are unique. Side A sits in one bucket
    * and side B's probes are deduped per row ([[probeBuckets]]), so a
    * pair of distinct ids meets at most once and the output needs no
    * dedup. Every repo caller passes a primary-key vec_id. */
  def embeddingNearDupAdaptive(embs: DataFrame, threshold: Double = 0.9,
      targetPerBucket: Long = 256L, maxItemsPerBlock: Long = 10000L,
      dim: Int = 64, seed: Long = 7L,
      maxProbePlanes: Int = Int.MaxValue): DataFrame = {
    val (bounded, scheme) = adaptiveBuckets(embs, targetPerBucket,
      maxItemsPerBlock, dim, seed)
    // side A sits in its effective bucket; side B multiprobes radius 1 —
    // a pair meets iff their p+1 plane signs differ in at most one plane
    // (in a probed plane, under the maxProbePlanes volume/recall dial)
    val a = bounded.select(col("blk"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = bounded
      .select(explode(probeBuckets(col("full"), scheme, maxProbePlanes)).as("blk"),
        col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(V.cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Plane-family cap for [[embeddingNearDupAdaptive]]: lshBucket packs
    * plane signs into an Int and the multiprobe literals are `1 << i`,
    * both valid only for planesUsed <= 30. */
  val MaxAdaptivePlanes = 30

  /** Even-stepping bucket scheme for [[embeddingNearDupAdaptive]]:
    * `nLowPlanes` = p low planes always split; plane p (the top plane)
    * splits only the `m` low-bit prefixes below `m`, giving exactly
    * 2^p + m effective buckets — a bucket count that steps by ONE with
    * the corpus instead of doubling. */
  private[graft] case class AdaptiveScheme(nLowPlanes: Int, m: Int) {
    require(m >= 0 && m < (1 << nLowPlanes), s"m $m out of [0, 2^$nLowPlanes)")
    /** planes whose sign is computed per vector (p, or p+1 when m > 0) */
    def planesUsed: Int = if (m > 0) nLowPlanes + 1 else nLowPlanes
    def nBuckets: Int = (1 << nLowPlanes) + m
  }

  /** Locality-preserving coarsening of the (p+1)-plane bucket `full`:
    * keep the top plane's split only where the low-bit prefix is below
    * m. Pure bit arithmetic on driver scalars — stays in codegen. */
  private def coarsenExpr(full: Column, s: AdaptiveScheme): Column = {
    val low = full.bitwiseAND(lit((1 << s.nLowPlanes) - 1))
    if (s.m == 0) low
    else {
      val top = shiftright(full, s.nLowPlanes).bitwiseAND(lit(1))
      when(low < lit(s.m), low + top * lit(1 << s.nLowPlanes)).otherwise(low)
    }
  }

  /** Side-B probe set: the coarsened bucket of `full` and of every
    * single-plane flip, deduped per row (flipping the merged top plane —
    * or any flip that lands in the same effective bucket — would
    * otherwise double-count the pair AND the candidate volume).
    *
    * `maxProbePlanes` caps WHICH planes are flipped: the probe count —
    * and with it the candidate volume's log n growth term — stops
    * growing once planesUsed exceeds the cap, at a recall cost ONLY for
    * pairs whose single differing plane is an uncapped one (for
    * cos >= 0.99 pairs at 10 planes and cap 8 that is ~2 of the ~30%
    * one-diff mass, recall ~0.93 → ~0.87). The default keeps the full
    * radius-1 contract — the declared q113 uses it, so its oracle
    * stays exact; the cap is the documented volume/recall dial for
    * corpora deep enough that the probe-growth term matters (CandVol
    * measures both variants' volumes). */
  private[graft] def probeBuckets(full: Column, s: AdaptiveScheme,
      maxProbePlanes: Int = Int.MaxValue): Column =
    array_distinct(array(
      (0 +: (0 until math.min(s.planesUsed, maxProbePlanes)).map(1 << _).toList).map(f =>
        coarsenExpr(full.bitwiseXOR(lit(f)), s)): _*))

  /** Bucket assignment of [[embeddingNearDupAdaptive]] — the bounded
    * (blk, full, id, v, nrm) frame plus the even-stepping scheme.
    * Factored out so [[graft.tools.CandVol]] measures the exact buckets
    * and multiprobe the operator joins on. `blk` is the effective
    * (coarsened) bucket the join keys on; `full` is the raw
    * planesUsed-bit bucket side B's probes flip. */
  private[graft] def adaptiveBuckets(embs: DataFrame,
      targetPerBucket: Long = 256L, maxItemsPerBlock: Long = 10000L,
      dim: Int = 64, seed: Long = 7L): (DataFrame, AdaptiveScheme) = {
    require(targetPerBucket > 0, "targetPerBucket must be positive")
    val n = embs.count() // bounded driver scalar; sizes the bucket count
    // exact integer ceil(n / target), floored at 16 buckets (4 planes) —
    // integer arithmetic throughout so the oracle lands on the SAME
    // B/p/m (an FP ceil could mis-round at exact multiples).
    val nBuckets = math.max(16L, (n + targetPerBucket - 1) / targetPerBucket)
    var p = 0
    while (p < 62 && (1L << (p + 1)) <= nBuckets) p += 1 // floor(log2 B)
    // lshBucket packs plane signs into an Int and the probe literals are
    // 1 << i — both overflow silently past 30 planes. Unreachable below
    // ~2.7e11 vectors at the default target, but this is the variant
    // pitched for huge corpora, so fail loudly instead of corrupting
    // buckets.
    require(p + 1 <= MaxAdaptivePlanes,
      s"bucket count $nBuckets needs ${p + 1} planes > $MaxAdaptivePlanes " +
        s"(corpus $n rows / targetPerBucket $targetPerBucket); raise targetPerBucket")
    val scheme = AdaptiveScheme(p, (nBuckets - (1L << p)).toInt)
    val planes = V.rademacherPlanes(scheme.planesUsed, dim, seed)
    val base = embs.select(col(VecId).as("id"), col(Vec).as("v"),
      V.l2Norm(col(Vec)).as("nrm"),
      V.lshBucket(col(Vec), planes).as("full"))
      .withColumn("blk", coarsenExpr(col("full"), scheme))
    (CoOccur.dropHotKeys(base, Seq("blk"), maxItemsPerBlock), scheme)
  }

  /** DuckDB twin of [[embeddingNearDupAdaptive]] (default dim/seed): the
    * even-stepping scheme's B/p/m are the same integer scalars
    * (B = greatest(16, ceil_div(count(*), target)), p = floor(log2 B),
    * m = B − 2^p), the raw bucket is the [[MaxAdaptivePlanes]]-plane
    * bucket masked to the low p+1 bits (valid because Rademacher plane i
    * never depends on the family size — the prefix property DedupSpec
    * pins), the effective bucket applies the same low<m coarsening, and
    * side B's radius-1 multiprobe XOR-flips each plane below p+1 then
    * coarsens, deduped per row like the operator's probeBuckets.
    * `maxProbePlanes` mirrors the operator's probe-cap dial: the flips
    * CTE stops at the capped plane index (q117 declares the capped
    * form). */
  def embeddingNearDupAdaptiveOracleSql(threshold: Double,
      targetPerBucket: Long = 256L, maxItemsPerBlock: Long = 10000L,
      maxProbePlanes: Int = Int.MaxValue): String = {
    val family = V.rademacherPlanes(MaxAdaptivePlanes, 64, seed = 7L)
    val probeBound =
      if (maxProbePlanes >= MaxAdaptivePlanes)
        "sc.p + (CASE WHEN sc.m > 0 THEN 1 ELSE 0 END)"
      else s"LEAST(sc.p + (CASE WHEN sc.m > 0 THEN 1 ELSE 0 END), $maxProbePlanes)"
    def coarsen(x: String): String =
      s"(CASE WHEN ($x & ((CAST(1 AS BIGINT) << sc.p) - 1)) < sc.m " +
        s"THEN ($x & ((CAST(1 AS BIGINT) << sc.p) - 1)) + ((($x >> sc.p) & 1) << sc.p) " +
        s"ELSE ($x & ((CAST(1 AS BIGINT) << sc.p) - 1)) END)"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sc AS (
       |  SELECT nb, p, nb - (CAST(1 AS BIGINT) << p) AS m FROM (
       |    SELECT nb, (SELECT max(q) FROM (SELECT unnest(range(0, 31)) AS q)
       |                WHERE (CAST(1 AS BIGINT) << q) <= nb) AS p
       |    FROM (SELECT GREATEST(CAST(16 AS BIGINT),
       |      ((SELECT count(*) FROM e) + $targetPerBucket - 1) // $targetPerBucket) AS nb))),
       |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, fullb, ${coarsen("fullb")} AS blk
       |  FROM (SELECT vec_id, v, CAST(${V.lshBucketDuckDbSql(family)} AS BIGINT) AS fullb
       |        FROM e), sc),
       |ok AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= $maxItemsPerBlock),
       |f AS (SELECT b.* FROM b JOIN ok USING (blk)),
       |flips AS (SELECT CAST(0 AS BIGINT) AS flip
       |  UNION ALL
       |  SELECT (CAST(1 AS BIGINT) << i) AS flip
       |  FROM (SELECT unnest(range(0, $MaxAdaptivePlanes)) AS i), sc
       |  WHERE i < $probeBound),
       |pbk AS (SELECT DISTINCT f.vec_id, ${coarsen("xor(f.fullb, fl.flip)")} AS blk
       |  FROM f, flips fl, sc),
       |pb AS (SELECT pbk.blk, f.vec_id, f.v, f.nrm FROM pbk JOIN f USING (vec_id))
       |SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 4) AS cos
       |FROM f a JOIN pb c ON a.blk = c.blk AND a.vec_id < c.vec_id
       |WHERE round(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 4) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of [[embeddingNearDup]] with default LSH blocking —
    * buckets, the size bound, and the cosine are all recomputed in SQL
    * from the same ±1 plane literals the Spark plan embeds. */
  def embeddingNearDupOracleSql(threshold: Double,
      maxItemsPerBlock: Long = 10000L): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |  ${V.lshBucketDuckDbSql(nearDupPlanes)} AS blk FROM e),
       |ok AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= $maxItemsPerBlock),
       |f AS (SELECT b.* FROM b JOIN ok USING (blk))
       |SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 4) AS cos
       |FROM f a JOIN f c ON a.blk = c.blk AND a.vec_id < c.vec_id
       |WHERE round(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 4) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact n-gram Jaccard computed ONLY on supplied candidate pairs — the
    * production near-dup shape at 100 TB: a cheap candidate generator
    * (MinHash+LSH bands, SimHash pigeonhole) bounds the quadratic work,
    * then an exact verifier keeps the OUTPUT hash-exact. The result
    * matches [[ngramJaccard]] exactly whenever the candidate set is a
    * superset of the true >= threshold pairs (recall pinned in
    * DedupSpec), which is what makes the engine-specific candidate
    * generators DuckDB-oracle-verifiable end to end.
    *
    * The result reads two pinned intermediates (candidate pairs; each
    * candidate doc's distinct shingles as one array row) and nothing
    * else: `docs` and the candidate generator sit behind their cuts. A
    * caller that materializes the result eagerly — the streaming ingest
    * path does, via its own pin — releases both deterministically with
    * [[graft.core.Pin.free]] on the result (ADVICE r8 hygiene); batch
    * queries, whose session outlives one query plan, leave them to the
    * ContextCleaner.
    *
    * The intermediates are pinned by localCheckpoint, not persist(), by
    * measurement — with a trap worth recording. persist() first looked
    * 2-5x faster on repeat runs, but that was cross-run cache reuse: the
    * CacheManager keys entries by logical plan, so a second run of the
    * same query in the same session silently read run 1's cached
    * shingles instead of computing them. With the timing harnesses
    * clearing the cache between runs (round 9), the honest same-session
    * A/B at sf0.1 read checkpoint ≤ persist on every leg: q35 2.13-2.73 s
    * checkpoint vs 2.56-3.91 s persist; q97 6.93-7.48 vs 7.39-7.79 s.
    * The columnar cache encode costs more than the checkpoint's
    * UnsafeRow store at every shape tried.
    *
    * The intermediates pin through [[graft.core.Pin]], so the
    * candidate ids that restrict `docs` report their real size: when
    * they fit under the broadcast threshold the restriction broadcasts
    * them and `docs` (text included) is only scanned, never shuffled.
    *
    * `n_common` is `size(array_intersect(a, b))` over the two docs'
    * distinct shingle arrays: exact (string equality), with no
    * (pair × shingle) rows and no pair group-by. Each pair reads its two
    * arrays, so a doc whose row appears twice in `docs` (a history read
    * that overlaps a compaction, see [[graft.streaming.IncrementalDedup]])
    * duplicates the pair's output row with the SAME Jaccard instead of
    * double-counting its shingles. */
  def verifiedJaccard(docs: DataFrame, candidates: DataFrame,
      threshold: Double, n: Int = 3): DataFrame =
    verify(docs, candidates, threshold, n, None)

  /** [[verifiedJaccard]] over each candidate doc's distinct shingles
    * minus the `hot` ones (a one-column `shingle` frame), when given: the
    * capped sets of [[ngramJaccard]]. The hot shingles leave by a
    * broadcast anti-join on the candidate docs' exploded shingles, which
    * are then regrouped into one array per doc, so the regroup exchange
    * carries candidate docs' shingles only. */
  private def verify(docs: DataFrame, candidates: DataFrame,
      threshold: Double, n: Int, hot: Option[DataFrame]): DataFrame = {
    // Shingle ONLY the docs that appear in a candidate pair, and only
    // ONCE (round 9). The earlier shape shingled the FULL corpus and,
    // because its three consumers partitioned differently (id agg,
    // id_a join, (id_b, shingle) join), Catalyst re-derived the
    // explode+distinct subtree per consumer — six corpus-sized shuffles
    // per query at the g100 decade. The round-9 per-stage wall ladder
    // (BENCH_SCALE_r09_q35stages) measured the verify leg at
    // 5.9x for a 3.3x corpus against a candidate volume pinned 1.000:
    // the leg's shuffle footprint outgrew the box's fixed page cache —
    // the third fixed-local-resource trap after shuffle width and heap.
    // Restricting to candidate docs is EXACT by construction: both
    // joins below are keyed by the pair's id_a / id_b, so non-candidate
    // docs never influence the output — the same left-semi bound
    // [[incrementalNearDupIndexed]] documents for its verify pass.
    // Both pinned frames are bounded by the measured-linear candidate
    // volume (pairs; one shingle array per candidate doc), and
    // they stop the candidate GENERATOR (a full LSH/simhash plan) from
    // re-running once per consumer.
    val cand = Pin(candidates.select("id_a", "id_b"))
    val candIds = cand.select(col("id_a").as(DocId))
      .unionByName(cand.select(col("id_b").as(DocId)))
      .distinct()
    val needed = docs.join(candIds, Seq(DocId), "left_semi")
    // one row per candidate doc: its distinct shingle set as an array
    // (a doc without shingles can share none, so it is dropped)
    val sh = Pin(hot match {
      case None => rowsWhere(needed.select(col(DocId).as("id"),
        distinctShingles(n).as("sh")), size(col("sh")) > 0)
      case Some(h) => docShingles(needed, n, 0L)
        .join(broadcast(h), Seq("shingle"), "left_anti")
        .groupBy("id").agg(collect_list("shingle").as("sh"))
    })
    // |A∩B| by string equality on the two arrays: exact, and no
    // (pair × shingle) rows or pair group-by. Zero-overlap pairs are
    // dropped: like [[ngramJaccard]], the output holds only pairs that
    // share a shingle (this matters at threshold 0).
    val scored = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        size(col("sh_a")).cast("long").as("sa"),
        size(col("sh_b")).cast("long").as("sb"))
      .withColumn("jaccard",
        round(col("n_common") / (col("sa") + col("sb") - col("n_common")), 4))
      .select("id_a", "id_b", "n_common", "jaccard")
    rowsWhere(scored, col("n_common") > 0 && col("jaccard") >= threshold)
  }

  /** Prefix-filtering candidate generation (the SSJoin/AllPairs family:
    * Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07 "Scaling Up All
    * Pairs"): under ONE global shingle order (document frequency
    * ascending, shingle text as tiebreak — rarest first), two shingle
    * sets with Jaccard >= t must share an element inside their first
    * |X| - ceil(t|X|) + 1 shingles: a qualifying pair has
    * |A∩B| >= t|A∪B| >= ceil(t|X|) common shingles, which cannot all
    * hide in a suffix of size ceil(t|X|) - 1. So only PREFIXES join.
    * This is the exact, hash-free alternative to [[minhashLsh]]: no
    * recall parameter to tune, and on a mostly-unique corpus the
    * rare-shingle prefixes are near-disjoint, so the candidate join
    * stays sparse — the df-ascending order is precisely what makes the
    * join keys unpopular. Scale notes: the df table is
    * shingle-vocabulary-sized; only shareable rows (df >= 2) move — the
    * per-doc rank window shuffles them on doc id, and a doc's singletons
    * are only counted ([[prefixKeys]]); the candidate join is exposed to
    * a hot key ONLY for shingles that land in many prefixes, which the
    * ordering makes rare by construction. Measured
    * (BENCH_SCALE_r04): exponent 0.60 on a Heaps-vocabulary corpus; 1.08
    * on the degenerate fixed-vocabulary corpus (the positional
    * first-meeting bound prunes even there) — and where the corpus is
    * too uniform for any exact prefix bound, [[minhashLsh]] +
    * [[verifiedJaccard]] (measured 0.44 on the same corpus) is the
    * at-scale substitute with identical exact output.
    *
    * Output: (id_a, id_b) candidates — a provable superset of the
    * >= t pairs; verify with [[verifiedJaccard]] to make it exact
    * ([[ngramJaccard]] is that pair, plus the hot-shingle cap).
    *
    * Construction is lazy. On a corpus too uniform for prefix filtering
    * (exponent 1.08 on the fixed-vocabulary corpus vs 0.60 realistic),
    * [[prefixFilterWarning]] says so, at the cost of two jobs of its
    * own. */
  def prefixCandidates(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame =
    prefixJoin(prefixKeys(docs, threshold, n), threshold)

  /** The candidate self-join of [[prefixCandidates]] over a
    * [[prefixKeys]] frame. */
  private def prefixJoin(prefix: DataFrame, threshold: Double): DataFrame = {
    // the prefix frame feeds BOTH sides of the candidate self-join and
    // each side re-derives it; pinning it would keep a corpus-prefix-
    // sized block store, the trade the shingle frame declines too
    val tEff = threshold - 5e-5 // see prefixKeys' recall note
    // PPJoin positional filter (Xiao et al., WWW'08): when a pair first
    // meets at prefix positions (i, j), its overlap can't exceed
    // 1 + min(|A|-i, |B|-j); a qualifying pair needs overlap >=
    // ceil(t/(1+t)·(|A|+|B|)), so rows whose positional upper bound falls
    // short can't be a pair's FIRST meeting and pairs with no surviving
    // row are provably below threshold. The 1e-9 slack keeps the required
    // overlap STRICTLY conservative under FP ceil (an overshoot would
    // drop true pairs; undershoot only admits extra candidates, which the
    // exact verifier removes anyway). This is what tames the adversarial
    // small-vocabulary case: high-df prefixes still collide, but almost
    // all collisions fail the positional bound before distinct().
    val (na, nb) = (col("n_sh_a"), col("n_sh_b"))
    val minOverlap = ceil(lit(tEff / (1 + tEff)) * (na + nb) - lit(1e-9))
    CoOccur.bucketPairs(prefix, Seq("shingle"), "id", Seq("rk", "n_sh"))
      .filter(lit(1) + least(na - col("rk_a"), nb - col("rk_b")) >= minOverlap)
      .select("id_a", "id_b").distinct()
  }

  /** Prefix join keys of [[prefixCandidates]] — (id, shingle, rk, n_sh),
    * one row per SHAREABLE shingle (df >= 2) that survives the
    * df-ascending prefix cut. `rk` is the shingle's 1-based rank in its
    * doc's full (df, shingle) order and `n_sh` the doc's distinct-shingle
    * count; both count the doc's singletons (df = 1), which are never
    * rows here. A shingle only one doc holds can never be a join key, so
    * it is counted, not moved: `n_sh` is the size of the row's distinct
    * shingle array, taken before the explode, and because a doc's
    * singletons rank first in df-ascending order, a shareable row's rank
    * is n_sh − (the doc's shareable count) + its rank among its doc's
    * shareable rows. The per-doc rank exchange thus carries only
    * shareable rows (a GenScale realistic corpus of 500 docs: 8,666 of
    * 27,262, 0.13 of 0.41 MB), and a doc whose whole prefix is singletons
    * emits no row. Factored out so [[graft.tools.CandVol]] measures the
    * exact join keys the operator shuffles; a singleton row would add
    * C(1, 2) = 0 pairs there.
    *
    * Recall: the downstream verifier ([[verifiedJaccard]] and the
    * q34/q97 oracles) qualifies pairs by round(J, 4) >= t, which admits
    * true J down to t - 5e-5; candidate pruning must therefore guarantee
    * recall for the EFFECTIVE threshold t - 5e-5, not t — otherwise a
    * pair with true J in [t - 5e-5, t) passes the verifier but could be
    * pruned here. (The 1e-9 only guards FP ceil, not rounding.)
    *
    * `maxDocFreq > 0` keys the capped sets of [[ngramJaccard]]: a hot
    * shingle (df > maxDocFreq) sorts after every other in the df order,
    * so dropping it leaves every other row's rank as it was. The rank
    * window, which sees each doc's shareable rows anyway, also counts
    * its hot ones; `n_sh` is then the capped size (distinct shingles
    * minus hot ones), the prefix cut is taken on it, and hot rows are
    * never keys. [[graft.tools.CandVol]] measures these keys for q34's
    * family.
    *
    * PRECONDITION: `doc_id` values are unique. `n_sh` is one row's
    * array size and the df counts one row per (id, shingle), so two rows
    * sharing an id would count as two docs. */
  private[graft] def prefixKeys(docs: DataFrame, threshold: Double,
      n: Int = 3, maxDocFreq: Long = 0L): DataFrame =
    prefixKeysOver(docs, threshold, n, shareableDf(docs, n), maxDocFreq)

  /** The (shingle, df) counts of the shingles at least two docs hold.
    * Counted over [[docShingles]], not over [[prefixKeys]]' exploded
    * arrays: counted over those, its size estimate exceeds the exploded
    * side's, and the planner broadcasts the exploded docs instead of
    * the df table. */
  private def shareableDf(docs: DataFrame, n: Int): DataFrame =
    docShingles(docs, n, 0L)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)

  /** [[prefixKeys]] over a given [[shareableDf]] frame. */
  private def prefixKeysOver(docs: DataFrame, threshold: Double, n: Int,
      shareable: DataFrame, maxDocFreq: Long): DataFrame = {
    val tEff = threshold - 5e-5
    // n_sh is taken from the array before the explode; rowsWhere keeps
    // the explode's inferred size(sh) > 0 filter from being pushed below
    // the projection, where it would shingle every doc a second time
    val sh = rowsWhere(docs.select(col(DocId).as("id"),
      distinctShingles(n).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long")), col("n_sh") > 0)
      .select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    val byDoc = Window.partitionBy("id")
    // the ordered window first: its sort on (id, df, shingle) also
    // serves the per-doc counts, so the exchanged rows are sorted once
    val ranked = sh.join(shareable, Seq("shingle"))
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("shingle"))))
      .withColumn("rk", (col("n_sh") - count(lit(1)).over(byDoc) + col("rk")).cast("int"))
    val capped = if (maxDocFreq <= 0) ranked else ranked
      .withColumn("n_sh", col("n_sh") - count(when(col("df") > maxDocFreq, 1)).over(byDoc))
      .filter(col("df") <= maxDocFreq)
    capped
      .filter(col("rk") <= col("n_sh") - ceil(lit(tEff) * col("n_sh") - lit(1e-9)) + lit(1))
      .select("id", "shingle", "rk", "n_sh")
  }

  /** One-row shingle document-frequency profile — the distribution that
    * decides whether prefix filtering can work: (n_docs, vocab,
    * p50_df, p99_df, max_df). The df aggregate is vocabulary-sized
    * (mergeable, map-side combined); percentiles are approximate
    * (diagnostic, not output). */
  def shingleDfProfile(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = docShingles(docs, n, 0L)
    val nDocs = docs.select(col(DocId)).distinct().count()
    sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(lit(nDocs).as("n_docs"),
        count(lit(1)).as("vocab"),
        expr("approx_percentile(df, 0.5)").as("p50_df"),
        expr("approx_percentile(df, 0.99)").as("p99_df"),
        max("df").as("max_df"))
  }

  /** Adversarial-corpus guard for [[prefixCandidates]] (VERDICT r4 #8):
    * the positional bound held at exponent 1.08 on the degenerate
    * fixed-vocabulary corpus, but the scaladoc's "use minhash when too
    * uniform" advice was mechanical — this makes it measured. When the
    * p99 shingle df exceeds `maxP99Fraction` of the corpus (i.e. even
    * the TAIL of the vocabulary is shared by a large fraction of
    * documents, so df-ascending prefixes cannot be unpopular join
    * keys), returns Some(warning) recommending the minhashLsh +
    * verifiedJaccard route (measured flat at 0.44 on the same corpus,
    * identical exact output). None on corpora where prefix filtering
    * is the right tool. Cost: two driver-blocking jobs — a distinct id
    * count over `docs` plus a shingle-explode feeding the
    * vocabulary-sized df aggregate — and a one-row collect. */
  def prefixFilterWarning(docs: DataFrame, n: Int = 3,
      maxP99Fraction: Double = 0.05): Option[String] = {
    val r = shingleDfProfile(docs, n).head()
    val nDocs = math.max(r.getLong(0), 1L)
    val p99 = r.getLong(3)
    if (p99.toDouble / nDocs > maxP99Fraction)
      Some(s"prefix-filter join on a near-uniform corpus: p99 shingle df $p99 " +
        s"of $nDocs docs (${"%.1f".format(100.0 * p99 / nDocs)}% > " +
        s"${"%.1f".format(100.0 * maxP99Fraction)}%), vocab ${r.getLong(1)} — " +
        "df-ascending prefixes will collide; prefer minhashLsh + verifiedJaccard " +
        "(measured flat on this corpus shape with identical exact output)")
    else None
  }
}
