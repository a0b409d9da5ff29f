package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the training-data pipeline operators
  * (language-ID, quality scoring, token counting, shingling, fingerprints).
  *
  * Everything here is `org.apache.spark.sql.functions` composition or a
  * codegen Catalyst expression — no UDFs — so these run at full Tungsten
  * speed at 100 TB. CAVEAT (measured round 12/13): Spark's higher-order
  * functions (transform/aggregate/slice lambdas) are CodegenFallback —
  * they evaluate INTERPRETED — so the hot-path primitives here are
  * codegen expressions ([[ShinglesExpr]] for shingling: 9-25x over the
  * HOF form, BENCH_SCALE_r13_shexpr) while HOFs remain only on cold
  * paths whose cost was probed or is bench-invisible (the rolling
  * fingerprint fold below, q37-only).
  */
object TextFunctions {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword split: lowercase letter runs, digit runs, and single
    * non-space symbols as separate tokens — a regex approximation of
    * byte-pair pretokenization. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Token n-gram shingles ("w1 w2 w3"). Empty array for short docs
    * and for null text. The codegen [[ShinglesExpr]] (round 13): the
    * HOF form below is CodegenFallback — `transform`/`slice` evaluate
    * interpreted, a closure dispatch + slice allocation per window, at
    * the head of the whole text-dedup family — and measured 9-25x
    * slower (BENCH_SCALE_r13_shexpr; see Shingles.scala's scaladoc). */
  def shingles(text: Column, n: Int): Column = ShinglesFn.shinglesVec(text, n)

  /** The interpreted higher-order-function shingle form, kept as the
    * reference [[shingles]] is tested against: string-identical to
    * [[ShinglesExpr]] (TextFunctionsSpec pins it). On null text the
    * `when` predicate is null, so it falls to the otherwise branch and
    * returns an empty array, as ShinglesExpr does. */
  private[graft] def shinglesViaHof(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n), i => concat_ws(" ", slice(t, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Stopword hit count for a language profile. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  /** Tiny per-language stopword profiles (public common-word lists). */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it", "on", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une", "les", "des"),
    "es" -> Seq("el", "la", "y", "es", "un", "una", "los", "que"))

  /** n-gram-heuristic language ID: argmax of stopword hits, 'und'
    * (undetermined) when no profile scores >= minHits. Deterministic
    * tie-break: profile name ascending. */
  def langId(text: Column, minHits: Int = 2): Column = {
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    // array_max on struct compares fields in order: hits then lang; to get
    // tie-break *ascending* on lang we invert: take max of (hits, reversed
    // rank of lang) — simpler: reduce manually with when().
    val best = scored.reduce { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    when(best.getField("hits") >= minHits, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality-score feature columns (length / punct / stopword ratios). */
  def nTokens(text: Column): Column = size(tokens(text))
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))
  def punctRatio(text: Column): Column =
    round(punctCount(text) / length(text).cast("double"), 4)
  def stopwordRatio(text: Column, lang: String = "en"): Column =
    round(stopwordHits(text, langProfiles(lang)) / nTokens(text).cast("double"), 4)

  /** Exact content fingerprint (md5 of lowercased text) — the hash-groupBy
    * key for exact dedup; portable across engines. */
  def contentFingerprint(text: Column): Column = md5(lower(text))

  /** Deterministic hash bucket in [0, buckets) from an id column — the
    * train/val/test splitter primitive. Built on md5 (portable: every
    * engine hashes the same string to the same hex digits) instead of
    * xxhash64 (engine-specific seed), so assignments are reproducible
    * across engines, reruns, and cluster sizes — the property a split
    * column must have: membership decided by the ROW, never by
    * partitioning or sampling order. Two hex chars → 0..255, then mod. */
  def hashBucket(id: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= 4096, "buckets must be in 1..4096")
    // 4 hex digits = 65536 values: the mod-`buckets` bias is <= 1/65536
    // per bucket (2 digits mod 100 would skew a "10% split" to 9.4-8.4%).
    hash16(id) % lit(buckets)
  }

  /** DuckDB twin of [[hashBucket]] over a SQL id expression — kept HERE so
    * the two can never drift apart. */
  def hashBucketSql(id: String, buckets: Int): String =
    s"(${hash16Sql(id)}) % $buckets"

  /** The raw 16-bit value behind [[hashBucket]] (0..65535), exposed for
    * modulus-by-COLUMN uses (e.g. salting into a per-group sub-group
    * count) where the bucket count isn't a literal. Same portability
    * contract: pure md5 arithmetic, identical in every engine. */
  def hash16(id: Column): Column = {
    val hex = md5(id.cast("string"))
    def hv(i: Int): Column =
      call_function("instr", lit("0123456789abcdef"), substring(hex, i, 1)) - lit(1)
    ((hv(1) * lit(16) + hv(2)) * lit(16) + hv(3)) * lit(16) + hv(4)
  }

  /** Shared DuckDB generator for the portable md5-digit integer family
    * ([[hash16Sql]]/[[hashUniformSql]]/[[hashInt32Sql]]/[[hash60Sql]]):
    * Σ digit_i · 16^(n-i) over the first `n` md5 hex digits of `v`.
    * `suffix` decorates each multiplier (".0" forces float terms for the
    * uniform variant — every term and partial sum is integer-valued and
    * < 2^48 < 2^53, so double accumulation is exact on both engines). */
  private def md5DigitsSql(v: String, n: Int, suffix: String = ""): String =
    (1 to n).map { i =>
      val mult = java.math.BigInteger.valueOf(16).pow(n - i)
      s"(instr('0123456789abcdef', substring(md5($v), $i, 1)) - 1) * $mult$suffix"
    }.mkString(" + ")

  /** DuckDB twin of [[hash16]]. */
  def hash16Sql(id: String): String =
    s"(${md5DigitsSql(s"CAST($id AS VARCHAR)", 4)})"

  /** Deterministic uniform in (0,1): the first 12 md5 hex digits as a
    * 48-bit integer m, mapped to (m+1)/(2^48+1). Exactly representable
    * arithmetic (m+1 <= 2^48 fits a double; one correctly-rounded
    * division), so every engine computes the identical double — the
    * portable-randomness primitive behind weighted sampling. */
  def hashUniform(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("double") + 1.0) /
      lit(281474976710657.0) // 2^48 + 1

  /** DuckDB twin of [[hashUniform]]. */
  def hashUniformSql(id: String): String =
    s"(((${md5DigitsSql(s"CAST($id AS VARCHAR)", 12, ".0")}) + 1) / 281474976710657.0)"

  /** Deterministic 32-bit integer hash of a string expression (the first
    * 8 md5 hex digits) — the integer sibling of [[hashUniform]]. Values
    * are < 2^32, so a BIGINT sum stays overflow-free up to 2^31 (~2.1
    * billion) rows per aggregation group — the building block for order-
    * and partition-independent checksums. (A 48-bit variant would
    * overflow a signed 64-bit sum at only ~65k rows per group — and under
    * ANSI mode Spark THROWS on sum overflow while DuckDB widens to
    * HUGEINT, so the two engines would diverge exactly when it matters.) */
  def hashInt32(v: Column): Column =
    conv(substring(md5(v), 1, 8), 16, 10).cast("long")

  /** DuckDB twin of [[hashInt32]] over a SQL string expression. */
  def hashInt32Sql(v: String): String =
    s"CAST(${md5DigitsSql(v, 8)} AS BIGINT)"

  /** Deterministic 60-bit integer hash of a string expression (the first
    * 15 md5 hex digits) — the portable simhash FEATURE hash: wide enough
    * that 60-bit signatures discriminate like the engine-native 64-bit
    * xxhash64 family, yet every value stays < 2^60, so ANSI Long shifts
    * and sums never overflow and DuckDB reproduces each bit from the
    * same hex digits. */
  def hash60(v: Column): Column =
    conv(substring(md5(v), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[hash60]]. Each term is < 15·16^14 < 2^60 and the
    * sum < 2^60, so BIGINT arithmetic is exact on both engines. */
  def hash60Sql(v: String): String =
    s"CAST(${md5DigitsSql(v, 15)} AS BIGINT)"

  /** 80/10/10 split label from [[hashBucket]] (buckets 0-79 train,
    * 80-89 val, 90-99 test). */
  def splitLabel(id: Column): Column = {
    val b = hashBucket(id, 100)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitLabel]] — kept HERE (like [[hashBucketSql]])
    * so the two can never drift. Emits a scalar CASE; callers should
    * alias [[hashBucketSql]] once per row rather than inlining this where
    * the md5 chain would evaluate repeatedly. */
  def splitLabelSql(bucketExpr: String): String =
    s"CASE WHEN $bucketExpr < 80 THEN 'train' WHEN $bucketExpr < 90 THEN 'val' ELSE 'test' END"

  /** PII patterns (naive but production-shaped: email, NANP-style phone,
    * dotted-quad IP). Kept to syntax both Java regex and RE2 (DuckDB)
    * interpret identically — no lookarounds, no \\p classes — so the SQL
    * twin built from THESE SAME strings can't drift from the Spark path. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** Per-pattern PII match count on the raw text (email matched before
    * phone/ip, mirroring the scrub order). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** Redact PII in pattern order (email, then phone, then ipv4), each
    * occurrence replaced by its `<KIND>` tag. Pure regexp_replace chain —
    * codegen'd, no UDF, linear in text size. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (kind, p)) =>
      regexp_replace(t, p, s"<${kind.toUpperCase}>")
    }

  /** Duplicate-token fraction (1 - distinct/total) — the cheapest of the
    * Gopher-style repetition signals; per-row array math, no explode. */
  def dupTokenFrac(text: Column): Column = {
    val t = tokens(text)
    round(lit(1.0) - size(array_distinct(t)) / size(t).cast("double"), 4)
  }

  /** Modulus for the rolling fingerprint: the Mersenne prime 2^31-1.
    * All intermediate products stay < 2^62, so ANSI overflow checks
    * never fire. */
  val FingerprintMod: Long = (1L << 31) - 1

  /** Polynomial rolling fold over an arbitrary token-array column:
    * fp = fold(toks, 0, (acc*31 + (xxhash64(tok) mod M)) mod M). */
  private def rollingFold(toks: Column): Column = {
    val m = lit(FingerprintMod)
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), m), m))
  }

  /** Rolling polynomial fingerprint over tokens (order-sensitive).
    * Engine-specific (xxhash64 seed), so the VALUE has no SQL oracle —
    * its algebra is oracle-checked instead via
    * [[rollingFingerprintCheck]] (q37) and unit-tested. */
  def rollingFingerprint(text: Column): Column = rollingFold(tokens(text))

  /** 31^n mod M as a fold (n >= 0). */
  private def pow31Mod(n: Column): Column = {
    val m = lit(FingerprintMod)
    when(n <= 0, lit(1L)).otherwise(
      aggregate(sequence(lit(1L), n.cast("long")), lit(1L),
        (acc, _) => pmod(acc * lit(31L), m)))
  }

  /** Prefix-composition self-check of the rolling fingerprint: a degree-n
    * polynomial hash must satisfy fp(a ++ b) == (fp(a)·31^|b| + fp(b))
    * mod M. Splitting each document's tokens in half and recombining
    * exercises every term of the fold; the check is TRUE for all rows iff
    * the fingerprint implements the claimed algebra — which gives the
    * engine-specific hash a hash-exact DuckDB oracle
    * (`SELECT doc_id, true`) without the oracle having to reproduce
    * xxhash64. */
  def rollingFingerprintCheck(text: Column): Column = {
    val m = lit(FingerprintMod)
    val t = tokens(text)
    val na = (size(t) / lit(2)).cast("int")
    val a = slice(t, lit(1), na)
    val b = slice(t, na + lit(1), size(t) - na)
    val recomposed = pmod(rollingFold(a) * pow31Mod(size(t) - na) + rollingFold(b), m)
    val full = rollingFold(t)
    recomposed === full && full >= 0 && full < m
  }
}
