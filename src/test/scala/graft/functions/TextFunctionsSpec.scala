package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{TextFunctions => T}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted higher-order-function shingle form, the reference
    * [[graft.functions.ShinglesExpr]] is tested against. On null text the
    * `when` predicate is null, so it falls to the otherwise branch and
    * returns an empty array, as ShinglesExpr does. */
  private def shinglesViaHof(text: org.apache.spark.sql.Column, n: Int) = {
    val t = T.tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n), i => concat_ws(" ", slice(t, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  test("shingles produces overlapping n-grams and handles short docs") {
    val df = Seq("w1 w2 w3 w4", "a b", "solo").toDF("text")
    val got = df.select(T.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("w1 w2 w3", "w2 w3 w4"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("ShinglesExpr is string-identical to the HOF form on adversarial strings") {
    // the bit-identity contract (Shingles.scala scaladoc): split(" ")
    // keeps trailing empties (limit -1), so numTokens = numSpaces + 1
    // even for empty text; shingles are byte-substrings between space
    // boundaries. Adversarial shapes: empty text, null, single token,
    // leading/trailing/double spaces (empty tokens), multi-byte UTF-8,
    // tabs/newlines (NOT split), exact-n and n-1 token counts.
    val texts: Seq[String] = Seq(
      "w1 w2 w3 w4", "a b", "solo", "", " ", "  ", "a  b", " a b ",
      "héllo wörld düo", "日本 語 テスト x", "tab\tstays one\ttoken",
      "line\nbreak also one", "a b c", "ab cd ef gh ij", null)
    val df = texts.toDF("text")
    for (n <- 1 to 4) {
      val got = df.select(
        shinglesViaHof(col("text"), n).as("hof"),
        graft.functions.ShinglesFn.shinglesVec(col("text"), n).as("expr"))
        .as[(Seq[String], Seq[String])].collect()
      texts.zip(got).foreach { case (t, (hof, expr)) =>
        assert(hof == expr, s"n=$n text=${Option(t).map("'" + _ + "'")}")
      }
    }
    // and the dispatching default agrees with the HOF form too
    val viaDefault = df.select(T.shingles(col("text"), 3)).as[Seq[String]].collect()
    val viaHof = df.select(shinglesViaHof(col("text"), 3)).as[Seq[String]].collect()
    assert(viaDefault.toSeq == viaHof.toSeq)
  }

  test("langId picks argmax profile with alphabetical tie-break, und below 2 hits") {
    val df = Seq(
      "the cat sat on the mat and it is warm", // en
      "der hund ist nicht das problem und so", // de
      "xyz qqq zzz",                           // und
    ).toDF("text")
    val got = df.select(T.langId(col("text"))).as[String].collect()
    assert(got.toSeq == Seq("en", "de", "und"))
  }

  test("quality features: token/punct counts and ratios") {
    val df = Seq("the cat, the dog!").toDF("text")
    val row = df.select(
      T.nTokens(col("text")).as("nt"),
      T.punctCount(col("text")).as("np"),
      T.stopwordRatio(col("text")).as("sr")).head()
    assert(row.getInt(0) == 4)
    assert(row.getInt(1) == 2)
    assert(row.getDouble(2) == 0.5) // "the" twice over 4 tokens
  }

  test("regexTokens splits words, digits and symbols") {
    val got = Seq("ab12,cd ef").toDF("text")
      .select(T.regexTokens(col("text"))).as[Seq[String]].head()
    assert(got == Seq("ab", "12", ",", "cd", "ef"))
  }

  test("rolling fingerprint is order-sensitive and stable") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val got = df.select(T.rollingFingerprint(col("text"))).as[Long].collect()
    assert(got(0) == got(2))
    assert(got(0) != got(1))
    assert(got.forall(v => v >= 0 && v < (1L << 31)))
  }

  test("content fingerprint is case-insensitive md5") {
    val got = Seq(("Hello World", "hello world")).toDF("a", "b")
      .select(T.contentFingerprint(col("a")) === T.contentFingerprint(col("b")))
      .as[Boolean].head()
    assert(got)
  }

  test("hash bucket is deterministic, in range, and spread") {
    val ids = (0L until 1000L).toDF("id")
    val buckets = ids.select(T.hashBucket(col("id"), 100).as("b"))
    val vals = buckets.as[Int].collect()
    assert(vals.forall(b => b >= 0 && b < 100))
    assert(vals.toSeq == ids.select(T.hashBucket(col("id"), 100)).as[Int].collect().toSeq)
    // rough uniformity: all 100 buckets hit, none hogging
    val byBucket = vals.groupBy(identity).view.mapValues(_.size)
    assert(byBucket.size == 100 && byBucket.values.max <= 30)
  }

  test("scrubPii redacts email, phone and ip; counts match occurrences") {
    val df = Seq(
      "reach me at jane.doe+spam@sub.example.org or 555-123-4567 from 10.0.0.1",
      "two mails a@b.io c@d.co one phone 800 555 1234",
      "clean text with no pii at all",
    ).toDF("text")
    val got = df.select(
      T.scrubPii(col("text")).as("s"),
      T.piiCount(col("text"), T.piiPatterns(0)._2).as("ne"),
      T.piiCount(col("text"), T.piiPatterns(1)._2).as("np"),
      T.piiCount(col("text"), T.piiPatterns(2)._2).as("ni"),
    ).as[(String, Int, Int, Int)].collect()
    assert(got(0) == (("reach me at <EMAIL> or <PHONE> from <IPV4>", 1, 1, 1)))
    assert(got(1) == (("two mails <EMAIL> <EMAIL> one phone <PHONE>", 2, 1, 0)))
    assert(got(2) == (("clean text with no pii at all", 0, 0, 0)))
  }

  test("dupTokenFrac is 0 for all-distinct docs and rises with repeats") {
    val df = Seq("a b c d", "a a a a", "a b a b").toDF("text")
    val got = df.select(T.dupTokenFrac(col("text"))).as[Double].collect().toSeq
    assert(got == Seq(0.0, 0.75, 0.5))
  }

  test("split labels follow the 80/10/10 buckets and are id-stable") {
    val df = (0L until 2000L).toDF("doc_id")
      .select(col("doc_id"), T.splitLabel(col("doc_id")).as("split"))
    val counts = df.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") * 5 && counts("train") > counts("test") * 5)
    // a doc's split never depends on the rest of the dataset
    val solo = Seq(42L).toDF("doc_id").select(T.splitLabel(col("doc_id"))).as[String].head()
    val inFull = df.filter(col("doc_id") === 42L).select("split").as[String].head()
    assert(solo == inFull)
  }

  test("charCounts: one-pass histogram equals naive counting, ignores out-of-alphabet") {
    val alphabet = ('a' to 'z').mkString + " "
    val texts = Seq(
      "abc cba  ",            // repeats + double space
      "",                      // empty
      "ZZZ 123 !?",            // upper/digits/punct not in alphabet; spaces are
      "héllo wörld",           // non-ascii chars ignored, ascii ones counted
      "the quick brown fox")
    val got = texts.toDF("text")
      .select(graft.functions.CharCountsFn.charCounts(col("text"), alphabet).as("c"))
      .as[Seq[Int]].collect()
    texts.zip(got).foreach { case (t, counts) =>
      assert(counts.length == alphabet.length)
      alphabet.zipWithIndex.foreach { case (ch, i) =>
        assert(counts(i) == t.count(_ == ch), s"'$t' char '$ch'")
      }
    }
    // index alignment: histogram order IS the alphabet order
    val hello = got(3)
    assert(hello(alphabet.indexOf('l')) == 3 && hello(alphabet.indexOf('h')) == 1)
  }
}
