package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, Literal,
  Md5, Substring, XxHash64}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck laws for the pure JVM cores of the custom Catalyst
  * expressions — thousands of random inputs (including non-ASCII and
  * surrogate-bearing strings) against independent reference
  * implementations. These run without a SparkSession: the codegen'd
  * expressions call exactly these static entry points, so a law here is
  * a law of the Expression. */
object FunctionLaws extends Properties("graft.functions") {

  private val alphabet = ('a' to 'z').mkString + " "

  /** Strings mixing ASCII, accented Latin, and astral-plane codepoints —
    * the inputs that break byte-vs-char confusions. */
  private val anyText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.const(' '), Gen.oneOf('é', 'ø', 'ł', 'ß', 'Š'),
    Gen.oneOf('中', 'я', '\ud83d'), Gen.asciiPrintableChar
  )).map(_.mkString)

  property("charCounts equals naive per-char counting") = forAll(anyText) { s =>
    val got = CharCountsUtil.counts(UTF8String.fromString(s), alphabet)
    val want = alphabet.map(c => s.count(_ == c))
    Prop.all(alphabet.indices.map(i =>
      Prop(got.getInt(i) == want(i)) :| s"char '${alphabet(i)}' in <$s>"): _*)
  }

  property("charCounts total is bounded by the string's char count") = forAll(anyText) { s =>
    val got = CharCountsUtil.counts(UTF8String.fromString(s), alphabet)
    val tot = alphabet.indices.map(got.getInt).sum
    tot >= 0 && tot <= s.length
  }

  private def isLatin(c: Char): Boolean = {
    val b = Character.UnicodeBlock.of(c)
    b == Character.UnicodeBlock.BASIC_LATIN ||
      b == Character.UnicodeBlock.LATIN_1_SUPPLEMENT ||
      b == Character.UnicodeBlock.LATIN_EXTENDED_A
  }

  property("transliterate sends every Latin projection to pure ASCII") = forAll(anyText) { s =>
    // project the sample onto its Latin characters so the law BINDS on
    // every sample (a mixed string would otherwise satisfy it vacuously
    // via its CJK chars passing through)
    val latin = s.filter(isLatin)
    Translit.ascii(UTF8String.fromString(latin)).toString.forall(_ < 128)
  }

  property("transliterate is idempotent") = forAll(anyText) { s =>
    val once = Translit.ascii(UTF8String.fromString(s))
    Translit.ascii(once) == once
  }

  private val latinName: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaChar, Gen.oneOf('é', 'è', 'ü', 'ö', 'á', 'ñ', 'ç', 'Š', 'ř', 'ž'))
  ).map(_.mkString)

  property("transliterate maps accented Latin names to ASCII") = forAll(latinName) { s =>
    Translit.ascii(UTF8String.fromString(s)).toString.forall(_ < 128)
  }

  /** Spark's Round(d, 0) on DoubleType: HALF_UP on the shortest-decimal
    * representation (scala BigDecimal(d)) — the reference QuantizeUtil's
    * fast path must match everywhere, including exact binary .5 ties and
    * the 0.49999999999999994-style near-tie doubles. */
  private def roundRef(d: Double): Long =
    BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private val quantRange: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(-130.0, 130.0),
    // exact .5 boundaries (representable in binary): the away-from-zero
    // tie rule must hold for both signs
    Gen.chooseNum(-130, 130).map(_ + 0.5),
    Gen.chooseNum(-130, 130).map(_ - 0.5),
    // 1-ulp-off-the-boundary adversaries
    Gen.chooseNum(-130, 130).map(i => Math.nextDown(i + 0.5)),
    Gen.chooseNum(-130, 130).map(i => Math.nextUp(i + 0.5)))

  /** Shingle arrays of `anyText` (n = 1..4), as the signature
    * expressions receive them. */
  private val shingled: Gen[(String, Int)] = for {
    s <- anyText
    n <- Gen.choose(1, 4)
  } yield (s, n)

  private def shinglesOf(s: String, n: Int): Seq[UTF8String] = {
    val a = ShinglesUtil.shingles(UTF8String.fromString(s), n)
    (0 until a.numElements()).map(a.getUTF8String)
  }

  private def evalLong(e: Expression): Long = e.eval().asInstanceOf[Long]

  // Catalyst's own hash expressions, eval'd on literals: xxhash64(s) and
  // xxhash64(i, h) (children fold left to right from seed 42)
  private def xxRef(s: UTF8String): Long =
    evalLong(new XxHash64(Seq(Literal(s, StringType))))

  private def hash60Ref(s: UTF8String): Long = evalLong(Cast(
    Conv(Substring(Md5(Literal(s.getBytes, BinaryType)), Literal(1), Literal(15)),
      Literal(16), Literal(10)), LongType))

  property("minhash equals per-component min of Catalyst xxhash64(i, xxhash64(s))") =
    forAll(shingled, Gen.choose(1, 16)) { case ((s, n), k) =>
      val sh = shinglesOf(s, n)
      val got = MinHashUtil.signature(ShinglesUtil.shingles(UTF8String.fromString(s), n), k)
      if (sh.isEmpty) Prop(got == null) :| s"empty <$s> n=$n"
      else {
        val want = (0 until k).map(i =>
          sh.map(x => evalLong(new XxHash64(Seq(Literal(i), Literal(xxRef(x), LongType))))).min)
        Prop(got.toLongArray().toSeq == want) :| s"<$s> n=$n k=$k"
      }
    }

  property("simhash equals the sign vector of Catalyst feature hashes over distinct shingles") =
    forAll(shingled, Gen.oneOf(false, true)) { case ((s, n), md5) =>
      val sh = shinglesOf(s, n)
      val got = SimHashUtil.simhash(ShinglesUtil.shingles(UTF8String.fromString(s), n), md5)
      if (sh.isEmpty) Prop(got == null) :| s"empty <$s> n=$n"
      else {
        val hs = sh.distinct.map(x => if (md5) hash60Ref(x) else xxRef(x))
        val want = (0 until SimHash.Bits).foldLeft(0L) { (acc, i) =>
          val set = hs.count(h => ((h >>> i) & 1L) == 1L)
          if (2 * set > hs.size) acc | (1L << i) else acc
        }
        Prop(got.longValue == want) :| s"<$s> n=$n md5=$md5"
      }
    }

  property("quantize rounding equals the BigDecimal HALF_UP builtin") =
    forAll(quantRange) { d =>
      QuantizeUtil.roundHalfUp(d) == roundRef(d)
    }
}
