package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Property parity for the native codegen expressions against their
  * composed/HOF twins on randomized inputs: the custom expressions exist
  * purely for speed, so any value divergence is a bug by definition.
  */
class ExpressionParitySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))

  import spark.implicits._

  /** Messy text: unicode, stray whitespace kinds, punct, digits, CJK. */
  private val textGen: Gen[String] = {
    val piece = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      // "Ꟁ" (U+A7C0): JVM and ICU lowercase it differently
      Gen.oneOf("the", "la", "und", "los", "你好", "café", "12.5%", "a+b", "Ꟁ"),
      Gen.oneOf(" ", "\t", "\n", "  ", "\r\n", "")
    )
    Gen.listOf(piece).map(_.mkString(" ")).map(_.take(200))
  }

  test("property: TextStatsExpr == HOF signals on random unicode text") {
    val df = samples(textGen, 300).toDF("text")
    val toks = TextAnalysis.tokens($"text")
    val st = TextAnalysis.textStats($"text")
    val diff = df
      .select(
        $"text",
        TextAnalysis.tokenCountOf(toks).as("a1"),
        TextAnalysis.tokenCountOfStats(st).as("b1"),
        TextAnalysis.meanTokenLengthOf(toks).as("a2"),
        TextAnalysis.meanTokenLengthOfStats(st).as("b2"),
        TextAnalysis.punctRatio($"text").as("a3"),
        TextAnalysis.punctRatioOfStats(st).as("b3"),
        TextAnalysis.langIdOf($"text", toks).as("a4"),
        TextAnalysis.langIdOfStats(st).as("b4"),
        TextAnalysis.repetitionRatioOf(toks).as("a5"),
        TextAnalysis.repetitionRatioOfStats(st).as("b5"),
        TextAnalysis.bpeTokenCount($"text").as("a6"),
        TextAnalysis.bpeTokenCountOfStats(st).as("b6")
      )
      .filter(
        $"a1" =!= $"b1" || $"a2" =!= $"b2" || $"a3" =!= $"b3" ||
          $"a4" =!= $"b4" || $"a5" =!= $"b5" || $"a6" =!= $"b6"
      )
    assert(diff.count() == 0, diff.select("text").take(3).mkString("; "))
  }

  test("property: WordShinglesExpr == composed transform/slice form") {
    val df = samples(textGen, 200).toDF("text")
    val toks = TextAnalysis.tokens($"text")
    val composed = transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(3)))
    )
    val diff = df
      .select(
        Dedup.wordShingles($"text", 3).as("native"),
        composed.as("composed")
      )
      .filter($"native" =!= $"composed")
    assert(diff.count() == 0)
  }

  test("property: DotProductExpr == HOF fold on random vectors") {
    val vecGen: Gen[Seq[Float]] =
      Gen.listOfN(16, Gen.chooseNum(-100, 100).map(_ / 7.0f)).map(_.toSeq)
    val pairGen = for { a <- vecGen; b <- vecGen } yield (a, b)
    val df = samples(pairGen, 300).toDF("a", "b")
    val diff = df
      .select(
        Similarity.dot($"a", $"b").as("native"),
        Similarity.dotHof($"a", $"b").as("hof")
      )
      .filter($"native" =!= $"hof")
    assert(diff.count() == 0)
  }

  test("property: minhash affine family preserves pairwise min-agreement") {
    // structural sanity on the one-hash family: signatures of identical
    // shingle sets agree everywhere; disjoint sets rarely agree
    val a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq((1L, a), (2L, a), (3L, "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("id", "text")
    val sig = Dedup.minhashMins(df, "id", "text", shingleK = 3, numHashes = 16)
    val rows = sig.collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
  }
}
