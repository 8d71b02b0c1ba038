package graft.text

import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text statistics as a native codegen'd expression.
  *
  * The text-analysis signals (token count, mean token length, stopword hits
  * per language, punctuation ratio, CJK detection, shingle repetition,
  * BPE-ish subword count) are individually expressible with Spark
  * higher-order functions — but HOFs are `CodegenFallback`: each signal is a
  * separate interpreted pass that re-materializes the token array. A corpus
  * pipeline computing all of them paid ~6 interpreted passes per document.
  *
  * This expression computes the *base counts* in ONE traversal and returns
  * them as a struct; the score formulas (quality, language pick, ratios)
  * stay as plain Column arithmetic over the struct fields, so the final
  * values are bit-identical to the HOF formulation (same fold order, same
  * double divisions) and the DuckDB oracles keep matching unchanged.
  *
  * Exact-parity notes (each mirrors the Column-expression semantics):
  *   - tokens = `split(trim(text), "\\s+", -1)` — trim strips 0x20 only
  *     (UTF8String.trim), split keeps leading/trailing empty tokens arising
  *     from non-space whitespace, empty trimmed text → zero tokens;
  *   - token length = code-point count (Spark `length`);
  *   - punct = code points outside [A-Za-z0-9] and Java regex `\s`
  *     (ASCII whitespace), counted over the UNtrimmed text like
  *     `regexp_count(c, "[^A-Za-z0-9\\s]")`;
  *   - stopword hits: `sw_en_cs` is case-sensitive (quality score);
  *     en/fr/de/es are lowercased matches (language ID);
  *   - shingles: k=3 word shingles with the [[graft.dedup.WordShinglesExpr]]
  *     short-document convention (min(n-k+1, 1) shingles).
  */
case class TextStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextStatsExpr.schema

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"text_stats requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextStatsExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextStatsExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)

  override def prettyName: String = "text_stats"
}

object TextStatsExpr {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("sw_en_cs", IntegerType, nullable = false),
    StructField("en", IntegerType, nullable = false),
    StructField("fr", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("cjk", BooleanType, nullable = false),
    StructField("n_sh", IntegerType, nullable = false),
    StructField("n_sh_distinct", IntegerType, nullable = false),
    StructField("bpe", IntegerType, nullable = false)
  ))

  private val Ws = Pattern.compile("\\s+")

  private val EnCs = TextAnalysis.stopwordsEn.toSet
  private val En = TextAnalysis.stopwordsEn.toSet
  private val Fr = TextAnalysis.stopwordsFr.toSet
  private val De = TextAnalysis.stopwordsDe.toSet
  private val Es = TextAnalysis.stopwordsEs.toSet

  private def isWordChar(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')

  private def isDigit(cp: Int): Boolean = cp >= '0' && cp <= '9'

  /** Java regex `\s` (default flags): ASCII whitespace only. */
  private def isRegexWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  /** The last input a thread computed (a copy) and its stats. */
  private final class Last {
    var in: UTF8String = null
    var out: InternalRow = null
  }

  private val last = ThreadLocal.withInitial[Last](() => new Last)

  /** Shared by interpreted eval and generated code. A one-entry cache per
    * thread, keyed by value (the shape Spark's regex expressions use for
    * their last pattern): a Filter over `_st` fields gets `text_stats`
    * inlined once per reference when the optimizer pushes it through the
    * aliasing projection, and `FilterExec` has no subexpression
    * elimination, so `CorpusPipeline.prepare`'s gate would otherwise
    * traverse each document once per referenced field. The input is
    * compared with `equals` against a `copy()`: row buffers reuse their
    * bytes, so the same `UTF8String` object can hold the next row's text
    * (and `clone()` shares a backing array that spans the whole string).
    */
  def compute(text: UTF8String): InternalRow = {
    val l = last.get
    if (!text.equals(l.in)) {
      l.out = computeUncached(text)
      l.in = text.copy()
    }
    l.out
  }

  private def computeUncached(text: UTF8String): InternalRow = {
    val s = text.toString

    // ---- character-level pass over the untrimmed text --------------------
    var nChars = 0
    var punct = 0
    var cjk = false
    var bpe = 0
    var prevClass = 0 // 0 = other/ws, 1 = letter run, 2 = digit run
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk = true
      if (isWordChar(cp)) {
        if (prevClass != 1) { bpe += 1; prevClass = 1 }
      } else if (isDigit(cp)) {
        if (prevClass != 2) { bpe += 1; prevClass = 2 }
      } else {
        prevClass = 0
        if (!isRegexWs(cp)) { punct += 1; bpe += 1 }
      }
      i += Character.charCount(cp)
    }

    // ---- token-level pass over the space-trimmed text ---------------------
    val trimmed = text.trim().toString // UTF8String.trim: 0x20 only
    val toks: Array[String] =
      if (trimmed.isEmpty) Array.empty else Ws.split(trimmed, -1)
    var sumLen = 0L
    var swEnCs, en, fr, de, es = 0
    var j = 0
    while (j < toks.length) {
      val t = toks(j)
      sumLen += t.codePointCount(0, t.length)
      if (EnCs.contains(t)) swEnCs += 1
      // lowercase through UTF8String's JVM case mapping, which no
      // -Duser.language (e.g. tr) can change. The HOF twin's lower() maps
      // non-ASCII through ICU under Spark's default
      // spark.sql.icu.caseMappings.enabled, and the two disagree on 67 code
      // points (U+A7C0, U+2C2F, U+1C89, U+10570, ...); every lowercase of
      // those is non-ASCII and the stopwords are ASCII, so hits cannot differ
      val lw = UTF8String.fromString(t).toLowerCase.toString
      if (En.contains(lw)) en += 1
      if (Fr.contains(lw)) fr += 1
      if (De.contains(lw)) de += 1
      if (Es.contains(lw)) es += 1
      j += 1
    }

    // ---- k=3 word shingles (WordShinglesExpr convention) ------------------
    val n = toks.length
    val nSh = math.max(n - 2, 1)
    val seen = new mutable.HashSet[String]
    var d = 0
    var p = 0
    while (p < nSh) {
      val end = math.min(p + 3, n)
      val sb = new java.lang.StringBuilder
      var q = p
      while (q < end) {
        if (q > p) sb.append(' ')
        sb.append(toks(q))
        q += 1
      }
      if (seen.add(sb.toString)) d += 1
      p += 1
    }

    InternalRow(n, sumLen, swEnCs, en, fr, de, es, punct, nChars, cjk, nSh, d, bpe)
  }

  /** Column-API entry point. */
  def textStats(c: Column): Column =
    GraftColumnBridge.column(TextStatsExpr(GraftColumnBridge.expression(c)))
}
