package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Lower

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure `Column` expressions (codegen-friendly, no UDFs) — at 100 TB
  * these run as narrow map-only stages inside whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace tokenization. `split` on an empty string yields `[""]`, so
    * blank/empty text maps to an empty token array explicitly.
    */
  def tokens(c: Column): Column =
    when(trim(c) === "", array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  // ---- token-column variants ----------------------------------------------
  // For pipelines computing several text signals per row: tokenize once into
  // a column and reuse it (a multi-referenced split() stays a separate
  // projection, so the tokenization runs once per row instead of per signal).

  def tokenCountOf(t: Column): Column = size(t)

  def stopwordCountOf(t: Column, stopwords: Seq[String]): Column =
    size(filter(t, x => x.isin(stopwords: _*)))

  def meanTokenLengthOf(t: Column): Column = {
    val n = size(t)
    when(n > 0,
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / n.cast("double")
    ).otherwise(lit(0.0))
  }

  def qualityScoreOf(c: Column, t: Column): Column = {
    val n         = size(t).cast("double")
    val lenScore  = least(n / lit(64.0), lit(1.0))
    val stopRatio = stopwordCountOf(t, stopwordsEn).cast("double") / greatest(n, lit(1.0))
    val stopScore = least(stopRatio * lit(8.0), lit(1.0))
    val punctPen  = greatest(lit(1.0) - punctRatio(c) * lit(4.0), lit(0.0))
    val mtl       = meanTokenLengthOf(t)
    val mtlScore  = when(mtl.between(3.0, 9.0), lit(1.0)).otherwise(lit(0.5))
    (lenScore * lit(0.3) + stopScore * lit(0.3) + punctPen * lit(0.2) + mtlScore * lit(0.2))
  }

  def langIdOf(c: Column, t: Column): Column = {
    def hits(sw: Seq[String]) = size(filter(t, x => Lower.lower(x).isin(sw: _*)))
    val en = hits(stopwordsEn); val fr = hits(stopwordsFr)
    val de = hits(stopwordsDe); val es = hits(stopwordsEs)
    val best = greatest(en, fr, de, es)
    when(c.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(best === 0, "unknown")
      .when(en === best, "en")
      .when(fr === best, "fr")
      .when(de === best, "de")
      .otherwise("es")
  }

  def repetitionRatioOf(t: Column, k: Int = 3): Column = {
    val sh = graft.dedup.WordShinglesExpr.wordShingles(t, k)
    val n  = size(sh)
    when(n > 0,
      (n - size(array_distinct(sh))).cast("double") / n.cast("double")
    ).otherwise(lit(0.0))
  }

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — the classic pre-tokenizer regex shape.
    */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  // ---- single-pass stats struct (TextStatsExpr) ---------------------------
  // All base counts in ONE codegen'd traversal (HOFs are CodegenFallback and
  // each signal re-walks the tokens); the score formulas below are the SAME
  // Column arithmetic as the *Of variants, so values stay bit-identical and
  // the DuckDB oracles keep matching.

  /** Base-count struct — see [[TextStatsExpr]] for fields and semantics. */
  def textStats(c: Column): Column = TextStatsExpr.textStats(c)

  def tokenCountOfStats(st: Column): Column = st.getField("n_tokens")

  def bpeTokenCountOfStats(st: Column): Column = st.getField("bpe")

  def stopwordCountEnOfStats(st: Column): Column = st.getField("sw_en_cs")

  def meanTokenLengthOfStats(st: Column): Column = {
    val n = st.getField("n_tokens")
    when(n > 0,
      st.getField("sum_tok_len").cast("double") / n.cast("double")
    ).otherwise(lit(0.0))
  }

  def punctRatioOfStats(st: Column): Column =
    when(st.getField("n_chars") > 0,
      st.getField("punct").cast("double") / st.getField("n_chars").cast("double")
    ).otherwise(lit(0.0))

  def qualityScoreOfStats(st: Column): Column = {
    val n         = st.getField("n_tokens").cast("double")
    val lenScore  = least(n / lit(64.0), lit(1.0))
    val stopRatio = st.getField("sw_en_cs").cast("double") / greatest(n, lit(1.0))
    val stopScore = least(stopRatio * lit(8.0), lit(1.0))
    val punctPen  = greatest(lit(1.0) - punctRatioOfStats(st) * lit(4.0), lit(0.0))
    val mtl       = meanTokenLengthOfStats(st)
    val mtlScore  = when(mtl.between(3.0, 9.0), lit(1.0)).otherwise(lit(0.5))
    (lenScore * lit(0.3) + stopScore * lit(0.3) + punctPen * lit(0.2) + mtlScore * lit(0.2))
  }

  def langIdOfStats(st: Column): Column = {
    val en = st.getField("en"); val fr = st.getField("fr")
    val de = st.getField("de"); val es = st.getField("es")
    val best = greatest(en, fr, de, es)
    when(st.getField("cjk"), "zh")
      .when(best === 0, "unknown")
      .when(en === best, "en")
      .when(fr === best, "fr")
      .when(de === best, "de")
      .otherwise("es")
  }

  def repetitionRatioOfStats(st: Column): Column = {
    val n = st.getField("n_sh")
    when(n > 0,
      (n - st.getField("n_sh_distinct")).cast("double") / n.cast("double")
    ).otherwise(lit(0.0))
  }

  /** Stopword sets for the n-gram language heuristic. Deliberately tiny —
    * the operator contract is "deterministic heuristic", not a trained model.
    */
  val stopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "that")
  val stopwordsFr: Seq[String] = Seq("le", "la", "de", "et", "les", "des", "un", "une")
  val stopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "ein", "mit")
  val stopwordsEs: Seq[String] = Seq("el", "la", "de", "y", "los", "que", "un", "en")

  def stopwordCount(c: Column, stopwords: Seq[String]): Column =
    stopwordCountOf(tokens(c), stopwords)

  /** Ratio of non-alphanumeric, non-space chars to total length. */
  def punctRatio(c: Column): Column =
    when(length(c) > 0,
      regexp_count(c, lit("[^A-Za-z0-9\\s]")).cast("double") / length(c).cast("double")
    ).otherwise(lit(0.0))

  /** Heuristic document quality score in [0,1]: length sweet-spot, low punct
    * noise, some stopword mass (fluent prose), sane mean token length.
    * Deterministic arithmetic only.
    */
  def qualityScore(c: Column): Column = qualityScoreOf(c, tokens(c))

  /** n-gram/stopword language ID over {en,fr,de,es} + CJK detection.
    * Ties break in fixed order (en > fr > de > es), unknown when no signal.
    */
  def langId(c: Column): Column = langIdOf(c, tokens(c))

  /** Gopher-style repetition signal: fraction of k-shingles that are
    * duplicates within the document (0 = all distinct, →1 = highly
    * repetitive boilerplate). Pure expression over the native shingler.
    */
  def repetitionRatio(c: Column, k: Int = 3): Column =
    repetitionRatioOf(tokens(c), k)

  /** In-text PII redaction for corpora cleaning: replaces emails and
    * FR-shaped phone numbers with placeholder tags. RE2-compatible patterns
    * (no lookahead) so the operation is reproducible on any regex engine.
    */
  val RedactEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val RedactPhonePattern = "\\+33\\s*[1-9](\\s*\\d{2}){4}|0[1-9](\\s*\\d{2}){4}"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, RedactEmailPattern, "[EMAIL]"),
      RedactPhonePattern,
      "[PHONE]"
    )

  /** Shannon entropy (nats) of the code-point distribution — gibberish /
    * padding detector. Native single-pass expression ([[CharEntropyExpr]]);
    * the explode-per-character Column formulation would shuffle the corpus
    * by character.
    */
  def charEntropy(c: Column): Column = CharEntropyExpr.charEntropy(c)

  /** Whitespace-normalized md5 content fingerprint. */
  def fingerprintMd5(c: Column): Column =
    md5(Lower.lower(regexp_replace(trim(c), "\\s+", " ")))

  /** Rolling (order-sensitive) fingerprint: md5-chain left-fold over tokens,
    * seeded with the first token — exactly DuckDB's seedless `list_reduce`
    * semantics so the oracle can reproduce it: f(f(t1,t2),t3)... Documents
    * with the same bag of words but different order get different rolling
    * fingerprints (unlike a sorted-bag hash).
    */
  def rollingFingerprint(c: Column): Column = {
    val t = tokens(c)
    when(size(t) === 0, lit(null).cast("string"))
      .when(size(t) === 1, element_at(t, 1))
      .otherwise(
        aggregate(
          slice(t, lit(2), greatest(size(t) - 1, lit(0))),
          element_at(t, 1),
          (acc, x) => md5(concat(acc, x))
        )
      )
  }
}
