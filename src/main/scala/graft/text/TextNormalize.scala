package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Lower

/** Unicode NFC normalization + canonical text cleanup — the step BEFORE
  * any hashing operator (exact dedup, MinHash, winnowing, shard keys): the
  * same visible text arrives from the web in composed ("é") and
  * decomposed ("e" + U+0301) forms, and without normalization identical
  * documents hash differently and silently evade every dedup pass.
  *
  * Spark has no NFC built-in, so [[NfcNormalizeExpr]] is a native
  * codegen'd expression over `java.text.Normalizer` (both it and DuckDB's
  * `nfc_normalize` implement Unicode canonical composition, so the oracle
  * can replay it exactly). The composed cleanup pipeline adds the usual
  * canonicalizations: zero-width character strip, whitespace collapse,
  * trim, optional lowercase — all built-ins, all codegen'd.
  *
  * Scale shape: pure per-row expressions, no shuffle, no UDF.
  */
object TextNormalize {

  /** Shared by interpreted eval and generated code. */
  def nfcCompute(s: UTF8String): UTF8String = {
    val str = s.toString
    // normalize() allocates even for already-normalized input; the fast
    // path skips it for the (overwhelmingly common) ASCII/NFC case
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Unicode NFC canonical composition of a string column. */
  def nfc(c: Column): Column =
    GraftColumnBridge.column(NfcNormalizeExpr(GraftColumnBridge.expression(c)))

  /** The canonical pre-hash cleanup: NFC, zero-width strip
    * (ZWSP/ZWNJ/ZWJ/BOM), whitespace collapse to single spaces, trim,
    * optional lowercase.
    */
  def clean(c: Column, lowercase: Boolean = false): Column = {
    val composed = nfc(c)
    val noZw = regexp_replace(composed, "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    val oneSpace = trim(regexp_replace(noZw, "\\s+", " "))
    if (lowercase) Lower.lower(oneSpace) else oneSpace
  }
}

/** `nfc_normalize(text)` — Unicode canonical composition (NFC). */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"nfc_normalize requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextNormalize.nfcCompute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextNormalize.nfcCompute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}
