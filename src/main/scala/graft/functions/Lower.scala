package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, String2StringExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Spark's `lower`, with the ASCII fast path taken before Spark's case
  * tables are touched.
  *
  * Spark's `lower` on a UTF8_BINARY string runs
  * `CollationSupport.Lower.exec`. With `spark.sql.icu.caseMappings.enabled`
  * (the default) that call loads `CollationAwareUTF8String`, whose static
  * initializer builds a title-case table over all 1,114,112 code points
  * through ICU — 1.4-1.5 s on 4 cores, during which every other task that
  * lowercases waits on the class-init lock. Both of Spark's UTF8_BINARY
  * paths (ICU and JVM) begin with `isFullAscii ? toLowerCaseAscii`, so
  * taking that branch here first returns the same value for every input;
  * ASCII values just never load the class. Non-ASCII values and every
  * other collation go to `CollationSupport.Lower.exec` with the collation
  * and the ICU setting Spark's `Lower` would use.
  */
object Lower {

  /** `lower(c)`: the same value as `org.apache.spark.sql.functions.lower`. */
  def lower(c: Column): Column =
    GraftColumnBridge.column(LowerExpr(GraftColumnBridge.expression(c)))
}

/** `lower(text)` — see [[Lower]]. Same input types, implicit casts, result
  * type, null handling and pretty name as Spark's `Lower`.
  */
case class LowerExpr(child: Expression)
    extends UnaryExpression with String2StringExpression {

  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val binary: Boolean = CollationFactory.fetchCollation(collationId).isUtf8BinaryType
  // read as Spark's Lower reads it
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullIntolerant: Boolean = true

  override def convert(v: UTF8String): UTF8String =
    if (binary && v.isFullAscii) v.toLowerCaseAscii
    else CollationSupport.Lower.exec(v, collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, { c =>
      val sparkLower = CollationSupport.Lower.genCode(c, collationId, useICU)
      if (binary) s"($c.isFullAscii() ? $c.toLowerCaseAscii() : $sparkLower)" else sparkLower
    })

  override protected def withNewChildInternal(newChild: Expression): LowerExpr =
    copy(child = newChild)

  override def prettyName: String = "lower"
}
