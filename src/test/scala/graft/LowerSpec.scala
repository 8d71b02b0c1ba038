package graft

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Lower

/** `graft.functions.Lower.lower` returns Spark's `lower` value, byte for
  * byte, on every input: every code point alone and inside ASCII text,
  * random byte strings (mostly invalid UTF-8), null and empty; with ICU
  * case mappings on and off; for UTF8_BINARY and for collations whose
  * lowercase differs (UTF8_LCASE, UNICODE, Turkish); through generated
  * code and through a higher-order function's lambda, which Spark
  * evaluates interpreted.
  */
class LowerSpec extends SparkSpec {

  import spark.implicits._

  private val IcuConf = "spark.sql.icu.caseMappings.enabled"

  /** Runs `body` with ICU case mappings `on`, then restores the setting. */
  private def withIcu[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption(IcuConf)
    spark.conf.set(IcuConf, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(IcuConf, v)
      case None => spark.conf.unset(IcuConf)
    }
  }

  private def inputs =
    spark.range(LowerSpec.Rows)
      .map((i: java.lang.Long) => LowerSpec.input(i))(Encoders.BINARY)
      .select(col("value").cast("string").as("s"))

  // compare bytes: a collated `<=>` would call "A" and "a" equal
  private def mismatches(a: Column, b: Column, array: Boolean): Column = {
    val to = if (array) "array<binary>" else "binary"
    sum(when(a.cast(to) <=> b.cast(to), 0).otherwise(1))
  }

  private val collations = Seq("UTF8_BINARY", "UTF8_LCASE", "UNICODE", "tr")

  Seq(true, false).foreach { icu =>
    test(s"lower == Spark's lower on every code point, random bytes, null and empty (ICU case mappings $icu)") {
      withIcu(icu) {
        val checks = collations.flatMap { name =>
          val s = if (name == "UTF8_BINARY") col("s") else collate(col("s"), name)
          Seq(
            mismatches(Lower.lower(s), lower(s), array = false).as(s"$name codegen"),
            mismatches(
              transform(array(s), x => Lower.lower(x)),
              transform(array(s), x => lower(x)), array = true).as(s"$name lambda"))
        }
        val counts = inputs.agg(count(lit(1)), checks: _*).head()
        assert(counts.getLong(0) == LowerSpec.Rows)
        val bad = checks.indices.collect {
          case i if counts.getLong(i + 1) != 0 =>
            s"${counts.schema(i + 1).name}: ${counts.getLong(i + 1)}"
        }
        assert(bad.isEmpty, bad.mkString("; "))

        // the setting reaches both paths: U+A7C0 lowercases under ICU only
        val expected = if (icu) "ꟁ" else "Ꟁ"
        val one = Seq("Ꟁ").toDF("s")
          .select(Lower.lower(col("s")), transform(array(col("s")), x => Lower.lower(x))(0))
          .head()
        assert(one.getString(0) == expected && one.getString(1) == expected)
      }
    }
  }

  test("where JVM and ICU lowercase disagree, both are non-ASCII, so ASCII stopwords match alike") {
    val binary = CollationFactory.UTF8_BINARY_COLLATION_ID
    val disagree = (0 until 0x110000).filterNot(cp => cp >= 0xD800 && cp <= 0xDFFF).flatMap { cp =>
      val s = UTF8String.fromString(new String(Character.toChars(cp)))
      val icu = CollationSupport.Lower.exec(s, binary, true)
      val jvm = CollationSupport.Lower.exec(s, binary, false)
      if (icu == jvm) None else Some((cp, icu.toString, jvm.toString))
    }
    assert(disagree.map(_._1).contains(0xA7C0))
    disagree.foreach { case (cp, icu, jvm) =>
      assert(!icu.forall(_ < 0x80) && !jvm.forall(_ < 0x80),
        f"U+$cp%04X lowercases to ASCII on one side: '$icu' vs '$jvm'")
    }
  }
}

object LowerSpec {
  val CodePoints = 0x110000L
  val RandomStrings = 20000L
  // every code point alone, every code point inside ASCII, random bytes,
  // then one empty string and one null
  val Rows: Long = 2 * CodePoints + RandomStrings + 2

  /** UTF-8 bytes of `cp`; surrogates are encoded like any other code
    * point, which makes them invalid UTF-8.
    */
  def utf8(cp: Int): Array[Byte] =
    if (cp < 0x80) Array(cp.toByte)
    else if (cp < 0x800) Array((0xC0 | cp >> 6).toByte, (0x80 | cp & 0x3F).toByte)
    else if (cp < 0x10000)
      Array((0xE0 | cp >> 12).toByte, (0x80 | cp >> 6 & 0x3F).toByte, (0x80 | cp & 0x3F).toByte)
    else
      Array((0xF0 | cp >> 18).toByte, (0x80 | cp >> 12 & 0x3F).toByte,
        (0x80 | cp >> 6 & 0x3F).toByte, (0x80 | cp & 0x3F).toByte)

  def input(i: Long): Array[Byte] =
    if (i < CodePoints) utf8(i.toInt)
    else if (i < 2 * CodePoints)
      "IAz ".getBytes(US_ASCII) ++ utf8((i - CodePoints).toInt) ++ " QiK".getBytes(US_ASCII)
    else if (i < 2 * CodePoints + RandomStrings) {
      val r = new scala.util.Random(i)
      val b = new Array[Byte](r.nextInt(24))
      r.nextBytes(b)
      b
    } else if (i < Rows - 1) Array.emptyByteArray
    else null
}
