package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source guards: a call that must have one home in library code, and the
  * (file, enclosing member) pairs allowed to make it.
  *
  * - A rename is a promote, and every promote goes through
  *   `operators/PartitionSwap` — except the three protocols its scaladoc
  *   names and explains. A new hand-rolled retire/promote swap anywhere
  *   else fails here.
  * - A `SparkSession` builder lives in `graft.Session` only, so every main
  *   runs the same session.
  * - A Column is lowercased through `graft.functions.Lower` only, so no
  *   ASCII value loads Spark's 1.1M-code-point case table.
  */
class SwapGuardSpec extends AnyFunSuite {

  private case class Guard(
      name: String,
      call: Regex,
      home: String,
      // (file, enclosing member) pairs allowed to make the call; None = the whole file
      allowed: Set[(String, Option[String])],
      fix: String)

  private val guards = Seq(
    Guard("src/main renames only inside PartitionSwap and the three named protocols",
      """\.rename\(|\.renameTo\(|Files\.move\(""".r,
      "PartitionSwap.scala",
      Set(
        "PartitionSwap.scala" -> None,
        "DeletionVectors.scala" -> Some("compactUnder"),
        "Snapshot.scala" -> Some("commitStagedBuckets"),
        "CurateCli.scala" -> Some("purgePendingRectifyFacts"),
        "CurateCli.scala" -> Some("recoverRectifyFacts")),
      "hand-rolled rename outside PartitionSwap (route it through " +
        "PartitionSwap.prepare/replace, or name the exception in its scaladoc)"),
    Guard("src/main builds a SparkSession only in graft.Session",
      """SparkSession\s*\.builder|\.builder\(\)""".r,
      "Session.scala",
      Set("Session.scala" -> Some("apply")),
      "SparkSession builder outside graft.Session (call graft.Session instead)"),
    // Spark's lower(), or functions.lower(), as a Column call; the three
    // query files hold lower() in SQL text only
    Guard("src/main lowercases a Column only through graft.functions.Lower",
      """(?<![\w.])lower\(|functions\.lower\(""".r,
      "Lower.scala",
      Set(
        "Lower.scala" -> None,
        "OracleSql.scala" -> None,
        "Registry.scala" -> None,
        "ExtensionQueries.scala" -> None),
      "Column-API lower() outside graft.functions.Lower (call Lower.lower, " +
        "which skips Spark's case-table initializer on ASCII values)"))

  // an object member: a `def` at the two-space member indentation
  private val memberDef = """^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r

  guards.foreach { g =>
    test(g.name) {
      val root = Paths.get("src/main/scala")
      assert(Files.isDirectory(root), s"run from the repository root: no $root")
      val hits = Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { f =>
          var member = Option.empty[String]
          Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
            memberDef.findFirstMatchIn(line).foreach(m => member = Some(m.group(1)))
            val code = line.trim
            if (code.startsWith("*") || code.startsWith("//") ||
              g.call.findFirstIn(line).isEmpty) None
            else Some((f.getFileName.toString, member, i + 1))
          }
        }
      assert(hits.exists(_._1 == g.home), s"the scan found no call in ${g.home}")
      val stray = hits.filterNot { case (file, member, _) =>
        g.allowed(file -> None) || g.allowed(file -> member)
      }
      assert(stray.isEmpty,
        s"${g.fix}: " +
          stray.map { case (f, m, n) => s"$f:$n (${m.getOrElse("?")})" }.mkString(", "))
    }
  }
}
