package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the commit primitive: a rename in library code is a
  * promote, and every promote goes through `operators/PartitionSwap` —
  * except the three protocols its scaladoc names and explains. A new
  * hand-rolled retire/promote swap anywhere else fails here.
  */
class SwapGuardSpec extends AnyFunSuite {

  // (file, enclosing member) pairs allowed to rename; None = the whole file
  private val allowed = Set[(String, Option[String])](
    "PartitionSwap.scala" -> None,
    "DeletionVectors.scala" -> Some("compactUnder"),
    "Snapshot.scala" -> Some("commitStagedBuckets"),
    "CurateCli.scala" -> Some("purgePendingRectifyFacts"),
    "CurateCli.scala" -> Some("recoverRectifyFacts"))

  private val renameCall = """\.rename\(|\.renameTo\(|Files\.move\(""".r
  // an object member: a `def` at the two-space member indentation
  private val memberDef = """^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r

  test("src/main renames only inside PartitionSwap and the three named protocols") {
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
            renameCall.findFirstIn(line).isEmpty) None
          else Some((f.getFileName.toString, member, i + 1))
        }
      }
    assert(hits.exists(_._1 == "PartitionSwap.scala"), "the scan found no rename at all")
    val stray = hits.filterNot { case (file, member, _) =>
      allowed(file -> None) || allowed(file -> member)
    }
    assert(stray.isEmpty,
      "hand-rolled rename outside PartitionSwap (route it through " +
        "PartitionSwap.prepare/replace, or name the exception in its scaladoc): " +
        stray.map { case (f, m, n) => s"$f:$n (${m.getOrElse("?")})" }.mkString(", "))
  }
}
