package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.operators.PartitionSwap

/** Protocol-level crash matrix for the shared retire/promote commit:
  * every crash point between the pending marker and the applied marker
  * must roll back to the EXACT pre-commit tree — including the case the
  * entry-list marker exists for: a partition NEWLY created by the
  * crashed batch has no retired counterpart, and without the marker's
  * touched-entry list rollback could not distinguish it from an
  * untouched partition (the replayed batch would then re-merge its own
  * promoted data). Store-level replays of these states live in
  * AggStoreSpec / EventStatsStoreSpec / ErasureSpec / CurationOpsSpec.
  */
class PartitionSwapSpec extends SparkSpec {

  private def fs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"pswap_$tag").toString + "/store"

  private def put(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def read(path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](1024)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** The live tree as entry→content over the entries we care about. */
  private def snapshot(dir: String, entries: Seq[String]): Map[String, Option[String]] =
    entries.map(e => e -> read(s"$dir/$e/data")).toMap

  private def writeMarker(dir: String, batchId: Long, entries: Seq[String]): Unit =
    put(s"$dir/_batches/_pending", (batchId.toString +: entries).mkString("\n"))

  test("healthy commit promotes every entry, cleans up, and marks applied") {
    val dir = tmp("healthy")
    val stage = s"$dir.merge-stage"
    put(s"$dir/p=1/data", "old1")
    put(s"$stage/p=1/data", "new1")
    put(s"$stage/p=2/data", "new2") // newly-created partition
    PartitionSwap.commit(spark, dir, stage, Seq("p=1", "p=2"), 7L)
    assert(snapshot(dir, Seq("p=1", "p=2")) ==
      Map("p=1" -> Some("new1"), "p=2" -> Some("new2")))
    assert(PartitionSwap.alreadyApplied(spark, dir, 7L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.retired")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_batches/_pending")))
  }

  test("crash right after the pending marker: everything still staged, rollback is a no-op") {
    val dir = tmp("marker")
    val stage = s"$dir.merge-stage"
    put(s"$dir/p=1/data", "old1")
    put(s"$stage/p=1/data", "new1")
    put(s"$stage/p=2/data", "new2")
    writeMarker(dir, 9L, Seq("p=1", "p=2"))
    PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
    assert(snapshot(dir, Seq("p=1", "p=2")) ==
      Map("p=1" -> Some("old1"), "p=2" -> None),
      "originals intact, nothing promoted, stage discarded")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage)))
  }

  test("crash mid-retire: retired part restored, un-retired originals left alone") {
    val dir = tmp("retire")
    val stage = s"$dir.merge-stage"
    put(s"$dir/p=2/data", "old2")
    put(s"$stage/p=1/data", "new1")
    put(s"$stage/p=2/data", "new2")
    writeMarker(dir, 11L, Seq("p=1", "p=2"))
    // p=1 never existed live (nothing to retire); p=2's retire ran
    put(s"$dir.retired/p=2/data", "old2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/p=2"), true)
    PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
    assert(snapshot(dir, Seq("p=1", "p=2")) ==
      Map("p=1" -> None, "p=2" -> Some("old2")))
  }

  test("crash mid-promote: a promoted NEWLY-created partition is deleted, not kept") {
    val dir = tmp("newpart")
    val stage = s"$dir.merge-stage"
    put(s"$dir/p=1/data", "old1")
    // fabricate: p=2 (new, no retired counterpart) was PROMOTED — its
    // staged copy is consumed; p=1's retire ran and its promote did not
    put(s"$dir.retired/p=1/data", "old1")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/p=1"), true)
    put(s"$stage/p=1/data", "new1")
    put(s"$dir/p=2/data", "new2") // promoted; absent from stage
    writeMarker(dir, 13L, Seq("p=1", "p=2"))
    PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
    assert(snapshot(dir, Seq("p=1", "p=2")) ==
      Map("p=1" -> Some("old1"), "p=2" -> None),
      "the newly-created promoted partition must roll back to ABSENT — " +
        "a replay would otherwise re-merge into its own promoted data")
  }

  test("crash after applied marker: cleanup rolls forward, promoted tree kept") {
    val dir = tmp("forward")
    val stage = s"$dir.merge-stage"
    put(s"$dir/p=1/data", "new1") // promoted
    put(s"$dir/p=2/data", "new2") // promoted (new partition)
    put(s"$dir.retired/p=1/data", "old1")
    writeMarker(dir, 17L, Seq("p=1", "p=2"))
    PartitionSwap.markApplied(spark, dir, 17L)
    PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
    assert(snapshot(dir, Seq("p=1", "p=2")) ==
      Map("p=1" -> Some("new1"), "p=2" -> Some("new2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.retired")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_batches/_pending")))
  }

  test("nested file entries (append deltas) roll back precisely") {
    val dir = tmp("nested")
    val stage = s"$dir/.swap-stage"
    put(s"$dir/postings/part-live.parquet/data", "livepost")
    put(s"$dir/stats/data", "oldstats")
    // fabricate: delta file promoted into postings/, stats retired but
    // its promote never ran
    put(s"$dir/postings/part-delta.parquet/data", "deltapost")
    put(s"$dir.retired/stats/data", "oldstats")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    put(s"$stage/stats/data", "newstats")
    writeMarker(dir, 19L, Seq("postings/part-delta.parquet", "stats"))
    PartitionSwap.recover(spark, dir, "/.swap-stage", "")
    assert(read(s"$dir/postings/part-live.parquet/data") == Some("livepost"),
      "unlisted live files are untouched")
    assert(read(s"$dir/postings/part-delta.parquet/data") == None,
      "the promoted delta file must be deleted")
    assert(read(s"$dir/stats/data") == Some("oldstats"),
      "retired stats must be restored")
  }

  test("property: the REAL commit killed at EVERY step rolls back or forward exactly") {
    // one code path, exhaustively interrupted: the fault hook kills the
    // actual commit before each filesystem mutation; recovery must then
    // restore EXACTLY the pre-commit tree (no applied marker) or EXACTLY
    // the post-commit tree (applied marker landed), and a replay must
    // converge to post. The fixture covers all three entry classes:
    // updated (p=1), newly created (p=2), and deleted (p=3, listed but
    // unstaged).
    final case class Crash(step: Int) extends RuntimeException
    val entries = Seq("p=1", "p=2", "p=3")
    val pre = Map("p=1" -> Some("old1"), "p=2" -> None, "p=3" -> Some("old3"))
    val post = Map("p=1" -> Some("new1"), "p=2" -> Some("new2"), "p=3" -> None)

    def build(tag: String): (String, String) = {
      val dir = tmp(tag)
      val stage = s"$dir.merge-stage"
      put(s"$dir/p=1/data", "old1")
      put(s"$dir/p=3/data", "old3")
      put(s"$stage/p=1/data", "new1")
      put(s"$stage/p=2/data", "new2")
      (dir, stage)
    }
    def restage(stage: String): Unit = {
      put(s"$stage/p=1/data", "new1")
      put(s"$stage/p=2/data", "new2")
    }

    // count the steps of a clean run
    var nSteps = 0
    val (cd, cs) = build("prop_count")
    PartitionSwap.commit(spark, cd, cs, entries, 1L, i => nSteps = i + 1)
    assert(snapshot(cd, entries) == post)
    assert(nSteps >= 8, s"fixture must exercise every phase, got $nSteps steps")

    (0 until nSteps).foreach { k =>
      val (dir, stage) = build(s"prop_$k")
      intercept[Crash] {
        PartitionSwap.commit(spark, dir, stage, entries, 1L,
          i => if (i == k) throw Crash(i))
      }
      PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
      val expected =
        if (PartitionSwap.alreadyApplied(spark, dir, 1L)) post else pre
      assert(snapshot(dir, entries) == expected,
        s"crash at step $k/$nSteps: recovered tree must be exactly " +
          s"${if (expected == pre) "PRE" else "POST"}, got ${snapshot(dir, entries)}")
      // the replayer re-derives the batch and commits from consistent state
      if (!PartitionSwap.alreadyApplied(spark, dir, 1L)) {
        restage(stage)
        PartitionSwap.commit(spark, dir, stage, entries, 1L)
      }
      assert(snapshot(dir, entries) == post,
        s"crash at step $k: replay must converge to the post-commit tree")
    }
  }

  test("a crashed marker WRITE cannot brick the store: _pending is complete or absent") {
    // the pending marker lands by rename, so a kill mid-write leaves only
    // a .tmp — recover must clean it and treat the commit as never
    // started (the old in-place write could leave a truncated multi-line
    // marker that made every subsequent recover throw on lines.head.toLong)
    val dir = tmp("tmpmarker")
    put(s"$dir/p=1/data", "old1")
    put(s"$dir/_batches/_pending.tmp", "7\np=")
    PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
    assert(read(s"$dir/p=1/data") == Some("old1"))
    assert(read(s"$dir/_batches/_pending.tmp").isEmpty)
    // and a fresh commit over the recovered store works
    put(s"$dir.merge-stage/p=1/data", "new1")
    PartitionSwap.commit(spark, dir, s"$dir.merge-stage", Seq("p=1"), 7L)
    assert(read(s"$dir/p=1/data") == Some("new1"))
  }

  test("legacy id-only marker still rolls retired partitions back (defensive sweep)") {
    val dir = tmp("legacy")
    put(s"$dir/p=1/data", "corrupt")
    put(s"$dir.retired/p=1/data", "old1")
    put(s"$dir/_batches/_pending", "23")
    PartitionSwap.recover(spark, dir, ".merge-stage", "p=")
    assert(read(s"$dir/p=1/data") == Some("old1"))
  }

  test("property: the single-directory replace killed at EVERY step recovers to old or new, then converges") {
    // the same exhaustive kill as the commit property, for prepare/replace:
    // after recoverDir the live directory holds EXACTLY the old or EXACTLY
    // the new content, and a fresh prepare+replace lands the new content
    // with no sibling debris left
    final case class Crash(step: Int) extends RuntimeException
    def build(tag: String): (String, String) = {
      val dir = tmp(tag)
      put(s"$dir/data", "old")
      val stage = PartitionSwap.prepare(spark, dir)
      put(s"$stage/data", "new")
      (dir, stage)
    }
    def siblings(dir: String): Seq[String] =
      new java.io.File(dir).getParentFile.listFiles().map(_.getName).sorted.toSeq

    var nSteps = 0
    val (cd, cs) = build("replace_count")
    PartitionSwap.replace(spark, cd, cs, i => nSteps = i + 1)
    assert(read(s"$cd/data") == Some("new") && siblings(cd) == Seq("store"))
    assert(nSteps == 3, s"retire, promote and cleanup are the steps, got $nSteps")

    (0 until nSteps).foreach { k =>
      val (dir, stage) = build(s"replace_$k")
      intercept[Crash] {
        PartitionSwap.replace(spark, dir, stage, i => if (i == k) throw Crash(i))
      }
      PartitionSwap.recoverDir(spark, dir)
      // before the promote the old content survives; after it, the new
      val expected = if (k < 2) "old" else "new"
      assert(read(s"$dir/data") == Some(expected),
        s"crash at step $k: live must hold exactly the $expected content")
      val again = PartitionSwap.prepare(spark, dir)
      put(s"$again/data", "new")
      PartitionSwap.replace(spark, dir, again)
      assert(read(s"$dir/data") == Some("new"))
      assert(siblings(dir) == Seq("store"),
        s"crash at step $k: the re-run must leave no debris, got ${siblings(dir)}")
    }
  }

  test("a promote that did not land keeps the retired copy, and recoverDir restores it") {
    // the `failpromote` scheme is the local file system with a rename that
    // returns false for a promote (source named `<live>__staging`)
    spark.sparkContext.hadoopConfiguration
      .set("fs.failpromote.impl", classOf[FailPromoteFileSystem].getName)
    val local = tmp("failpromote")
    val live = s"failpromote://$local"
    put(s"$local/data", "old")
    val stage = PartitionSwap.prepare(spark, live)
    put(s"${local}__staging/data", "new")
    val err = intercept[IllegalArgumentException] {
      PartitionSwap.replace(spark, live, stage)
    }
    assert(err.getMessage.contains("promoting"))
    assert(read(s"$local/data").isEmpty)
    assert(read(s"${local}__retired/data") == Some("old"),
      "a failed promote must not delete the retired copy")
    PartitionSwap.recoverDir(spark, live)
    assert(read(s"$local/data") == Some("old"))
    assert(read(s"${local}__retired/data").isEmpty)
  }

  test("a refused rename in the rectify-facts roll-forward throws and keeps the purged capture") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.failpromote.impl", classOf[FailPromoteFileSystem].getName)
    val local = tmp("failpurge")
    val out = s"failpromote://$local"
    Seq((1L, "a", 3), (2L, "a", 5)).toDF("doc_id", "source", "n_tokens")
      .withColumn("_batch", org.apache.spark.sql.functions.lit(7L))
      .write.parquet(s"$local/.rectify-facts")
    val purged = s"$local/.rectify-facts.purged/_SUCCESS"
    val err = intercept[IllegalArgumentException] {
      graft.cli.CurateCli.purgePendingRectifyFacts(spark, out, Seq(1L).toDF("doc_id"))
    }
    assert(err.getMessage.contains("promoting"))
    assert(read(purged).isDefined, "a refused promote must keep the purged capture")
    // the heal's rename is refused too: it throws, and the capture stays
    intercept[IllegalArgumentException](graft.cli.CurateCli.recoverRectifyFacts(spark, out))
    assert(read(purged).isDefined)
    // a rename that lands puts the purged capture in place
    graft.cli.CurateCli.recoverRectifyFacts(spark, local)
    assert(spark.read.parquet(s"$local/.rectify-facts").select("doc_id").as[Long]
      .collect().toSeq == Seq(2L))
    assert(read(purged).isEmpty)
  }
}

/** The local file system under the `failpromote` scheme, whose `rename`
  * reports failure (returns false, moves nothing) for every promote of a
  * `<live>__staging` directory or of a `.rectify-facts.purged` capture.
  */
class FailPromoteFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failpromote:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.endsWith("__staging") && !src.getName.endsWith(".purged") &&
      super.rename(src, dst)
}
