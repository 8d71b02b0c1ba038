package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.CurateCli
import graft.operators.AggStore

/** Crash convergence of the data-subject-rights sweeps (the round-8/9
  * verdict hazards): an erase sweep killed between ANY two legs must
  * converge when re-run with the same keys file — in particular the agg
  * leg must NOT re-capture the subject's facts from the already-purged
  * corpus (which finds zero rows, subtracts nothing, and serves the
  * erased subject's stats forever) — and an erasure interleaved with a
  * CRASHED rectification must neither keep the subject's
  * pre-rectification facts on disk nor let the later heal resurrect
  * them into the agg store.
  */
class EraseCrashSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"erasecrash_$tag").toString

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(p: String) =
    fsOf(p).exists(new org.apache.hadoop.fs.Path(p))

  private def copyDir(src: String, dst: String): Unit = {
    val fs = fsOf(src)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(src),
      fs, new org.apache.hadoop.fs.Path(dst),
      false, spark.sparkContext.hadoopConfiguration)
  }

  private final case class Crash(at: String) extends RuntimeException(at)
  private def killAt(fp: String): String => Unit =
    at => if (at == fp) throw Crash(at)

  private def aggRows(df: DataFrame): Seq[Seq[Any]] =
    df.select("source", "cnt", "sum", "min", "max")
      .collect().map(_.toSeq.toIndexedSeq).sortBy(_.toString).toSeq

  private def corpusOneShot(state: String): DataFrame =
    AggStore.aggregate(
      spark.read.parquet(s"$state/corpus"), Seq("source"),
      col("n_tokens").cast("long"))

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("source"), col("lang"), col("text"))

  /** One corpus+agg state directory, built once and copied per case. */
  private lazy val goldenState: String = {
    val work = tmp("golden")
    docs.write.parquet(s"$work/b0")
    val s = CurateCli.runIncremental(
      spark, s"$work/b0", s"$work/state", nShards = 2, aggStats = true)
    assert(s.auditOk)
    s"$work/state"
  }

  /** The same corpus with the band index, BM25 and shard legs the overlap
    * and agg-commit cases compare, built once.
    */
  private lazy val searchState: String = {
    val work = tmp("golden_search")
    docs.write.parquet(s"$work/b0")
    assert(CurateCli.runIncremental(spark, s"$work/b0", s"$work/state", nShards = 2,
      searchIndex = true, aggStats = true).auditOk)
    s"$work/state"
  }

  test("erase sweep killed at EVERY failpoint converges on replay; agg stays exact") {
    Seq("facts-captured", "rectify-facts-purged", "corpus-purged", "agg-erased")
      .foreach { fp =>
        val work = tmp(s"kill_$fp")
        val state = s"$work/state"
        copyDir(goldenState, state)
        spark.read.parquet(s"$state/corpus")
          .select(col("doc_id")).filter(col("doc_id") % 5 === 0)
          .write.parquet(s"$work/keys")
        // read back from the keys FILE: a lazy plan over the corpus would
        // re-scan the purged files after the sweep rewrites them
        val keys = spark.read.parquet(s"$work/keys")
        assert(intercept[Crash] {
          CurateCli.runErase(spark, s"$work/keys", state,
            failpoint = killAt(fp))
        }.at == fp)
        // the replay, same keys file, must converge to the one-sweep result
        CurateCli.runErase(spark, s"$work/keys", state)
        val retained = spark.read.parquet(s"$state/corpus")
        assert(retained.join(keys, Seq("doc_id"), "left_semi").isEmpty,
          s"crash at $fp: replay must purge the corpus")
        assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
          aggRows(corpusOneShot(state)),
          s"crash at $fp: replayed agg store must equal the one-shot " +
            "groupBy over the retained corpus")
        assert(!exists(s"$state/.erase-facts"),
          s"crash at $fp: the facts capture must be gone at sweep completion")
        val fsck = graft.operators.Fsck.state(spark, state)
        assert(fsck.filter(_.component == "agg").forall(_.ok),
          s"crash at $fp: fsck must audit the agg leg clean: " +
            fsck.filterNot(_.ok).mkString("; "))
      }
  }

  /** Every leg's row count and content digest (its rows as sorted
    * strings) in a state directory.
    */
  private def storeRows(state: String): Map[String, (Int, Int)] =
    Seq("corpus", "index/bands", "index/shingles", "search/postings",
      "search/docs", "search/stats", "shards/batch=0")
      .filter(l => exists(s"$state/$l"))
      .map { l =>
        val rows = spark.read.parquet(s"$state/$l").collect().map(_.toString).toSeq.sorted
        l -> (rows.size, rows.hashCode)
      }
      .toMap

  test("a crash at agg-erased while the overlapped sibling legs still run converges to the uncrashed twin") {
    // agg + band index + BM25: the agg leg's failpoint fires right after
    // its commit, inside the overlapped store legs. The band and BM25
    // legs are HELD mid-leg (an optimizer rule parks their first query
    // over their store until the crash), so the crash deterministically
    // lands while they run, and their first job after it must be
    // cancelled before it writes anything
    val work = tmp("overlap")
    val golden = searchState
    spark.read.parquet(s"$golden/corpus").select(col("doc_id"))
      .filter(col("doc_id") % 3 === 0).write.parquet(s"$work/keys")
    val twin = s"$work/twin"
    copyDir(golden, twin)
    CurateCli.runErase(spark, s"$work/keys", twin)

    val state = s"$work/state"
    copyDir(golden, state)
    val sc = spark.sparkContext
    val hold = new HoldReads(Seq(s"$state/index", s"$state/search"))
    val jobs = new TaggedJobs
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra :+ hold
    sc.addSparkListener(jobs)
    var heldAtCrash = 0
    val crash =
      try intercept[Crash] {
        CurateCli.runErase(spark, s"$work/keys", state, failpoint = at =>
          if (at == "agg-erased") {
            jobs.tag = sc.getJobTags().find(_.startsWith("graft-par-")).get
            heldAtCrash = hold.awaitHeld(2)
            hold.crashed = true
            throw Crash(at)
          })
      } finally spark.experimental.extraOptimizations = extra
    val thrownAt = System.currentTimeMillis()
    val resumedAtThrow = hold.resumed.get()
    assert(crash.at == "agg-erased")
    assert(heldAtCrash >= 2, "the band and BM25 legs must be mid-leg at the crash")
    // the lease is released only after every leg stopped: it is gone when
    // the verb throws
    assert(!exists(s"$state/.lease"))
    assert(resumedAtThrow >= 2, "the held legs must resume before the verb returns")
    // the held legs were cancelled before they wrote: their stores are
    // still the pre-sweep ones, with no commit started
    val held = Seq("index/bands", "index/shingles", "search/postings",
      "search/docs", "search/stats")
    assert(storeRows(state).filter(l => held.contains(l._1)) ==
      storeRows(golden).filter(l => held.contains(l._1)),
      "a cancelled leg wrote to its store")
    assert(!exists(s"$state/search/_batches/_pending") &&
      !exists(s"$state/index/_batches/_pending"),
      "a cancelled leg must not have started its commit")
    // every job of the overlapped legs — the held legs' first jobs after
    // the crash included — started before the throw and has ended; the
    // listener stayed on through the store reads above, so a leg still
    // running after the throw would show here. (Not "ended before the
    // throw": Spark wakes a cancelled job's waiter before it stamps and
    // posts the job's end, so an end time can trail the throw by a few ms.)
    val deadline = System.currentTimeMillis() + 10000L
    do org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
    while (!jobs.tagged.forall(jobs.ended.containsKey) &&
      System.currentTimeMillis() < deadline)
    sc.removeSparkListener(jobs)
    assert(jobs.tagged.nonEmpty)
    jobs.tagged.foreach { id =>
      assert(jobs.started.get(id) <= thrownAt,
        s"job $id of a sweep leg started after the sweep threw")
      assert(jobs.ended.containsKey(id), s"job $id of a sweep leg never ended")
    }

    // the replay converges to the uncrashed twin, leaves no stage behind
    // and audits clean
    CurateCli.runErase(spark, s"$work/keys", state)
    assert(storeRows(state) == storeRows(twin),
      "replayed legs must equal the uncrashed twin's")
    assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
      aggRows(AggStore.serve(spark, s"$twin/agg")))
    Seq("index", "search").foreach(l =>
      assert(!exists(s"$state/$l/.swap-stage"), s"$l/.swap-stage left behind"))
    assert(!exists(s"$state/agg.merge-stage"))
    val fsck = graft.operators.Fsck.state(spark, state)
    assert(fsck.forall(_.ok), fsck.filterNot(_.ok).mkString("; "))
  }

  /** Parks the first query of each thread that reads under `roots` until
    * `crashed`, then lets it go on (after Par has had time to register
    * its cancellation).
    */
  private final class HoldReads(roots: Seq[String])
      extends org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @volatile var crashed = false
    private val held = new java.util.concurrent.atomic.AtomicInteger()
    val resumed = new java.util.concurrent.atomic.AtomicInteger()
    private val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      val reads = plan.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
        .flatten
      if (!crashed && reads.exists(p => roots.exists(p.contains)) &&
          threads.add(Thread.currentThread().getId)) {
        held.incrementAndGet()
        val deadline = System.currentTimeMillis() + 60000L
        while (!crashed && System.currentTimeMillis() < deadline) Thread.sleep(5)
        Thread.sleep(200)
        resumed.incrementAndGet()
      }
      plan
    }
    def awaitHeld(n: Int): Int = {
      val deadline = System.currentTimeMillis() + 60000L
      while (held.get() < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
      held.get()
    }
  }

  /** Start and end times of the jobs carrying `tag` (set at the crash). */
  private final class TaggedJobs extends org.apache.spark.scheduler.SparkListener {
    @volatile var tag: String = "-"
    private val tags = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      tags.put(j.jobId, Option(j.properties.getProperty("spark.job.tags")).getOrElse(""))
      started.put(j.jobId, j.time)
    }
    override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      ended.put(j.jobId, j.time)
    def tagged: Seq[Int] = {
      import scala.jdk.CollectionConverters._
      tags.asScala.collect { case (id, t) if t.split(',').contains(tag) => id }.toSeq
    }
  }

  test("a DIFFERENT erasure is refused while a crashed sweep's facts are pending") {
    val work = tmp("refuse")
    val state = s"$work/state"
    copyDir(goldenState, state)
    spark.read.parquet(s"$state/corpus").select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0).write.parquet(s"$work/keys")
    intercept[Crash] {
      CurateCli.runErase(spark, s"$work/keys", state,
        failpoint = killAt("corpus-purged"))
    }
    spark.read.parquet(s"$state/corpus").select(col("doc_id"))
      .limit(1).write.parquet(s"$work/other_keys")
    val e = intercept[IllegalArgumentException] {
      CurateCli.runErase(spark, s"$work/other_keys", state)
    }
    assert(e.getMessage.contains("re-run THAT sweep"))
    // healing the crashed sweep unblocks
    CurateCli.runErase(spark, s"$work/keys", state)
    CurateCli.runErase(spark, s"$work/other_keys", state)
    assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot(state)))
  }

  test("rectify-crash -> erase -> rectify-heal equals erase+rectify on a twin, at every rectify failpoint") {
    Seq("facts-captured", "corpus-updated", "agg-updated").foreach { fp =>
      val work = tmp(s"ixl_$fp")
      val a = s"$work/a"
      val b = s"$work/b"
      copyDir(goldenState, a)
      copyDir(goldenState, b)
      // two admitted subjects, same source where possible: x is erased
      // mid-rectification, y only rectified
      val ids = spark.read.parquet(s"$a/corpus").select(col("doc_id"))
        .orderBy(col("doc_id")).limit(2).as[Long].collect()
      val (x, y) = (ids(0), ids(1))
      Seq((x, "corrected text for the erased subject spark spark"),
        (y, "corrected text for the retained subject stream stream"))
        .toDF("doc_id", "text")
        .write.parquet(s"$work/corrected")
      Seq(x).toDF("doc_id").write.parquet(s"$work/keys")

      // A: the rectification crashes mid-sweep, leaving pending facts
      assert(intercept[Crash] {
        CurateCli.runRectify(spark, s"$work/corrected", a,
          failpoint = killAt(fp))
      }.at == fp)
      assert(exists(s"$a/.rectify-facts/_SUCCESS"))
      // the erasure completes DURING the pending rectification
      val es = CurateCli.runErase(spark, s"$work/keys", a)
      assert(es.nCorpus <= 1L)
      // the subject's pre-rectification facts are gone from the capture
      // (personal-data removal), the other subject's survive for the heal
      val pending = spark.read.parquet(s"$a/.rectify-facts")
      assert(pending.filter(col("doc_id") === x).isEmpty,
        s"$fp: erased subject must be purged from the pending capture")
      assert(pending.filter(col("doc_id") === y).count() == 1L)
      // heal the crashed rectification (same corrected file)
      CurateCli.runRectify(spark, s"$work/corrected", a)
      assert(!exists(s"$a/.rectify-facts"))

      // B (twin): erase first, then a clean rectification
      CurateCli.runErase(spark, s"$work/keys", b)
      CurateCli.runRectify(spark, s"$work/corrected", b)

      def corpusRows(s: String) = spark.read.parquet(s"$s/corpus")
        .collect().map(_.toString).toSet
      assert(corpusRows(a) == corpusRows(b),
        s"$fp: interleaved corpus must equal the erase-then-rectify twin")
      assert(aggRows(AggStore.serve(spark, s"$a/agg")) ==
        aggRows(AggStore.serve(spark, s"$b/agg")),
        s"$fp: interleaved agg store must equal the erase-then-rectify twin")
      assert(aggRows(AggStore.serve(spark, s"$a/agg")) ==
        aggRows(corpusOneShot(a)),
        s"$fp: final agg store must equal the one-shot over the final corpus")
      assert(spark.read.parquet(s"$a/corpus")
        .filter(col("doc_id") === x).isEmpty)
    }
  }

  test("rectify killed at EVERY agg commit step -> erase -> heal -> erase equals erase-then-rectify on a twin") {
    // the agg leg's rewrite and commit are one: killed at any step of its
    // PartitionSwap.commit the store is all-old or all-new for the matched
    // ids, and runErase's aggLags (keyed on the commit's applied marker)
    // reads which. A subtraction committed apart from its merge would make
    // the interleaved erase capture facts the store no longer holds and
    // abort its cross-check on every later run
    val work = tmp("aggsteps")
    val golden = searchState
    // two admitted subjects of one source (one touched bucket): x is erased
    // mid-rectification, y only rectified
    val corpus = spark.read.parquet(s"$golden/corpus")
    val src = corpus.orderBy(col("doc_id")).select(col("source")).as[String].head()
    val ids = corpus.filter(col("source") === src).orderBy(col("doc_id"))
      .select(col("doc_id")).as[Long].take(2)
    val (x, y) = (ids(0), ids(1))
    Seq((x, "corrected text for the erased subject spark spark"),
      (y, "corrected text for the retained subject stream stream"))
      .toDF("doc_id", "text")
      .write.parquet(s"$work/corrected")
    Seq(x).toDF("doc_id").write.parquet(s"$work/keys")

    // the twin: erase first, then a clean rectification, which lands ONE
    // applied marker in the agg store
    val twin = s"$work/twin"
    copyDir(golden, twin)
    CurateCli.runErase(spark, s"$work/keys", twin)
    def aggMarkers(s: String) = fsOf(s).listStatus(
      new org.apache.hadoop.fs.Path(s"$s/agg/_batches")).map(_.getPath.getName).toSet
    val before = aggMarkers(twin)
    CurateCli.runRectify(spark, s"$work/corrected", twin)
    assert((aggMarkers(twin) -- before).size == 1,
      "a rectify must land exactly one applied agg marker")
    val twinAgg = aggRows(AggStore.serve(spark, s"$twin/agg"))
    val twinRows = storeRows(twin)

    var step = 0
    var crashed = true
    while (crashed) {
      val a = s"$work/a$step"
      copyDir(golden, a)
      val thrown = scala.util.Try(CurateCli.runRectify(spark, s"$work/corrected", a,
        failpoint = killAt(s"agg-commit-$step"))).failed.toOption
      thrown.foreach(e => assert(e.getMessage == s"agg-commit-$step", e))
      crashed = thrown.isDefined
      if (crashed) {
        CurateCli.runErase(spark, s"$work/keys", a)
        CurateCli.runRectify(spark, s"$work/corrected", a)
        CurateCli.runErase(spark, s"$work/keys", a)
        assert(aggRows(AggStore.serve(spark, s"$a/agg")) == twinAgg,
          s"killed at agg commit step $step: agg store must equal the twin's")
        assert(storeRows(a) == twinRows,
          s"killed at agg commit step $step: corpus, band, BM25 and shard " +
            "rows must equal the twin's")
        assert(!exists(s"$a/agg.merge-stage") && !exists(s"$a/.rectify-facts") &&
          !exists(s"$a/.erase-facts"))
        step += 1
      }
    }
    // retire, promote, applied marker and cleanup were all interrupted
    assert(step >= 10, s"the agg commit ran only $step steps")
  }

  test("re-erasing the SAME key set after re-admission subtracts again (nonce-stamped capture)") {
    // the round-9 ADVICE high: with the agg-leg commit id derived purely
    // from the key set's CONTENT, a second erasure of the same keys —
    // after the subject's documents were re-admitted, a flow the
    // rectifySink scaladoc explicitly supports — silently no-ops
    // AggStore.erase on the first sweep's never-removed applied marker:
    // corpus and indexes purge, but the agg store serves the re-admitted
    // subject's stats forever while the sweep reports success. The
    // capture's fresh _nonce (reused by crash replays, new per sweep)
    // closes it.
    val work = tmp("readmit")
    val state = s"$work/state"
    copyDir(goldenState, state)
    spark.read.parquet(s"$state/corpus").select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0).write.parquet(s"$work/keys")
    CurateCli.runErase(spark, s"$work/keys", state)
    assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot(state)))

    // re-admit the erased subjects through the standard incremental path
    // (their band-index rows were erased too, so they are fresh again)
    docs.join(spark.read.parquet(s"$work/keys"), Seq("doc_id"), "left_semi")
      .write.parquet(s"$work/b_readmit")
    val s2 = CurateCli.runIncremental(
      spark, s"$work/b_readmit", state, nShards = 2, aggStats = true)
    assert(s2.nFresh > 0, "the erased documents must re-admit")
    assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot(state)))

    // the SAME keys file again: the second sweep's agg subtraction must
    // APPLY, not no-op on the first sweep's marker
    CurateCli.runErase(spark, s"$work/keys", state)
    assert(spark.read.parquet(s"$state/corpus")
      .join(spark.read.parquet(s"$work/keys"), Seq("doc_id"), "left_semi")
      .isEmpty)
    assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot(state)),
      "the re-admitted subject's stats must not survive the second sweep")
  }

  test("retention resumes a crashed sweep instead of abandoning its keys") {
    // simulate the crash window AFTER the expired batch directories were
    // dropped but BEFORE the erase sweep ran: the keys capture is the
    // only surviving record of what must be forgotten
    val work = tmp("retres")
    val state = s"$work/state"
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$work/b0")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$work/b1")
    Seq("b0", "b1").foreach { bn =>
      CurateCli.runIncremental(spark, s"$work/$bn", state, nShards = 2,
        aggStats = true)
    }
    val fs = fsOf(state)
    val batch0 = spark.read.parquet(s"$state/shards/batch=0")
      .select(col("doc_id"))
    batch0.write.parquet(s"$state/.retention-keys")
    val n0 = batch0.count()
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/shards/batch=0"), true)
    // the replayed retention finds nothing newly expired (keep=2 of the 1
    // remaining batch) but MUST resume the pending sweep first
    CurateCli.runRetention(spark, state, keepBatches = 2)
    assert(!exists(s"$state/.retention-keys"))
    val corpus = spark.read.parquet(s"$state/corpus")
    assert(corpus.filter(col("doc_id") % 2 === 0).isEmpty,
      "resumed retention must erase the dropped batch's documents")
    assert(corpus.count() > 0)
    assert(aggRows(AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot(state)))
  }
}
