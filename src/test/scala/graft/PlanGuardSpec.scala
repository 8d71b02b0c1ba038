package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ExplainMode

import graft.queries.Registry

/** Plan-regression guard: every registry query's physical plan must stay
  * scale-safe. The properties proven once in docs/PLANS.md become a gate
  * here so they cannot silently regress:
  *
  *   1. no `CartesianProduct` and no `BroadcastNestedLoopJoin` anywhere —
  *      the two shapes that turn a 100 TB join into an all-pairs explosion.
  *      Exception: the two scalar-subquery-pattern queries that broadcast a
  *      SINGLE-ROW aggregate against the fact side; that cross product is
  *      n*1 by construction and is the idiomatic Spark spelling of
  *      `WHERE x > (SELECT max(...) ...)`.
  *   2. pinned positive pushdown evidence on queries that filter base
  *      tables: the filters must keep reaching the parquet scans as
  *      `PushedFilters` entries. (A universal "every scan has a
  *      PushedFilters section" check is NOT possible — Spark omits the
  *      section entirely for unfiltered scans.)
  *
  * Plans are built (analyzed + planned) against sf0.001 but not executed,
  * except where a query's construction itself runs a bounded driver action
  * (see `boundedBuildActions` — IVF centroid collects, k-anonymity probes,
  * iterative supersteps, the shard sink).
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** single-row broadcast builds: the deliberate scalar-subquery pattern —
    * a SINGLE-ROW aggregate broadcast-cross-joined against the fact side
    * (n*1 by construction). q_key_skew broadcasts its grand-total against
    * the top-N; the six corpus-stats queries broadcast their in-plan N /
    * avgdl aggregate (the round-4 replacement for driver pre-scans).
    */
  private val singleRowBroadcast =
    Set("q_scalar_subquery", "q_embed_topk", "q_key_skew",
      "q_lm_surprisal", "q_tfidf_topk", "q_bm25", "q_bm25_topk",
      "q_bm25_indexed", "q_hybrid_rrf", "q_hybrid_indexed", "q_lm_bigram",
      // served like q_bm25_indexed: the one-row stored stats frame is
      // broadcast-crossed onto the pruned postings
      "q_erasure_indexes",
      "q_erase_logical",
      "q_rectify",
      "q_compact_serve",
      // merged-vs-direct-vs-exact: three single-row estimate aggregates
      // broadcast-crossed into the one-row comparison output
      "q_hll_merged",
      // 1/N init + teleport term: the node count crossed in as a
      // single-row broadcast aggregate
      "q_pagerank",
      // bounded-ALPHABET broadcast, not single-row: the source-pair grid is
      // the |S| source list crossed with itself (|S|^2/2 rows by
      // construction, nothing corpus-sized reaches the nested loop)
      "q_kmv_overlap",
      // per pair: single-row CMS inner-product estimate crossed with the
      // single-row exact join count
      "q_join_size_est",
      // validators composed into one row: base aggregate crossed with the
      // single-row k-floor aggregate
      "q_release_cert")

  /** Builders allowed to run bounded driver actions while CONSTRUCTING the
    * plan (each collect is k×dim / |ladder| / |sources|-sized, never
    * corpus-sized). Everything else must build its DataFrame with ZERO
    * Spark jobs — the round-3 verdict's "driver pre-scan" anti-pattern is
    * gated here so it cannot return.
    */
  private val boundedBuildActions = Set(
    "q_ann_ivf",          // IVF centroid collect (k x dim) + query-vector head
    "q_ann_ivf_multi",    // IVF centroid collect (k x dim)
    "q_pq_codes",         // m=8 per-subspace k-means (ks x subDim collects) + query head
    "q_ann_ivfpq",        // IVF build + PQ train (both bounded) + query head
    "q_ann_ivfpq_multi",  // IVF build + PQ train (both bounded)
    "q_cluster_drift",    // IVF build + two k x dim centroid collects
    "q_heavy_hitters",    // MG candidate collect (<= capacity strings)
    "q_quality_model",    // rates pass (d+1 floats) + calibration pass (5 floats)
    "q_semdedup",         // IVF assignment inside SemDedup (k x dim)
    "q_semdedup_guarded", // same IVF collect, guards on
    "q_global_ids",       // boundary sample + per-partition count collect (bounded)
    "q_k_enforce",        // generalization-ladder probe (|ladder| rows)
    "q_k_enforce_multi",  // lattice probe (|lattice| rows)
    "q_l_enforce",        // diversity-ladder probe (|ladder| rows)
    "q_anon_utility",     // same generalization-ladder probe as q_k_enforce
    // iterative algorithms: each build job is one superstep of the
    // algorithm itself (label-propagation round / k-means pass), bounded by
    // maxIter — not a scalar pre-scan of the corpus
    "q_dedup_clusters",   // connectedComponents convergence counts
    "q_dedup_best",       // same CC labels (cached from the shared frame)
    "q_image_clusters",   // CC over perceptual-hash pairs (same shape)
    "q_coreset",          // Ivf.build k-means passes (k x dim collects)
    // sink under test: the builder MATERIALIZES the shard files and the
    // query audits the read-back — the write job is the operator itself
    "q_shards_readback",
    // writes the self-manifesting shard store (data + _stats) and reads
    // through it: manifest write, survivor count, and path collect are
    // all |files|-bounded
    "q_shards_pruned",
    "q_bm25_indexed",     // same: writes + loads the postings index under test
    "q_hybrid_rrf",       // dense-leg query-vector fetch (3 x dim, bounded)
    // writes + loads BOTH serving indexes under test (BM25 postings +
    // IVF); the k-means build's collects are k x dim bounded
    "q_hybrid_indexed",
    // stored-index twin: the builder WRITES + LOADS the band index (the
    // persistence layer is the operator under test); bands/shingles/meta
    // writes and the meta head() are all batch-split-bounded
    "q_dedup_indexed",
    // writes the z-ordered layout + stats manifest under test; the pruned
    // read's file-list collect is |files|-bounded (8 here)
    "q_pruned_scan",
    // writes + merges the bucketed snapshot store under test; the merge's
    // touched-bucket collect is |buckets|-bounded (8 here)
    "q_scd2_merge",
    // builds the materialized-aggregate store (two merges + a replay):
    // touched-bucket collects are |buckets|-bounded, writes the operator
    "q_agg_store",
    "q_agg_store_erase",    // AggStore build + erase (touched-bucket collects, cross-check counts, staged writes)
    "q_fsck",               // builds BM25 + exact indexes, then bounded invariant-count probes
    // bloom build: ONE driver collect of the mBits/8-byte bitset (256 KiB)
    "q_bloom_decontam",
    // edge-list localCheckpoint: ONE k*|V|-row materialization so the 5
    // supersteps iterate a stored graph instead of re-deriving SRP 5x
    "q_pagerank",
    // builds the hourly-count store under test (two merges + a replay):
    // touched-day collects are |days|-bounded, writes are the operator
    "q_anomaly_serving",
    // BPE training loop: 6 argmax collects, one row each (k-means shape)
    "q_bpe_learn",
    // builds the stored prefix index (dfreq/sets/postings writes) the
    // probe under test then reads — the q_bm25_indexed pattern
    "q_ssjoin_indexed",
    // builds the BM25 index then ERASES from it (postings purge counts +
    // one-row stats decrement are the operator under test)
    "q_erasure_indexes",
    // builds the BM25 index then masks it with a deletion vector (the
    // vector append's content-id fold + count are request-sized)
    "q_erase_logical",
    // builds the BM25 index then RECTIFIES it (replace-only membership
    // probe + kept-leg staging + stats recompute are the operator under
    // test — the Art. 16 dual of q_erasure_indexes)
    "q_rectify",
    // builds the prefix index then erases its sets/postings (purge
    // match-counts bounded; the erased probe is the operator under test)
    "q_erasure_exact",
    // store build + erasure (touched-bucket/survivor collects bounded by
    // the bucket count)
    "q_erasure",
    // hourly-store build + TTL directory expiry (|days|-bounded listing)
    "q_retention_ttl",
    // Mondrian recursion: the global ranges, then either distributed
    // bisection rounds (group stats + localCheckpoint each) or — once
    // groups fit a task, at sf0.001 from round 0 — one exchange, the
    // in-task finish's checkpoint and the deepest-round read
    "q_mondrian",
    "q_mondrian_ldiv",    // same recursion + per-round diversity guard
    "q_mondrian_tclose",  // same recursion + per-round TVD guard
    "q_mondrian_geo",     // same recursion over (lat, lon) envelopes
    "q_fsck_stores",      // builds dense/shards/snapshot stores, then audits
    "q_mixture_budget",   // one layout-pinning checkpoint for the running sum
    "q_curate_e2e",       // composed pipeline: the mixture stage's checkpoint
    // per-dataset authorize (ledger read) + durable charge write, 8
    // datasets x 2 releases + a no-op replay each
    "q_dp_budget",
    // consent registry bootstrap + two SCD-2 merges (touched-bucket
    // collects bounded by the bucket count) before the gate
    "q_consent_gate",
    // registry bootstrap (two purposes) + one withdrawal merge + two
    // deletion-vector appends (content-id fold + write + count each)
    // before the two masked serves
    "q_consent_purpose",
    // registry bootstrap + one withdrawal merge before the as-of audit
    "q_consent_asof",
    // registry bootstrap + two SCD-2 merges, then the bucket-pruned
    // version expiry (touched-bucket collect, stage write, dynamic
    // overwrite, manifest refresh) and its replayed no-op before the
    // version census counts
    "q_consent_expire",
    // one streaming consent epoch (quarantine split + registry
    // bootstrap + post-merge vector sync), then the dead-letter
    // resubmit (remap validation collect, corrected merge, sync, batch
    // drop) and the masked serve
    "q_dead_letter",
    // registry bootstrap + withdrawal merge + post-merge sync, a global
    // vector append, then the full access sweep (keys/report writes,
    // leg probes, the consent-history and purpose-mask disclosures)
    "q_access_consent",
    // five content-addressed vector appends (content-id fold + write +
    // count each), then the two-tree compaction (merged-union agg,
    // content-id fold, stage write + promote per tree) before the two
    // masked serves
    "q_dv_compact",
    // registry bootstrap + withdrawal merge, then the consent-gated
    // STREAMING epoch: gate semi-join + admission-log write + the BM25
    // three-leg index bootstrap, all driven to completion in-query
    "q_consent_stream",
    // mapping + request writes, the subject->doc resolve write, and one
    // deletion-vector append before the masked serve
    "q_erase_by_subject",
    // the same registry build + gate, then a ledger authorize/charge
    // pair (replayed once) before the noisy release
    "q_consent_dp_release",
    "q_compact_serve"     // build + append + compact the BM25 store in-query
  )

  /** Build-job budget of every q_mondrian* query: the measured 12 (the
    * t-closeness variant; the others run 8) plus AQE headroom.
    */
  private val MondrianBuildJobs = 16

  /** Warm Tables' per-session memo: the FIRST read of each parquet table
    * fires one footer/schema-inference job, which would otherwise be
    * miscounted below as a builder pre-action.
    */
  private val warmTables: Unit = {
    // Each warm is individually Try-wrapped: a reader broken by e.g. a
    // Spark upgrade must fail the affected per-query tests below, never
    // abort the suite at construction and blind the gate for the other
    // 100+ queries (round-5 postmortem: the events nanos regression
    // silenced every plan invariant this way).
    import scala.util.Try
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Try(graft.queries.Tables.read(spark, dir, t)))
    Try(graft.queries.Tables.events(spark, dir)) // nanos-timestamp special path
    Try(graft.queries.Tables.services(spark, dir))
  }

  Registry.all.foreach { case (name, q) =>
    test(s"plan guard: $name") {
      val sc = spark.sparkContext
      val group = s"planguard-$name"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val df = try q.fn(spark, dir) finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      val buildJobs = sc.statusTracker.getJobIdsForGroup(group)
      if (!boundedBuildActions(name)) {
        assert(buildJobs.isEmpty,
          s"$name ran ${buildJobs.length} driver job(s) while BUILDING its plan — " +
            "at 100 TB that is an extra corpus scan per query; compute the scalar " +
            "in-plan (crossJoin(broadcast(singleRowAgg)) or a post-agg window)")
      } else {
        // exempted builders are still BOUNDED: k-means iters, CC maxIter,
        // ladder/lattice probes — a runaway iteration must not hide here.
        // q_fsck's higher budget is structural, not iterative: it builds
        // TWO serving indexes (BM25 three-leg + exact four-leg writes)
        // before the audit's fused single-pass probes. q_rectify is the
        // same shape: one full BM25 build plus the rectification's
        // membership probe + five staged writes (two kept-leg anti-joins,
        // postings/docs re-derivations, stats recompute), each carrying
        // its own AQE shuffle sub-jobs — fixed writes, zero iteration.
        // The q_mondrian* budget is one constant: at sf0.001 every
        // variant switches to the in-task finish at round 0, so the build
        // is the global-range aggregate, the t-closeness census, one
        // `_gid` exchange, the finish's checkpoint and the deepest-round
        // read — a fixed job count, no per-round term (8 observed, 12
        // with the t-closeness census).
        // q_fsck_stores is the widest fixed-build query: two shard
        // writes, a k-means build + cluster-partitioned index write, a
        // snapshot bootstrap + merge, an EventStatsStore bootstrap +
        // second-day merge (round 10: the last audited store family),
        // a pending-retention capture write, a deletion-vector append
        // (content-id fold + write + count), then the five store audits
        // + the sweep-debt and dv-debt probes — each write carrying AQE
        // sub-jobs; fixed store count, zero iteration (~100 observed,
        // headroom for AQE drift).
        // q_compact_serve is three fixed staged-write phases (build,
        // append, compact) before the serve — each with AQE sub-jobs.
        val budget =
          if (name == "q_fsck") 60
          else if (name == "q_rectify") 68
          // round 12 adds the rights-metadata census fixtures (an
          // admission-log write + a resolve-capture write) and the
          // census probe itself (~121 observed) — still fixed store
          // count, zero iteration
          else if (name == "q_fsck_stores") 135
          else if (name.startsWith("q_mondrian")) MondrianBuildJobs
          else if (name == "q_compact_serve") 55
          // 8 datasets x (2 authorizes + 2 charge writes) + schedule
          // collect + the final composed read
          else if (name == "q_dp_budget") 60
          // registry bootstrap (store + manifest writes) + two bucketed
          // merges (touched collect, staged write, readback, manifest
          // refresh each) + the withdraw count (~44 observed)
          else if (name == "q_consent_gate") 55
          // registry bootstrap + withdrawal merge + the post-merge
          // vector sync (round 12: the registry current-state read, the
          // touched-subject verdict split with its two isEmpty probes,
          // then the append/subtract legs) + one global vector append —
          // the q_consent_gate shape with the reconciling vector legs
          // riding along; fixed per-verb stage count, zero iteration
          // (~76 observed)
          else if (name == "q_consent_purpose") 85
          else if (name == "q_consent_asof") 55
          // the q_consent_gate registry shape (bootstrap + two merges)
          // + expireVersions (expired-bucket collect, staged rewrite,
          // readbacks, manifest refresh) + the same verb replayed as a
          // no-op (one pruned probe) + five scalar census counts —
          // fixed verb stage count, zero iteration
          else if (name == "q_consent_expire") 90
          // one streaming epoch (offset bookkeeping, the quarantine
          // split's purpose collect, bootstrap merge, per-purpose
          // post-merge sync) + the resubmit's validation collect +
          // corrected merge + sync + the masked serve — fixed verb
          // stage count, zero iteration
          else if (name == "q_dead_letter") 100
          // the q_consent_gate registry shape + one full streaming epoch
          // (checkpoint/offset bookkeeping, the gate semi-join, the
          // admission-log write, the BM25 three-leg bootstrap) and the
          // admission-log readback — fixed stage count, zero iteration
          else if (name == "q_consent_stream") 80
          // 5 appends x ~4 jobs + 2 compactUnder passes (union agg,
          // salted content-id fold, stage write each, with AQE sub-jobs)
          // — fixed count, zero iteration (~64 observed)
          else if (name == "q_dv_compact") 75
          // the q_consent_purpose registry shape + runAccess (report
          // writes + readbacks, the disclosure joins, per-purpose mask
          // counts) — fixed verb stage count, zero iteration. Round 13
          // adds the Art. 15 admission disclosure: two fixture
          // admission-tree plants (state root + search leg, one write
          // each) and the disclosure's per-tree reads + report write +
          // readback count (~112 observed) — still a fixed tree
          // vocabulary, zero open iteration
          else if (name == "q_access_consent") 120
          // the registry build again + the ledger's authorize reads,
          // charge write, replay verification, and spend read
          else if (name == "q_consent_dp_release") 70
          else 40
        assert(buildJobs.length <= budget,
          s"$name ran ${buildJobs.length} build jobs — exceeds the bounded-" +
            "iteration budget; its exemption no longer holds")
      }
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // CartesianProduct is banned everywhere, allowlist or not
      assert(
        !plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      if (!singleRowBroadcast(name)) {
        assert(
          !plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin — unbounded all-pairs at scale:\n$plan")
      }
    }
  }

  /** query -> fragment that must appear in a parquet scan's PushedFilters */
  private val pinnedPushdown = Map(
    "q_star_join" -> "PushedFilters: [IsNotNull(c_custkey)",
    "q_embed_topk" -> "EqualTo(vec_id,0)",
    "q_semi_anti_join" -> "PushedFilters: [IsNotNull("
  )

  pinnedPushdown.foreach { case (name, fragment) =>
    test(s"plan guard pin: $name keeps its filter pushed to the parquet scan") {
      val plan = Registry
        .all(name)
        .fn(spark, dir)
        .queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains(fragment), s"expected `$fragment` in:\n$plan")
    }
  }

  test("job bound: Pipeline.geoRelease + Validate.piiScan on a seeded services frame") {
    // 20k synthesized services (the ServicesSynth rules over a seeded key
    // range, as the anonymize_batch benchmark generates them): the geo
    // release finishes Mondrian in-task after the global ranges, and the
    // PII scan is one global aggregation however many string columns the
    // mart has. The round loop ran ~6 jobs per round (~80 here), the
    // per-column scan two per string column and the stacked distinct +
    // window scan four; both bounds are structural now.
    val s = spark.newSession() // the synthesis reads a `customer` temp view
    s.range(7000001L, 7020001L, 1, 4)
      .selectExpr("id as c_custkey",
        "concat('Customer#', lpad(cast(id as string), 9, '0')) as c_name")
      .createOrReplaceTempView("customer")
    val synth = s.sql(graft.queries.ServicesSynth.sql)
    val staged = graft.pipeline.Pipeline.staging(synth)
    val mart = graft.pipeline.Pipeline.run(synth)
    val sc = spark.sparkContext
    def jobs(group: String)(action: => Long): (Long, Int) = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val out = try action finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      (out, sc.statusTracker.getJobIdsForGroup(group).length)
    }
    val (nGroups, geoJobs) = jobs("jobbound-geo")(
      graft.pipeline.Pipeline.geoRelease(staged, 5).get.count())
    // records each shuffle-map task of the scan wrote
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val mapRecords = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "jobbound-scan"))
          e.stageIds.foreach(scanStages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (scanStages.contains(e.stageId) && e.taskType == "ShuffleMapTask" && e.taskMetrics != null)
          mapRecords.add(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    val (nHits, scanJobs) =
      try jobs("jobbound-scan")(graft.validate.Validate.piiScan(mart).count())
      finally sc.removeSparkListener(listener)
    assert(nGroups > 1000L, s"the release must actually split: $nGroups groups")
    assert(nHits == 0L, s"$nHits PII hits in the mart")
    // 11 observed: the under-k probe, the global ranges, the `_gid`
    // exchange, the finish's checkpoint, the deepest-round read and the
    // envelope aggregate, each AQE stage a job
    assert(geoJobs <= 14, s"geoRelease ran $geoJobs jobs")
    // 2 observed: the partial aggregation's map stage and the final
    // aggregate with the explode and regexes, each AQE stage a job
    assert(scanJobs <= 2, s"piiScan ran $scanJobs jobs")
    // map-side combined: each input partition sends one buffer row, not
    // its distinct values
    import scala.jdk.CollectionConverters._
    val records = mapRecords.asScala.toSeq
    assert(records.nonEmpty, "the scan ran no shuffle-map task")
    assert(records.forall(_ <= 1L), s"shuffle records per map task: $records")
  }

  test("canon guard: no compared output carries decimal or array columns") {
    // The driver's hasher reads Spark output from parquet (decimal ->
    // python Decimal) but the oracle via duckdb .df() (decimal -> float64):
    // equal values, different hash (docs/ROUND2.md #20). And its pandas
    // sort dies on array columns (round-1 q_multimodal_features). Every
    // decimal-bearing compared column must therefore be listed in
    // Canon.stringCols — after Canon.wrap it comes out as a string — and
    // arrays must be projected to scalars before comparison.
    import org.apache.spark.sql.types.{ArrayType, DecimalType}
    // a query whose BUILD throws is covered by its own per-query test
    // above — skip it here so one broken reader cannot mask the schema
    // sweep over the rest
    val offenders = Registry.all.flatMap { case (name, q) =>
      q.oracle.toSeq.flatMap { _ =>
        scala.util.Try(q.fn(spark, dir).schema.fields).getOrElse(Array.empty).collect {
          case f if f.dataType.isInstanceOf[DecimalType] =>
            s"$name.${f.name}: ${f.dataType.simpleString} (add to Canon.stringCols)"
          case f if f.dataType.isInstanceOf[ArrayType] =>
            s"$name.${f.name}: ${f.dataType.simpleString} (driver cannot sort arrays)"
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("Bench's counters charge each query's jobs to its own measured passes") {
    val sc = spark.sparkContext
    // a slow listener holds up the bus, as a loaded driver does: events
    // then reach the counters well after the query has returned
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    sc.addSparkListener(slow)
    val counters = new Bench.Counters(sc)
    // Bench's methodology: a warmup pass over every named query, then each
    // query's measured passes; counts per measured pass
    def bench(names: Seq[String]): Seq[(Double, Double)] = {
      names.foreach(Bench.runOnce(spark, dir, _))
      names.map { n =>
        val m = Bench.measure(spark, dir, counters, n)
        assert(m.samples.forall(_ >= 0), s"$n failed")
        (m.counts.jobs.toDouble / m.samples.size, m.counts.tasks.toDouble / m.samples.size)
      }
    }
    val names = Seq("q1_agg", "q_mart_services")
    val (together, alone) =
      try (bench(names), names.flatMap(n => bench(Seq(n))))
      finally { sc.removeSparkListener(slow); sc.removeSparkListener(counters) }
    assert(together.forall(_._1 > 0))
    assert(together == alone)
  }

  test("Bench's artifact stays valid JSON whatever the scale-factor path holds") {
    val sfDir = "/data/sf \"0.1\"\\x\ttab\nline\u0001"
    val m = Bench.Measured(Seq(0.5, 0.25, 0.75), Bench.Counts(6, 9, 30, 1500))
    val art = new ObjectMapper().readTree(
      Bench.artifact(Seq("q_a" -> m), warmupSec = 1.0, sfDir = sfDir))
    assert(art.get("sf").asText == sfDir)
    assert(art.get("queries").get("q_a").asDouble == 0.5)
    assert(art.get("queries_min").get("q_a").asDouble == 0.25)
    val c = art.get("counters").get("q_a")
    assert((c.get("jobs").asLong, c.get("stages").asLong, c.get("tasks").asLong) == ((2L, 3L, 10L)))
    assert(c.get("task_s").asDouble == 0.5)
  }
}
