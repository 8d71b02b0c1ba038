package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Json, Session}
import graft.operators.Shards
import graft.text.CorpusPipeline

/** End-to-end corpus-curation CLI — the training-data counterpart of
  * [[PipelineCli]]: documents parquet -> quality/language gates + PII
  * redaction + dedup ([[CorpusPipeline.prepare]]) -> deterministic
  * training shards ([[Shards.write]]) -> read-back audit
  * ([[Shards.readBackAudit]]), with a machine-readable stats report.
  * Exit code 0 iff the audit holds (every input row accounted for, one
  * file per shard, contiguous within-shard positions).
  *
  * Usage: CurateCli <documents.parquet> <outDir> [nShards]
  */
object CurateCli {

  final case class Summary(
      nIn: Long,
      nKept: Long,
      nShards: Int,
      auditOk: Boolean)

  def run(
      spark: SparkSession,
      input: String,
      outDir: String,
      nShards: Int,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config()
  ): Summary = {
    val docs = spark.read.parquet(input)
    val nIn = docs.count()
    // cache: the curation gates are the expensive stage and three actions
    // read the result (shard write, audit comparison, stats report)
    val kept = CorpusPipeline.prepare(docs, cfg = cfg)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("quality_score"), col("n_tokens"))
      .cache()
    val nKept = kept.count()
    val shardDir = s"$outDir/shards"
    // report the number of shards that EXIST: zero when nothing was kept,
    // so a consumer keying on the stats file never expects missing files
    val nShardsOut = if (nKept == 0) 0 else nShards
    val auditOk =
      if (nKept == 0) {
        // nothing survived the gates: no shard files to write or audit —
        // an EMPTY corpus is a valid (if alarming) outcome, not a crash
        true
      } else {
        Shards.write(kept, "doc_id", shardDir, nShards, orderCols = Seq("source"))
        auditShards(spark, shardDir, nKept)
      }

    // per-source/lang stats the mix designer reads
    val stats = kept
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("source", "lang")
      .collect()
      .map(r =>
        s"""{"source":${Json.str(r.get(0))},"lang":${Json.str(r.get(1))},""" +
          s""""n_docs":${r.getLong(2)},"n_tokens":${r.getLong(3)}}""")
      .mkString("[", ",", "]")
    kept.unpersist()
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(
      Paths.get(s"$outDir/corpus_stats.json"),
      s"""{"n_in":$nIn,"n_kept":$nKept,"n_shards":$nShardsOut,""" +
        s""""audit_ok":$auditOk,"strata":$stats}""" + "\n")
    Summary(nIn, nKept, nShardsOut, auditOk)
  }

  /** Audit the FILES, not the plan: every expected row present exactly
    * once, one file per shard, 0-based contiguous DISTINCT positions
    * (min/max alone would accept a duplicated+dropped row pair).
    */
  private def auditShards(spark: SparkSession, shardDir: String, expected: Long): Boolean = {
    // ONE fused two-level aggregate (r13 optimization round): row count,
    // files-per-shard max, and the per-shard position checks all fall
    // out of the same grouped pass — the previous shape cached the
    // read-back and ran three actions over it
    val audit = Shards.readBackAudit(spark, shardDir)
    val row = audit
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), countDistinct(col("shard_pos")).as("nd"),
        min(col("shard_pos")).as("lo"), max(col("shard_pos")).as("hi"),
        max(col("files_in_shard")).as("mf"))
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("nback"),
        coalesce(max(col("mf")), lit(0L)).as("mf"),
        coalesce(sum(when(col("lo") =!= 0L || col("hi") =!= col("n") - 1 ||
          col("nd") =!= col("n"), 1L).otherwise(0L)), lit(0L)).as("bad"))
      .head()
    row.getLong(0) == expected && row.getLong(1) <= 1L && row.getLong(2) == 0L
  }

  final case class IncrementalSummary(
      batch: Int,
      nIn: Long,
      nKept: Long,
      nFresh: Long,
      nDupOfCorpus: Long,
      nShards: Int,
      auditOk: Boolean,
      corpusCompacted: Boolean,
      driftPsi: Option[Double] = None,
      profileDistinctEst: Option[Double] = None,
      exactOrderDrift: Option[Double] = None,
      nConsentDenied: Long = 0L)

  /** Consent-gated admission for [[runIncremental]] (GDPR Art. 6):
    * input rows whose subject does not CURRENTLY grant `purpose` in the
    * [[graft.policy.Consent]] registry at `consentDir` are refused
    * before the pipeline sees them, and every ADMITTED document lands
    * one row in the durable admission log
    * (`<state>/.admissions/batch=<id>`: doc_id, purpose, admitted_at) —
    * the data source [[graft.policy.Consent.retroAudit]] and the
    * `consent-audit` verb need to answer Art. 7(1) ("demonstrate the
    * subject had consented WHEN the data was processed"). `admittedAt`
    * defaults to the wall clock; pin it for reproducible audits (the
    * pipeline's pinnable-`now` convention).
    */
  final case class ConsentGateCfg(
      consentDir: String,
      purpose: String,
      admittedAt: Option[Long] = None)

  /** The daily-increment twin of [[run]]: gate + redact + dedup a NEW
    * batch ([[CorpusPipeline.prepare]]), drop documents that
    * near-duplicate the ACCUMULATED corpus via the STORED band index
    * ([[graft.dedup.Dedup.loadBandIndex]] — no corpus re-scan or
    * re-shingling), append the survivors to `outDir/corpus` + the index +
    * a per-batch shard directory (`outDir/shards/batch=N`, read-back
    * audited), and compact the corpus parquet once its small-file count
    * crosses `compactAt`. The first call bootstraps state (everything
    * kept is fresh, the index is built from it).
    *
    * With `searchIndex = true`, `outDir/search` additionally carries a
    * BM25 postings index over the accumulated corpus
    * ([[graft.text.Bm25.writeSearchIndex]]): bootstrapped from the corpus
    * read-back (so enabling it on existing state indexes everything
    * admitted so far), appended per batch with the exact stats merge, and
    * healed term-clustered by the same compaction maintenance.
    *
    * With `hybridIndex = true`, `outDir/dense` carries the DENSE serving
    * leg — an IVF index ([[graft.similarity.Ivf]]) over the batch input's
    * `embedding` column, keyed by `doc_id`. The first hybrid batch trains
    * centroids and writes the index; every later batch (a) runs
    * [[graft.similarity.Ivf.clusterDrift]] of the incoming vectors
    * against the stored assignment histogram — the staleness audit,
    * surfaced as `driftPsi` (re-train with
    * [[graft.similarity.Ivf.buildOnSample]] when it crosses ~0.2) — and
    * (b) appends the landed docs' vectors with the STORED centroids
    * ([[graft.similarity.Ivf.appendIndex]] — exact: the appended index
    * serves identically to a rebuild with these centroids). The
    * cluster-partitioned store is healed by
    * [[graft.operators.Compaction.compactPartitioned]] under the same
    * retire/promote swap as the corpus. Unlike `--search`, late
    * enablement indexes from the current batch FORWARD only — the corpus
    * parquet deliberately carries no vectors. Together with `--search`
    * this maintains both legs [[graft.similarity.Hybrid.searchIndexed]]
    * serves from.
    *
    * Document ids must be unique ACROSS batches (crawl ids are) — the
    * index append trusts them.
    *
    * With `profileStats = true`, `outDir/profile` carries the corpus
    * profile ([[graft.sketch.ProfileStore]]): an HLL distinct-text sketch
    * and an HDR token-length histogram, each batch sketched once and
    * merged losslessly — so the batch stats can report a
    * `profile_distinct_est` for the WHOLE corpus without ever re-reading
    * it, and quantile telemetry serves off a few-KB store.
    *
    * Leg order: the gates, the corpus dedup, the shard write, the
    * admission log and the corpus append run in sequence. Then the band
    * index write or append, BM25, dense, exact, profile, agg and the
    * shard read-back audit run at the same time under one
    * [[graft.operators.Par.run]]: each writes its own root (the audit
    * writes nothing) from the landed shard files, the batch input or —
    * bootstraps — the corpus appended before them. The corpus and store
    * compactions follow in sequence, after every reader of the corpus.
    */
  def runIncremental(
      spark: SparkSession,
      input: String,
      outDir: String,
      nShards: Int,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
      threshold: Double = 0.7,
      compactAt: Int = 16,
      searchIndex: Boolean = false,
      hybridIndex: Boolean = false,
      hybridK: Int = 16,
      profileStats: Boolean = false,
      exactIndex: Boolean = false,
      aggStats: Boolean = false,
      consent: Option[ConsentGateCfg] = None
  ): IncrementalSummary =
    graft.operators.Lease.withLease(spark, outDir, "incremental") {
    import graft.dedup.Dedup
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val corpusDir = s"$outDir/corpus"
    val indexDir = s"$outDir/index"
    val searchDir = s"$outDir/search"
    val denseDir = s"$outDir/dense"
    val exactDir = s"$outDir/exact"
    // a swap torn between retire and promote: the retired directory IS
    // the data — restore it before anything reads the live path
    Seq(corpusDir, s"$denseDir/assigned", s"$outDir/profile/hll",
      s"$outDir/profile/hdr", s"$outDir/profile/kmv")
      .foreach(graft.operators.PartitionSwap.recoverDir(spark, _))
    val bootstrap = !exists(s"$indexDir/meta")

    val raw = spark.read.parquet(input)
    // consent admission gate (Art. 6, opt-in): refused subjects never
    // reach the pipeline — one semi-join against the subject-scale
    // registry, the input batch never shuffles
    val docs0 = consent match {
      case None => raw
      case Some(cg) =>
        graft.policy.Consent.gate(spark, cg.consentDir, raw, cg.purpose)
    }
    // the admitted-row count rides the kept materialization as an
    // observed metric (r13 optimization round) — every admitted row
    // flows through the curation gates' input, so a separate count
    // action (and, without consent, the separate nIn count) is
    // redundant. Only attached when the gate output is a real scan or
    // join: a missing registry gates to `limit(0)`, which the optimizer
    // folds to an empty local relation where an observation may never
    // fire.
    val dObs = new org.apache.spark.sql.Observation()
    val obsSafe = consent.isEmpty ||
      graft.policy.Consent.storeExists(spark, consent.get.consentDir)
    val docs =
      if (obsSafe) docs0.observe(dObs, count(lit(1)).as("n")) else docs0
    val kept = CorpusPipeline.prepare(docs, cfg = cfg)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("quality_score"), col("n_tokens"))
      .cache()
    val nKept = kept.count()
    val nDocs =
      if (obsSafe) dObs.get("n").asInstanceOf[Long] else docs0.count()
    val nIn = if (consent.isEmpty) nDocs else raw.count()
    val nConsentDenied = if (consent.isEmpty) 0L else nIn - nDocs

    // corpus-level dedup: batch bands broadcast onto the STORED index,
    // verify reads stored shingle sets pruned to candidate rows
    val fresh =
      if (bootstrap || nKept == 0) kept
      else {
        val idx = Dedup.loadBandIndex(spark, indexDir)
        val flags = Dedup
          .dedupAgainstCorpus(idx, kept, "text", threshold, maxBucket = None)
          .filter(!col("is_dup"))
          .select(col("doc_id"))
        kept.join(flags, Seq("doc_id"), "left_semi").cache()
      }
    // a bootstrap (or empty) batch admits `kept` itself: its count is known
    val nFresh = if (fresh eq kept) nKept else fresh.count()
    val nDup = nKept - nFresh

    // next batch ordinal = count of existing batch STATS files — written
    // for every batch, including an all-duplicate one (nFresh == 0 creates
    // no shard directory, and counting directories would hand the next
    // batch the same ordinal and overwrite this one's audit record)
    val shardsRoot = s"$outDir/shards"
    val batchId = {
      val dir = Paths.get(outDir)
      if (!Files.exists(dir)) 0
      else {
        val s = Files.list(dir)
        try s.filter(p => {
          val n = p.getFileName.toString
          n.startsWith("batch_") && n.endsWith("_stats.json")
        }).count().toInt
        finally s.close()
      }
    }
    val shardDir = s"$shardsRoot/batch=$batchId"

    var driftPsi: Option[Double] = None
    var exactDrift: Option[Double] = None
    val auditOk =
      if (nFresh == 0) true
      else {
        // ORDER MATTERS: the shard files are written FIRST and become the
        // durable record of the batch; the corpus and index appends then
        // derive from the READ-BACK of those files. Deriving them from
        // `fresh` directly would be wrong: `fresh`'s lineage READS the
        // stored band index, and Spark invalidates caches on any write to
        // a path a cached plan reads — so appending to the index would
        // silently recompute `fresh` against the just-updated index,
        // where every batch doc near-dups ITSELF, and the remaining
        // appends would see an empty frame.
        Shards.write(fresh, "doc_id", shardDir, nShards, orderCols = Seq("source"))
        val landed = spark.read.parquet(shardDir)
          .select(col("doc_id"), col("source"), col("lang"), col("text"),
            col("quality_score"), col("n_tokens"))
        // admission log BEFORE the serving appends: a crash mid-pipeline
        // then over-reports admissions the corpus never saw — the safe
        // direction for an audit that exists to FIND unlawful admissions
        consent.foreach { cg =>
          // replay-stable stamp (Consent.writeAdmissionLog): a crash
          // after this write replays the batch under the SAME ordinal,
          // and the record must keep saying when admission first happened
          graft.policy.Consent.writeAdmissionLog(spark,
            s"$outDir/.admissions/batch=$batchId",
            landed.select(col("doc_id")), cg.purpose, cg.admittedAt)
        }
        landed.write.mode("append").parquet(corpusDir)
        // the serving legs below write disjoint roots and read only the
        // landed shard files, the batch input and (bootstraps) the corpus
        // appended above, so they overlap in ONE Par.run; a failed leg
        // cancels its siblings' jobs and the batch rethrows only once
        // every leg has stopped (Par scaladoc). `run` returns after every
        // leg, so the drift vars the legs set are visible below it.
        def bandLeg(): Unit =
          if (bootstrap)
            Dedup.writeBandIndex(
              Dedup.buildBandIndex(landed, "doc_id", "text"), indexDir)
          else Dedup.appendBandIndex(landed, "text", indexDir)
        // optional serving-side BM25 index over the accumulated corpus.
        // First build (or late enablement on existing state) indexes the
        // corpus READ-BACK — everything admitted so far — then each batch
        // appends only its landed rows (exact stats merge, Bm25 scaladoc)
        def searchLeg(): Unit =
          if (!exists(s"$searchDir/stats"))
            graft.text.Bm25.writeSearchIndex(
              spark.read.parquet(corpusDir), "doc_id", col("text"), searchDir)
          else
            graft.text.Bm25.appendSearchIndex(landed, "doc_id", col("text"), searchDir)
        // optional dense serving leg: IVF over the batch's embeddings.
        // Vectors come from the INPUT frame (the corpus stores none),
        // pruned to the landed doc ids; neither side's lineage reads the
        // dense index's own files, so the append cannot invalidate it.
        def denseLeg(): Unit = {
          import graft.similarity.Ivf
          require(docs.columns.contains("embedding"),
            "curate --hybrid: the batch input must carry an `embedding` " +
              "array column (the corpus parquet stores no vectors)")
          val batchVecs = docs
            .select(col("doc_id"), col("embedding"))
            .join(landed.select(col("doc_id")), Seq("doc_id"), "left_semi")
          if (!exists(s"$denseDir/centroids")) {
            val k = math.min(hybridK.toLong, nFresh).toInt
            val (centroids, assigned) =
              Ivf.buildOnSample(batchVecs, "doc_id", "embedding", k = k,
                iters = 3, frac = 1.0)
            Ivf.writeIndex(centroids, assigned, "doc_id", "embedding", denseDir)
          } else {
            // staleness audit BEFORE the append: the incoming vectors
            // against the index as trained — a post-append audit would
            // compare the batch partly against itself
            val (centroids, assigned) = Ivf.loadIndex(spark, denseDir)
            driftPsi = Some(
              Ivf.clusterDrift(centroids, assigned, batchVecs, "doc_id", "embedding")
                .agg(org.apache.spark.sql.functions.sum(col("psi")))
                .head().getDouble(0))
            Ivf.appendIndex(batchVecs, "doc_id", "embedding", denseDir)
          }
        }
        // optional exact-similarity serving leg: the SetSimJoin prefix
        // index over the landed docs' 3-shingle md5 sets. First build (or
        // late enablement) indexes the corpus READ-BACK; later batches
        // audit frozen-order drift BEFORE appending (the Ivf convention —
        // appends stay threshold-exact regardless, drift only erodes
        // prefix pruning; rebuild when it crosses the caller's budget).
        def exactLeg(): Unit = {
          import graft.dedup.SetSimJoin
          def setsOf(df: DataFrame) = df.select(col("doc_id"),
            array_distinct(transform(
              graft.dedup.Dedup.wordShingles(col("text"), 3),
              x => md5(x))).as("sh"))
          if (!exists(s"$exactDir/meta"))
            SetSimJoin.writeIndex(
              setsOf(spark.read.parquet(corpusDir)), "doc_id", "sh", 2, 5, exactDir)
          else {
            val landedSets = setsOf(landed)
            exactDrift = Some(SetSimJoin.orderDrift(
              spark, exactDir, landedSets, "doc_id", "sh"))
            SetSimJoin.appendIndex(spark, exactDir, landedSets, "doc_id", "sh")
          }
        }
        // optional corpus profile: sketch ONLY the landed rows, merge into
        // the stored HLL/HDR pair — losslessly identical to profiling the
        // whole accumulated corpus (ProfileStore scaladoc), so telemetry
        // reads never touch the corpus
        def profileLeg(): Unit = {
          import graft.sketch.ProfileStore
          val profDir = s"$outDir/profile"
          if (!ProfileStore.exists(spark, profDir))
            ProfileStore.write(spark, profDir, landed,
              col("text"), col("n_tokens"), sourceCol = Some("source"))
          else
            ProfileStore.append(spark, profDir, landed,
              col("text"), col("n_tokens"), sourceCol = Some("source"))
        }
        // optional maintained aggregate: per-source token stats
        // (cnt/sum/min/max of n_tokens) as an AggStore — the ALGEBRAIC
        // twin of the sketch profile, value-identical to a one-shot
        // groupBy over the accumulated corpus and, unlike the sketches,
        // exactly erasable (runErase). First enable bootstraps from the
        // corpus read-back; later batches merge only their landed states.
        def aggLeg(): Unit = {
          import graft.operators.AggStore
          val aggDir = s"$outDir/agg"
          val states =
            if (!exists(aggDir))
              AggStore.aggregate(spark.read.parquet(corpusDir),
                Seq("source"), col("n_tokens").cast("long"))
            else
              AggStore.aggregate(landed,
                Seq("source"), col("n_tokens").cast("long"))
          AggStore.merge(spark, aggDir, states, Seq("source"),
            buckets = AggBuckets, batchId = batchId.toLong)
        }
        var audit = false
        graft.operators.Par.unit(Seq[(Boolean, () => Unit)](
          (true, () => bandLeg()),
          (searchIndex, () => searchLeg()),
          (hybridIndex, () => denseLeg()),
          (exactIndex, () => exactLeg()),
          (profileStats, () => profileLeg()),
          (aggStats, () => aggLeg()),
          (true, () => audit = auditShards(spark, shardDir, nFresh)))
          .collect { case (true, leg) => leg }: _*)
        audit
      }
    val profileEst =
      if (profileStats && graft.sketch.ProfileStore.exists(spark, s"$outDir/profile"))
        Some(graft.sketch.ProfileStore.distinctEstimate(spark, s"$outDir/profile"))
      else None

    // post-append maintenance: heal the corpus parquet's small files once
    // enough batches accumulated (rewrite-and-swap, never in place).
    def healSmallFiles(live: String): Boolean =
      if (!exists(live)) false
      else {
        val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(live))
          .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (nFiles < compactAt) false
        else {
          // retire-then-promote: a crash leaves the old data restorable
          val stage = graft.operators.PartitionSwap.prepare(spark, live)
          graft.operators.Compaction.compact(spark, live, stage, 128L * 1024 * 1024)
          graft.operators.PartitionSwap.replace(spark, live, stage)
          true
        }
      }
    val compacted = healSmallFiles(corpusDir)
    // auto-compaction cadence for the four serving stores (the corpus
    // `compactAt` convention, applied per leg): every maintained store
    // that EXISTS — whether or not this run's flags maintain it —
    // self-heals through its STORE-LEVEL compactor once a leg's
    // small-file count crosses the threshold, so an operator who never
    // schedules the `compact` verb still cannot accrete one delta file
    // per epoch per leg forever. The store compactors stage through the
    // Compaction primitives and promote under each store's own commit
    // protocol with an ephemeral marker (PartitionSwap.commitEphemeral),
    // value-identical to serving off the fragmented legs; the manual
    // verb remains for off-cadence maintenance. Partitioned legs
    // (bands/assigned) trigger on files IN EXCESS of their partition
    // count — their healed steady state is ~one file per partition, and
    // a bare leaf-count trigger with nPartitions ~ compactAt would
    // rewrite the whole store every batch.
    def flatFileCount(p: String): Int =
      if (!exists(p)) 0
      else fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    def excessLeafCount(p: String, partPrefix: String): Int = {
      if (!exists(p)) return 0
      var leaves = 0
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) leaves += 1
      }
      val nPart = fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(s => s.isDirectory && s.getPath.getName.startsWith(partPrefix))
      leaves - nPart
    }
    val legTarget = 128L * 1024 * 1024
    if (exists(s"$searchDir/stats") &&
        flatFileCount(s"$searchDir/postings") >= compactAt)
      graft.text.Bm25.compactSearchIndex(spark, searchDir, legTarget)
    if (exists(s"$exactDir/meta") &&
        (flatFileCount(s"$exactDir/postings") >= compactAt ||
          flatFileCount(s"$exactDir/sets") >= compactAt))
      graft.dedup.SetSimJoin.compactIndex(spark, exactDir, legTarget)
    if (exists(s"$indexDir/meta") &&
        (excessLeafCount(s"$indexDir/bands", "band=") >= compactAt ||
          flatFileCount(s"$indexDir/shingles") >= compactAt))
      Dedup.compactBandIndex(spark, indexDir, legTarget)
    if (exists(s"$denseDir/centroids") &&
        excessLeafCount(s"$denseDir/assigned", "centroid_id=") >= compactAt)
      graft.similarity.Ivf.compactIndex(spark, denseDir, legTarget)

    Files.createDirectories(Paths.get(outDir))
    Files.writeString(
      Paths.get(s"$outDir/batch_${batchId}_stats.json"),
      s"""{"batch":$batchId,"n_in":$nIn,"n_kept":$nKept,"n_fresh":$nFresh,""" +
        s""""n_dup_of_corpus":$nDup,"n_shards":${if (nFresh == 0) 0 else nShards},""" +
        s""""audit_ok":$auditOk,"corpus_compacted":$compacted""" +
        driftPsi.map(p => s""","drift_psi":$p""").getOrElse("") +
        exactDrift.map(d => s""","exact_order_drift":$d""").getOrElse("") +
        profileEst.map(e => s""","profile_distinct_est":$e""").getOrElse("") + "}\n")
    if (!(fresh eq kept)) fresh.unpersist()
    kept.unpersist()
    IncrementalSummary(batchId, nIn, nKept, nFresh, nDup,
      if (nFresh == 0) 0 else nShards, auditOk, compacted, driftPsi, profileEst,
      exactDrift, nConsentDenied)
  }

  final case class ConsentAuditSummary(
      nAdmissions: Long,
      nViolations: Long)

  /** The union of every admission tree under the state root
    * ([[graft.operators.Fsck.admissionRoots]] — the batch pipeline's
    * `<state>/.admissions` plus the streaming sinks'
    * `<indexLeg>/.admissions`), one row per admitted document
    * (`doc_id`, `purpose`, `admitted_at`, `origin`). The trees are read
    * separately and unioned by name — a multi-root partitioned read
    * would fight over the `batch=` ordinal column, whose values differ
    * in type across trees (`batch=N` batch vs `batch=sN` streaming) —
    * but the read count is the fixed leg vocabulary, never the batch
    * count. Empty when no tree holds a batch.
    */
  private[graft] def readAdmissions(
      spark: SparkSession,
      outDir: String
  ): DataFrame = {
    val frames = graft.operators.Fsck.admissionRoots(spark, outDir)
      .flatMap { case (origin, root) =>
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasBatches = fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .exists(st => st.isDirectory &&
            st.getPath.getName.startsWith("batch="))
        if (!hasBatches) None
        else Some(spark.read.parquet(root)
          .select(col("doc_id"), col("purpose"), col("admitted_at"))
          .withColumn("origin", lit(origin)))
      }
    if (frames.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, String, Long, String)]
        .toDF("doc_id", "purpose", "admitted_at", "origin")
    } else frames.reduce(_.unionByName(_))
  }

  /** Retention stance of the admission log: `.admissions/` is an
    * Art. 30-style PROCESSING RECORD (pseudonymous keys + purpose +
    * stamp, no content), deliberately outside the erase/retention
    * sweeps — demonstrating that past processing was lawful requires
    * the record to outlive the data. Its own expiry is an operator
    * decision: per-batch directories drop in O(1).
    */

  /** The Art. 7(1) demonstration over the engine's OWN admission log:
    * join `<state>/.admissions/` (written by consent-gated
    * [[runIncremental]] batches) against the registry's SCD-2 validity
    * intervals ([[graft.policy.Consent.retroAudit]]) and report every
    * document admitted while its subject's then-current state did not
    * grant the purpose it was admitted FOR — retroactive registry edits,
    * backdated withdrawals, or admissions that bypassed the gate all
    * surface here. Violations land as parquet under `reportDir` with a
    * one-line JSON summary; read-only on the state (the fsck
    * convention).
    */
  def runConsentAudit(
      spark: SparkSession,
      outDir: String,
      consentDir: String,
      purpose: String,
      reportDir: String
  ): ConsentAuditSummary = {
    // EVERY admission tree under the state root (Fsck.admissionRoots):
    // the batch pipeline logs under `<state>/.admissions`, the streaming
    // sinks under `<indexLeg>/.admissions` — an audit that read only the
    // state root reported zero admissions for a streaming deployment.
    // One read per tree (the tree count is the fixed leg vocabulary,
    // never the batch count), projected to the record columns so the
    // trees' different partition ordinals (`batch=N` vs `batch=sN`)
    // union cleanly.
    val admissions = readAdmissions(spark, outDir)
    // BOTH counts ride the violations write as observed metrics (r13
    // optimization round): the admission count observes the audit
    // anti-join's probe side (every admission row flows through it), the
    // violation count the written frame — the previous shape re-read the
    // written report and ran a separate admissions count, two extra
    // full actions for numbers this one job already knows
    val aObs = new org.apache.spark.sql.Observation()
    val vObs = new org.apache.spark.sql.Observation()
    val ofPurpose = admissions.filter(col("purpose") === purpose)
      .withColumn("subject_id", col("doc_id"))
      .observe(aObs, count(lit(1)).as("n"))
    val violations = graft.policy.Consent
      .retroAudit(spark, consentDir, ofPurpose, purpose)
      .select(col("doc_id"), col("purpose"), col("admitted_at"))
    violations.observe(vObs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$reportDir/violations")
    val nV = vObs.get("n").asInstanceOf[Long]
    val nA = aObs.get("n").asInstanceOf[Long]
    Files.createDirectories(Paths.get(reportDir))
    Files.writeString(
      Paths.get(s"$reportDir/consent_audit.json"),
      s"""{"purpose":${Json.str(purpose)},"n_admissions":$nA,""" +
        s""""n_violations":$nV}""" + "\n")
    ConsentAuditSummary(nA, nV)
  }

  final case class EraseSummary(
      nKeys: Long,
      nCorpus: Long,
      nBand: Long,
      nSearch: Long,
      nDense: Long,
      nExact: Long,
      nShards: Long,
      profileRebuilt: Boolean,
      profileStaleness: Long,
      nAggGroups: Long = 0L)

  /** Bucket count for the `--agg` per-source token-stats store. */
  private val AggBuckets = 8

  /** Heal a facts-capture purge ([[purgePendingRectifyFacts]]) that
    * crashed between the delete and the rename: the purged capture is
    * complete (its `_SUCCESS` landed) but never moved into place, and
    * without the heal a rectify replay would see NO capture and
    * re-capture from the possibly-already-rectified corpus — subtracting
    * the new values instead of the old, the exact drift the capture
    * exists to prevent. Called on entry by every sweep that reads or
    * rewrites the capture. An INCOMPLETE purged tree (no `_SUCCESS`) is
    * dropped: the original capture is still in place.
    */
  private[graft] def recoverRectifyFacts(spark: SparkSession, outDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val facts = new org.apache.hadoop.fs.Path(s"$outDir/.rectify-facts")
    val purged = new org.apache.hadoop.fs.Path(s"$outDir/.rectify-facts.purged")
    def done(p: org.apache.hadoop.fs.Path) =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    if (done(purged) && !done(facts)) {
      fs.delete(facts, true)
      require(fs.rename(purged, facts), s"rectify facts: restoring $purged to $facts failed")
    } else fs.delete(purged, true)
  }

  /** Remove the erased subjects' rows from a crashed rectification's
    * pending `.rectify-facts` capture (the erase × pending-rectify
    * guard — see the call site in [[runErase]] for why). The rewrite is
    * complete-or-absent: the surviving rows land under a `.purged` name
    * first and RENAME into place, with [[recoverRectifyFacts]] healing
    * the one window between the delete and the rename. Re-running the
    * purge is idempotent (an anti-join only ever removes the same rows).
    */
  private[graft] def purgePendingRectifyFacts(
      spark: SparkSession,
      outDir: String,
      keys: DataFrame
  ): Unit = {
    recoverRectifyFacts(spark, outDir)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val factsPath = s"$outDir/.rectify-facts"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$factsPath/_SUCCESS"))) return
    val purgedPath = s"$outDir/.rectify-facts.purged"
    spark.read.parquet(factsPath)
      .join(broadcast(keys), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(purgedPath)
    fs.delete(new org.apache.hadoop.fs.Path(factsPath), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(purgedPath),
      new org.apache.hadoop.fs.Path(factsPath)),
      s"rectify facts: promoting $purgedPath over $factsPath failed; " +
        "the purged capture stays for the next sweep's heal")
  }

  /** GDPR erasure sweep over EVERY maintained leg of an incremental
    * state directory — the one-run answer to "delete this subject": the
    * accumulated corpus, the dedup band index, the BM25 postings (with
    * exact stats decrement), the dense IVF/PQ assignments, the exact
    * prefix index, every per-batch shard directory (positions re-closed
    * so the read-back audit keeps holding), and the sketch profile —
    * which CANNOT subtract, so its staleness ledger is charged and the
    * profile re-sketched from the retained corpus once past
    * `profileBudget` ([[graft.sketch.ProfileStore]] scaladoc). Each leg
    * that does not exist is skipped; each that does is purged with the
    * [[graft.operators.Erasure]] broadcast-anti-join rewrite, so after
    * the sweep NO maintained artifact can reproduce the erased
    * documents — search, ANN, and dedup serve exactly what a rebuild
    * from the retained corpus would serve. (The maintained `agg/` leg is
    * swept too — see the capture-before-purge note in the body.)
    *
    * Crash consistency (the runRectify recipe): the sweep id derives
    * from the KEY SET's content, the pre-purge facts capture is durable
    * under a `_SUCCESS` guard and stamped with that id — a replayed
    * sweep REUSES it rather than re-capturing from the already-purged
    * corpus, a different erasure is refused while one is pending, and
    * the capture is deleted only at sweep completion — so a sweep
    * killed between ANY two legs converges when re-run with the same
    * keys file (applied per-store commits no-op on their markers). The
    * sweep also purges the erased ids from a crashed rectification's
    * pending facts capture, so healing that sweep later cannot
    * resurrect an erased subject's aggregate facts.
    *
    * Leg order: the key aggregate, the facts capture, the pending-
    * rectification purge and the corpus rewrite run in sequence (each
    * later step reads what the earlier one settled). Then the store legs
    * — agg (its `agg-erased` failpoint fires inside the leg, right after
    * its commit), band index, BM25, dense, exact, and one leg per touched
    * `shards/batch=N` directory — run at the same time under one
    * [[graft.operators.Par.run]]: they write disjoint roots, each commits
    * and recovers on its own, and none reads another's root. A failed
    * leg cancels its siblings' jobs, and the sweep rethrows (and
    * releases its lease) only once every leg has stopped. The profile
    * ledger and the facts delete come last, in sequence: the delete is
    * the sweep's completion mark. [[graft.operators.Lease.renew]] runs on
    * the calling thread before and after the overlapped legs.
    *
    * Scope bound: STREAMING checkpoint state is outside this sweep — an
    * in-flight subject session lives in the state store until its
    * event-time timeout, see
    * [[graft.streaming.StreamingPipeline.sessionize]]'s erasure-bound
    * scaladoc and StreamingSpec's state-expiry proof. A full-compliance
    * erasure runs this sweep AND waits out (or advances) one
    * watermark+gap interval on the live queries.
    */
  def runErase(
      spark: SparkSession,
      keysPath: String,
      outDir: String,
      profileBudget: Long = 0L,
      failpoint: String => Unit = _ => ()
  ): EraseSummary =
    graft.operators.Lease.withLease(spark, outDir, "erase") {
    import graft.operators.{Erasure, PartitionSwap, Shards}
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val corpusDir = s"$outDir/corpus"
    val keys = spark.read.parquet(keysPath).select(col("doc_id")).distinct()

    PartitionSwap.recoverDir(spark, corpusDir)
    // content-derived sweep id: a crashed sweep RE-RUN WITH THE SAME KEY
    // SET derives the same id, so its applied per-store commits no-op
    // exactly (the runRectify recipe — a nanoTime id gave a replay no
    // alreadyApplied protection at all). ONE aggregate carries the key
    // count too (r13 optimization round — the separate count job over
    // the same request-scale frame was pure overhead).
    val kAgg = keys
      .agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("doc_id").cast("string"))),
          lit(0L)).as("h"))
      .head()
    val nKeys = kAgg.getLong(0)
    val eraseBatch = kAgg.getLong(1)

    // erase × pending-rectify interleaving: a crashed rectification's
    // facts capture holds the subject's PRE-rectification facts (doc_id,
    // source, n_tokens) — personal data this sweep must remove — and a
    // later heal of that sweep would re-SUBTRACT agg facts this erasure
    // already removed and re-MERGE the erased subject's corrected facts
    // back into the agg store. The sweep purges the erased ids from the
    // pending capture (below), so the replayed rectification converges
    // to erase-only for them — but the capture's state must be READ
    // FIRST: while the crashed sweep's agg legs have not committed, the
    // agg store still holds the matched ids' OLD facts even though the
    // corpus may already carry the corrected ones, and the subtraction
    // must see the store's view, not the corpus's.
    recoverRectifyFacts(spark, outDir) // a prior purge's crashed rename
    val pendingPath = s"$outDir/.rectify-facts"
    val hasPending = exists(s"$pendingPath/_SUCCESS")
    val pendingBatch =
      if (hasPending) {
        val b = spark.read.parquet(pendingPath).agg(max(col("_batch"))).head()
        if (b.isNullAt(0)) None else Some(b.getLong(0))
      } else None
    val aggDir = s"$outDir/agg"
    val hasAgg = exists(aggDir)
    // true while the crashed rectification's one agg commit has NOT
    // landed: the agg store lags the corpus for the capture's matched ids
    val aggLags = pendingBatch.exists(b => !PartitionSwap.alreadyApplied(
      spark, aggDir, PartitionSwap.legBatchId(b, "rectify-agg-merge")))

    // the agg leg needs the subject's FACTS, which only the corpus (or a
    // pending rectification's capture) still holds — capture them BEFORE
    // the purge, durable under a _SUCCESS guard with the sweep id
    // stamped per row: a replay REUSES the capture (re-capturing from
    // the already-purged corpus would find zero rows, subtract nothing,
    // and silently serve the erased subject's stats forever), a
    // DIFFERENT erasure is refused while one is pending, and the capture
    // is deleted only at sweep completion.
    val erasedFactsPath = s"$outDir/.erase-facts"
    if (exists(s"$erasedFactsPath/_SUCCESS")) {
      val prior = spark.read.parquet(erasedFactsPath)
        .agg(max(col("_batch"))).head()
      require(prior.isNullAt(0) || prior.getLong(0) == eraseBatch,
        s"erase: a crashed sweep (batch ${prior.getLong(0)}) left pending " +
          s"facts under $erasedFactsPath — re-run THAT sweep (same keys " +
          "file) to completion before starting a different erasure")
    } else if (hasAgg && exists(corpusDir)) {
      val fromCorpus = spark.read.parquet(corpusDir)
        .join(broadcast(keys), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("n_tokens"))
      // erased subjects' facts AS THE AGG STORE HOLDS THEM: where the
      // pending rectification swapped the corpus but not the agg legs,
      // the store still carries the PRE-rectification values — take
      // those from the pending capture, the corpus values otherwise
      val capture =
        if (aggLags) {
          val old = spark.read.parquet(pendingPath)
            .join(broadcast(keys), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("source"), col("n_tokens"))
          fromCorpus
            .join(old.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .unionByName(old)
        } else fromCorpus
      // _batch carries the CONTENT id (the same-keys refusal check and
      // fsck debt reporting read it); _nonce carries a FRESH stamp taken
      // at capture time, and the agg leg's commit id derives from the
      // NONCE, not the content id: a crashed-sweep replay reuses the
      // capture and therefore the nonce (keeping the convergence
      // EraseCrashSpec pins), while a genuinely NEW sweep over the SAME
      // key set — the subject re-admitted after a completed erasure, a
      // flow rectifySink explicitly supports — captures a fresh nonce
      // and so cannot silently no-op on the completed sweep's applied
      // marker, which is never removed
      capture
        .select(col("source"), col("n_tokens"), lit(eraseBatch).as("_batch"),
          lit(System.nanoTime()).as("_nonce"))
        .write.mode("overwrite").parquet(erasedFactsPath)
    }
    failpoint("facts-captured")

    // now the pending capture may forget the erased subjects (the
    // personal-data removal); what the heal still needs — the OLD facts
    // of the NON-erased matched ids — survives the anti-join
    purgePendingRectifyFacts(spark, outDir, keys)
    failpoint("rectify-facts-purged")

    val nCorpus =
      if (exists(corpusDir)) Erasure.eraseByKey(spark, corpusDir, keys, "doc_id")
      else 0L
    failpoint("corpus-purged")
    // heartbeat: each store leg of a 100 TB sweep can be long on its
    // own — re-stamp the lease around the overlapped legs so the holder
    // is never presumed dead while they run (Lease.renew scaladoc)
    graft.operators.Lease.renew(spark, outDir)
    // maintained per-source aggregate: cnt/sum subtract exactly from the
    // captured facts; min/max rebuild from the RETAINED corpus (the
    // post-purge read), with the subtraction double-checking the rebuild
    // (AggStore.erase scaladoc). Erased subjects leave no trace in the
    // served stats — the same obligation the sketch profile meets by
    // rebuild, met here exactly and incrementally.
    def aggLeg(): Long = {
      val n =
        if (hasAgg && exists(s"$erasedFactsPath/_SUCCESS")) {
          // per-leg commit id from the capture's STAMP (see the capture
          // write above); an empty or pre-nonce capture falls back to the
          // content id — both make the sweep's own replays exact no-ops
          val capForNonce = spark.read.parquet(erasedFactsPath)
          val sweepNonce =
            if (!capForNonce.columns.contains("_nonce")) eraseBatch
            else {
              val r = capForNonce.agg(max(col("_nonce"))).head()
              if (r.isNullAt(0)) eraseBatch else r.getLong(0)
            }
          // the min/max rebuild reads the retained corpus through the agg
          // store's lens: ids still pending rectification carry their OLD
          // n_tokens (the post-purge capture holds exactly those ids), so
          // the cross-check compares like with like — once the heal's agg
          // legs commit, the lens is the corpus itself
          val retained =
            if (!exists(corpusDir)) None
            else if (aggLags && exists(s"$pendingPath/_SUCCESS")) {
              val over = spark.read.parquet(pendingPath)
                .select(col("doc_id"), col("n_tokens").as("_old_nt"))
              Some(spark.read.parquet(corpusDir)
                .join(broadcast(over), Seq("doc_id"), "left")
                .select(col("source"),
                  coalesce(col("_old_nt"), col("n_tokens")).as("n_tokens")))
            } else
              Some(spark.read.parquet(corpusDir)
                .select(col("source"), col("n_tokens")))
          graft.operators.AggStore.erase(
            spark, aggDir,
            spark.read.parquet(erasedFactsPath)
              .select(col("source"), col("n_tokens")),
            Seq("source"), col("n_tokens").cast("long"),
            buckets = AggBuckets,
            batchId = PartitionSwap.legBatchId(sweepNonce, "erase-agg"),
            retainedFacts = retained)
        } else 0L
      failpoint("agg-erased")
      n
    }
    // the store legs write disjoint roots (agg/, index/, search/, dense/,
    // exact/, shards/batch=N), each commits and recovers on its own, and
    // none reads another's root — only the corpus purged above and the
    // facts capture, both settled before this point — so they overlap;
    // a failed leg cancels its siblings' jobs and the sweep rethrows only
    // once every leg has stopped (Par scaladoc), so the lease outlives
    // every write. The BM25 decrement is self-contained: the index's
    // docs leg knows exactly which requested ids it holds (zero-token
    // docs included), so no corpus-derived count crosses stores and a
    // replay of a crashed sweep cannot over- or under-decrement _n_docs.
    // The shard leg probes ALL batch directories in ONE partitioned scan
    // (`batch=` comes back as a partition column) and rewrites ONLY the
    // matched ones, overlapped — job count scales with directories
    // MATCHED, never with directories ACCUMULATED (the AggStore.merge
    // touched-partition shape, applied to the shard tree).
    def ifExists(marker: String)(leg: => Long): Long =
      if (exists(s"$outDir/$marker")) leg else 0L
    val Seq(nAgg, nBand, nSearch, nDense, nExact, nShards) =
      graft.operators.Par.run[Long](Seq(
        () => aggLeg(),
        () => ifExists("index/meta")(graft.dedup.Dedup.eraseFromBandIndex(
          spark, s"$outDir/index", keys, "doc_id")),
        () => ifExists("search/stats")(graft.text.Bm25.eraseFromSearchIndex(
          spark, s"$outDir/search", keys, "doc_id")),
        () => ifExists("dense/centroids")(graft.similarity.Ivf.eraseFromIndex(
          spark, s"$outDir/dense", keys, "doc_id")),
        () => ifExists("exact/meta")(graft.dedup.SetSimJoin.eraseFromIndex(
          spark, s"$outDir/exact", keys, "doc_id")),
        () => ifExists("shards")(graft.operators.Par.run[Long](
          Shards.touchedBatchDirs(spark, s"$outDir/shards", keys, "doc_id")
            .map(b => () => Shards.eraseByKey(
              spark, s"$outDir/shards/$b", keys, "doc_id",
              orderCols = Seq("source")))).sum)))
    graft.operators.Lease.renew(spark, outDir)
    // sketch profile: charge the ledger, rebuild once past budget
    var rebuilt = false
    val profDir = s"$outDir/profile"
    if (graft.sketch.ProfileStore.exists(spark, profDir)) {
      graft.sketch.ProfileStore.recordErasure(spark, profDir, nCorpus)
      if (graft.sketch.ProfileStore.isStale(spark, profDir, profileBudget) &&
          exists(corpusDir)) {
        graft.sketch.ProfileStore.rebuild(spark, profDir,
          spark.read.parquet(corpusDir),
          col("text"), col("n_tokens"), sourceCol = Some("source"))
        rebuilt = true
      }
    }
    val staleness = graft.sketch.ProfileStore.stalenessCount(spark, profDir)
    // sweep completion: only now may the facts capture go — a crash in
    // ANY earlier leg leaves it for the replay to reuse
    fs.delete(new org.apache.hadoop.fs.Path(erasedFactsPath), true)
    val s = EraseSummary(nKeys, nCorpus, nBand, nSearch, nDense, nExact,
      nShards, rebuilt, staleness, nAgg)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(
      Paths.get(s"$outDir/erase_report.json"),
      s"""{"n_keys":$nKeys,"n_corpus":$nCorpus,"n_band_index":$nBand,""" +
        s""""n_search_index":$nSearch,"n_dense_index":$nDense,""" +
        s""""n_exact_index":$nExact,"n_shard_rows":$nShards,""" +
        s""""profile_rebuilt":$rebuilt,"profile_staleness":$staleness,""" +
        s""""n_agg_groups":$nAgg}""" + "\n")
    s
  }

  /** Small-file compaction across every maintained serving index — the
    * scheduled-maintenance verb next to `incremental` (which grows the
    * legs one delta file per epoch) and `fsck` (which audits them):
    * BM25 postings/docs, the dedup band index, the exact prefix index,
    * and the dense IVF assignments each rewrite their CURRENT rows
    * through their canonical layout into `targetBytes`-ish files, under
    * the same crash protocols their appends use. Content-identical —
    * serving before and after is value-equal (q_compact_serve pins the
    * BM25 leg against the full-rebuild twin) — so the verb is safe to
    * run on any cadence. The corpus itself is excluded: `incremental`
    * already self-compacts it at its `compactAt` threshold. Returns
    * (leg, filesBefore, filesAfter) per compacted leg.
    */
  /** Logical erasure — the O(request) fast path of the Art. 17 pair
    * (see [[graft.operators.DeletionVectors]]'s contract): the request's
    * key set lands as one tiny deletion vector and every serving surface
    * that reads through [[graft.operators.DeletionVectors.maskServing]]
    * (or passes the loaded vector as `maskIds`) stops returning the
    * subject immediately — no store rewrite, no index sweep, latency
    * independent of corpus size. Aggregate ranking statistics settle at
    * [[runEraseSettle]], which drives the full [[runErase]] over the
    * pending keys; until then [[graft.operators.Fsck.dvDebt]] reports
    * the vector as auditable debt. Returns (masked keys, pending vector
    * directories).
    *
    * Re-admission contract: the vector masks the ID, so a subject
    * re-admitted under the same id BEFORE settle stays masked, and the
    * settle sweep erases the re-admitted rows too (erase is by key,
    * [[runErase]]'s own semantics). Re-admit after settle — the same
    * ordering [[runRectify]]'s rectifySink documents for post-erasure
    * corrections.
    */
  def runEraseLogical(
      spark: SparkSession,
      keysPath: String,
      outDir: String
  ): (Long, Int) =
    graft.operators.Lease.withLease(spark, outDir, "erase-logical") {
    import graft.operators.DeletionVectors
    val keys = spark.read.parquet(keysPath).select(col("doc_id"))
    val n = DeletionVectors.append(spark, outDir, keys)
    // compaction cadence for the global tree (under this verb's lease):
    // a steady trickle of Art. 17 requests between settles must not grow
    // dv=* directories without bound
    DeletionVectors.maybeCompact(spark, outDir, None)
    val (dirs, pendingKeys, _) = DeletionVectors.pending(spark, outDir)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(
      Paths.get(s"$outDir/erase_logical_report.json"),
      s"""{"n_keys":$n,"n_pending_vectors":$dirs,""" +
        s""""n_pending_keys":$pendingKeys}""" + "\n")
    (n, dirs)
  }

  /** Resolve a SUBJECT-keyed rights request (GDPR Art. 16/17 requests
    * name a PERSON) to the document keys every store verb speaks: one
    * semi-join of the owner mapping (`subject_id`, `doc_id` — an owner
    * column materialized as a table, or a dedicated mapping store)
    * against the requested subjects, written to a durable
    * content-addressed capture under `<outDir>/.rights-resolved/` —
    * the audit record of what the request expanded to, and the replay
    * anchor: the same request re-resolves into the SAME directory with
    * the SAME key set (the mapping is single-writer-stable during a
    * sweep), so the downstream sweep's content-derived id matches and
    * its convergence machinery applies unchanged. Returns the capture
    * path, ready to feed [[runErase]]/[[runEraseLogical]]/[[runRectify]].
    *
    * Scale shape: the request is subject-scale (broadcast side of the
    * semi-join); the mapping is corpus-scale and never shuffles — the
    * resolve is one pruned scan + one request-sized write.
    */
  def resolveSubjectKeys(
      spark: SparkSession,
      subjectKeysPath: String,
      mappingPath: String,
      outDir: String,
      now: Long = System.currentTimeMillis()
  ): String = {
    val raw = spark.read.parquet(subjectKeysPath)
    val subs = raw.select(col(raw.columns.head).as("subject_id")).distinct()
    val rid = graft.operators.DeletionVectors.contentId(subs, "subject_id")
    val resolved = spark.read.parquet(mappingPath)
      .select(col("subject_id"), col("doc_id"))
      .join(broadcast(subs), Seq("subject_id"), "left_semi")
      .select(col("doc_id")).distinct()
    val out =
      s"$outDir/.rights-resolved/req=${java.lang.Long.toHexString(rid)}"
    resolved.write.mode("overwrite").parquet(out)
    // creation marker OUTSIDE the capture directory (an overwrite replay
    // clears the directory's contents), written once and preserved across
    // replays: `records-expire` keys expiry on it instead of fs mtime,
    // which on object stores is upload time — a capture restored from
    // backup would otherwise look freshly created and never expire, and a
    // replay's rewrite would reset the clock. Pinnable `now`, the
    // reproducible-audit convention.
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$out.created")
    if (!fs.exists(marker)) {
      val os = fs.create(marker, false)
      os.write(now.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      os.close()
    }
    out
  }

  /** Art. 17 erasure BY SUBJECT: resolve the subjects' documents
    * through the owner mapping ([[resolveSubjectKeys]]), then run the
    * full physical sweep over them. Crash-convergent end to end: the
    * resolve replays into the same capture, the sweep converges through
    * its own machinery (content-derived sweep id over the resolved doc
    * set).
    */
  def runEraseBySubject(
      spark: SparkSession,
      subjectKeysPath: String,
      mappingPath: String,
      outDir: String,
      profileBudget: Long = 0L,
      failpoint: String => Unit = _ => ()
  ): EraseSummary =
    graft.operators.Lease.withLease(spark, outDir, "erase-by-subject") {
      val keysPath =
        resolveSubjectKeys(spark, subjectKeysPath, mappingPath, outDir)
      failpoint("subject-resolved")
      runErase(spark, keysPath, outDir, profileBudget, failpoint = failpoint)
    }

  /** [[runEraseLogical]] BY SUBJECT: resolve through the owner mapping,
    * then land the documents' global deletion vector — the O(request)
    * "stop serving this PERSON now" front door.
    */
  def runEraseLogicalBySubject(
      spark: SparkSession,
      subjectKeysPath: String,
      mappingPath: String,
      outDir: String
  ): (Long, Int) =
    graft.operators.Lease.withLease(spark, outDir, "erase-logical-by-subject") {
      val keysPath =
        resolveSubjectKeys(spark, subjectKeysPath, mappingPath, outDir)
      runEraseLogical(spark, keysPath, outDir)
    }

  /** Settle every pending deletion vector through the physical sweep:
    * snapshot the pending keys to a durable `.settle-keys` capture,
    * drive [[runErase]] (which is where the agg/index/profile statistics
    * actually subtract), then retire the settled keys from the vectors.
    * The capture makes the verb crash-convergent the [[runRetention]]
    * way — a replay resumes from the SAME snapshot (so the content-
    * derived sweep id matches and the erase legs no-op), and a vector
    * appended AFTER the snapshot is untouched by [[graft.operators
    * .DeletionVectors.subtract]] and waits for the next settle. Returns
    * None when nothing is pending.
    */
  def runEraseSettle(
      spark: SparkSession,
      outDir: String,
      profileBudget: Long = 0L,
      failpoint: String => Unit = _ => ()
  ): Option[EraseSummary] =
    graft.operators.Lease.withLease(spark, outDir, "erase-settle") {
    import graft.operators.DeletionVectors
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapPath = s"$outDir/.settle-keys"
    val hasSnap =
      fs.exists(new org.apache.hadoop.fs.Path(s"$snapPath/_SUCCESS"))
    if (!hasSnap) {
      // GLOBAL vectors only: a purpose-scoped mask is a standing consent
      // artifact (retires on re-grant), never physical-sweep input — the
      // masked data is still lawful for the purposes the subject grants
      DeletionVectors.loadGlobal(spark, outDir) match {
        case None => return None
        case Some(dv) =>
          dv.select(col("doc_id")).write.mode("overwrite").parquet(snapPath)
      }
    }
    failpoint("settle-keys-captured")
    // the failpoint forwards into the sweep too: a settle that dies
    // INSIDE runErase leaves .settle-keys AND .erase-facts pending, and
    // the replay resumes the same snapshot into the same sweep (content
    // ids match), converging through runErase's own machinery
    val summary = runErase(spark, snapPath, outDir, profileBudget,
      failpoint = failpoint)
    failpoint("erase-complete")
    // the physical sweep is done — retire the settled keys from the
    // vectors (read from the capture, not the purged corpus), then drop
    // the capture LAST so a crash replays into the no-op erase
    DeletionVectors.subtract(spark, outDir, spark.read.parquet(snapPath))
    failpoint("vectors-retired")
    fs.delete(new org.apache.hadoop.fs.Path(snapPath), true)
    Some(summary)
  }

  def runCompact(
      spark: SparkSession,
      outDir: String,
      targetBytes: Long = 128L << 20
  ): Seq[(String, Int, Int)] =
    graft.operators.Lease.withLease(spark, outDir, "compact") {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    if (exists(s"$outDir/search/stats")) {
      val (b, a) = graft.text.Bm25.compactSearchIndex(
        spark, s"$outDir/search", targetBytes)
      out += (("search", b, a))
    }
    // heartbeat between legs: a 100 TB compaction can outlive the TTL
    graft.operators.Lease.renew(spark, outDir)
    if (exists(s"$outDir/index/meta")) {
      val (b, a) = graft.dedup.Dedup.compactBandIndex(
        spark, s"$outDir/index", targetBytes)
      out += (("band", b, a))
    }
    graft.operators.Lease.renew(spark, outDir)
    if (exists(s"$outDir/exact/meta")) {
      val (b, a) = graft.dedup.SetSimJoin.compactIndex(
        spark, s"$outDir/exact", targetBytes)
      out += (("exact", b, a))
    }
    graft.operators.Lease.renew(spark, outDir)
    if (exists(s"$outDir/dense/centroids")) {
      val (b, a) = graft.similarity.Ivf.compactIndex(
        spark, s"$outDir/dense", targetBytes)
      out += (("dense", b, a))
    }
    out.toSeq
  }

  /** Retention for the rights-metadata stores — the mechanism behind
    * the admission log's documented stance ("its own expiry is an
    * operator decision: per-batch directories drop in O(1)"). The
    * admission log and the `.rights-resolved/` captures are Art. 30
    * processing records that must OUTLIVE the data they describe, but
    * not forever: past the controller's record-retention period this
    * verb drops
    *
    *   - every `batch=*` directory in EVERY admission tree under the
    *     state root ([[graft.operators.Fsck.admissionRoots]] — the
    *     batch pipeline's `.admissions/` plus the streaming sinks'
    *     `<indexLeg>/.admissions/`) whose NEWEST admission stamp is
    *     before `cutoffMs` (a directory with any still-young row is
    *     kept whole — expiry is per-directory O(1), never a row
    *     rewrite), found by ONE partitioned read per tree (`batch`
    *     comes back as a partition column; job count is the fixed leg
    *     vocabulary, independent of the batch count), and
    *   - every `.rights-resolved/req=*` capture whose CREATION STAMP is
    *     before the cutoff. The stamp is the sibling `req=<id>.created`
    *     marker [[resolveSubjectKeys]] writes (pinnable `now`,
    *     preserved across replays); captures from before the marker
    *     existed fall back to directory modification time — honest on
    *     HDFS/local FS, but on object stores mtime is upload time, so a
    *     capture restored from backup would look freshly created and
    *     never expire (and a replay-rewritten one would reset its
    *     clock), which is exactly why the marker is the primary key.
    *
    * `cutoffMs` is a pinned epoch stamp (the pipeline's pinnable-`now`
    * convention — reproducible audits need reproducible expiry).
    * Returns (admission dirs dropped, resolve captures dropped).
    */
  def runRecordsExpire(
      spark: SparkSession,
      outDir: String,
      cutoffMs: Long
  ): (Int, Int) =
    graft.operators.Lease.withLease(spark, outDir, "records-expire") {
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
      val nAdm = graft.operators.Fsck.admissionRoots(spark, outDir)
        .map { case (_, admRoot) =>
          val hasBatches = fs
            .listStatus(new org.apache.hadoop.fs.Path(admRoot))
            .exists(st => st.isDirectory &&
              st.getPath.getName.startsWith("batch="))
          if (!hasBatches) 0
          else {
            val expired = spark.read.parquet(admRoot)
              .groupBy(col("batch"))
              .agg(max(col("admitted_at")).as("newest"))
              .filter(col("newest") < cutoffMs)
              .select(col("batch").cast("string"))
              .collect().map(_.getString(0))
            expired.foreach(b => fs.delete(
              new org.apache.hadoop.fs.Path(s"$admRoot/batch=$b"), true))
            expired.length
          }
        }.sum
      val resRoot = s"$outDir/.rights-resolved"
      val nRes =
        if (!exists(resRoot)) 0
        else {
          val expired = fs
            .listStatus(new org.apache.hadoop.fs.Path(resRoot))
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith("req="))
            .filter { st =>
              val marker =
                new org.apache.hadoop.fs.Path(s"${st.getPath}.created")
              val createdAt =
                if (!fs.exists(marker)) st.getModificationTime
                else scala.util.Try {
                  val in = fs.open(marker)
                  try new String(in.readAllBytes(),
                    java.nio.charset.StandardCharsets.UTF_8).trim.toLong
                  finally in.close()
                }.getOrElse(st.getModificationTime)
              createdAt < cutoffMs
            }
          expired.foreach { st =>
            fs.delete(st.getPath, true)
            fs.delete(
              new org.apache.hadoop.fs.Path(s"${st.getPath}.created"), false)
          }
          expired.length
        }
      (nAdm, nRes)
    }

  /** Vector-tree maintenance ([[graft.operators.DeletionVectors
    * .compact]]): merge each tree's many request-sized vectors into one
    * (global root and every purpose tree independently; per-key min
    * stamps preserved so debt never looks younger). Census and mask
    * results are byte-identical before and after — only the listing and
    * file-count overhead drop. Rides the compaction conventions: one
    * writer lease, crash-safe toward over-masking only, replays
    * converge.
    */
  def runCompactVectors(
      spark: SparkSession,
      outDir: String
  ): Seq[(String, Int, Int)] =
    graft.operators.Lease.withLease(spark, outDir, "compact-vectors") {
      graft.operators.DeletionVectors.compact(spark, outDir)
    }

  final case class AccessSummary(
      nKeys: Long,
      nCorpus: Long,
      nBand: Long,
      nSearch: Long,
      nDense: Long,
      nExact: Long,
      nShards: Long,
      nMaskedPending: Long = 0L,
      nConsentRows: Long = 0L,
      nPurposeMasked: Long = 0L,
      nAdmissionRows: Long = 0L)

  /** Right-of-access sweep (GDPR Art. 15, the read-side dual of
    * [[runErase]]): for a set of subject document ids, report every
    * place the state directory holds data about them — the corpus rows
    * themselves (the subject's actual data, written to
    * `<reportDir>/corpus_rows`), plus per-subject presence counts in
    * every serving leg (band index rows, BM25 postings, exact-index
    * sets/postings, dense assignment with its cluster id, shard
    * locations) written to `<reportDir>/subjects`. With `consentDir`,
    * the report also answers Art. 15(1)(a)+(b): the subject's FULL
    * consent history (every purpose/verdict version with its validity
    * interval — the Art. 7(1) demonstration) to
    * `<reportDir>/consent_state`, and the Art. 7(3) withdrawals
    * currently in force (per-purpose masked-key counts over the
    * requested ids) to `<reportDir>/purpose_masks`. The report always
    * carries the subject's ADMISSION HISTORY (Art. 15(1)(a)+(c) — what
    * processing happened and when): their rows from every admission
    * tree under the state root, batch and streaming
    * ([[readAdmissions]]), to `<reportDir>/admissions`. A DPO answers
    * "what do you hold about me" from this report without knowing the
    * store layouts; an erasure sweep followed by an access sweep
    * returning zero rows is the compliance proof pair.
    *
    * Read-only: every leg is probed with a broadcast semi-join (keys
    * are request-sized) and aggregated per subject — no store is
    * touched, nothing corpus-sized shuffles. The sketch profile holds
    * NO per-subject rows (sketches are aggregates), which the report
    * records as a structural fact rather than a zero.
    */
  final case class RetentionSummary(
      nBatchesExpired: Int,
      nDocsExpired: Long,
      erase: EraseSummary)

  /** Storage-limitation sweep (the reference's per-column
    * `retention_days` meta,
    * `/root/reference/dbt_project/models/staging/schema.yml:57-64`,
    * operationalized over the incremental state): expire every ingest
    * batch older than the newest `keepBatches`, where a batch is the
    * daily-increment unit `runIncremental` lands — the engine-side
    * analogue of "rows older than N days". Age-based deletion COMPOSES
    * with subject erasure rather than duplicating it:
    *
    *   1. the expired batches' shard directories are DROPPED whole — at
    *     100 TB aging out a batch must be O(1) metadata, never a rewrite
    *     (the [[graft.operators.Ttl]] argument applied to the durable
    *     training record);
    *   2. their doc ids become an erasure key set and ride the standard
    *     [[runErase]] sweep, so the corpus and EVERY serving leg (band /
    *     BM25 / dense / exact / agg / profile ledger) forget the expired
    *     documents with all the crash-safety and exactness guarantees
    *     subject erasure already carries — and [[graft.operators.Fsck]]
    *     audits clean afterwards.
    *
    * Returns the expired-batch count, the expired doc count, and the
    * inner erase summary. Idempotent: a second call with the same
    * `keepBatches` finds nothing to expire.
    */
  def runRetention(
      spark: SparkSession,
      outDir: String,
      keepBatches: Int,
      profileBudget: Long = 0L
  ): RetentionSummary =
    graft.operators.Lease.withLease(spark, outDir, "retention") {
    require(keepBatches >= 0, s"retention: keepBatches must be >= 0, got $keepBatches")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a leftover keys capture means a previous retention dropped its
    // expired batch directories and crashed before (or inside) the erase
    // sweep — without this resume a replay would find nothing left to
    // expire and return early, leaving the expired documents served by
    // every leg forever. The resumed erase converges (content-derived
    // sweep id + reusable facts capture, see runErase), and the emptied
    // leftover state ages out on the next expiry.
    val pendingKeys = s"$outDir/.retention-keys"
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$pendingKeys/_SUCCESS"))) {
      runErase(spark, pendingKeys, outDir, profileBudget)
      fs.delete(new org.apache.hadoop.fs.Path(pendingKeys), true)
    }
    val shardsRoot = new org.apache.hadoop.fs.Path(s"$outDir/shards")
    val batchDirs =
      if (!fs.exists(shardsRoot)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(shardsRoot)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .sortBy(_.getPath.getName.stripPrefix("batch=").toInt)
    val expired = batchDirs.dropRight(keepBatches)
    if (expired.isEmpty) {
      val empty = EraseSummary(0L, 0L, 0L, 0L, 0L, 0L, 0L, false,
        graft.sketch.ProfileStore.stalenessCount(spark, s"$outDir/profile"))
      return RetentionSummary(0, 0L, empty)
    }
    // capture the expired ids BEFORE dropping their directories (the
    // shard files are the only record of batch membership) — ONE
    // partitioned scan over the expired directories, not a per-directory
    // union reduce (the round-9 O(#batches) finding: at a year of daily
    // epochs that was a 365-leg union plan)
    val keysPath = pendingKeys
    val expiredNames = expired.map(_.getPath.getName).toSet
    val dataBearing = Shards.liveBatchDirs(spark, shardsRoot.toString)
      .filter(expiredNames.contains)
    // the expired-id count rides the capture write as an observed metric
    // (r13 optimization round) — the readback count re-scanned the file
    // this same job just wrote
    val rObs = new org.apache.spark.sql.Observation()
    val capture =
      if (dataBearing.nonEmpty)
        Shards.readBatches(spark, shardsRoot.toString, dataBearing)
          .select(col("doc_id"))
          .distinct()
      else
        // every expired directory is a flat schema-only husk a prior total
        // erasure left — zero ids to capture, but the sweep below still
        // needs a readable keys parquet
        expired.map(st => spark.read.parquet(st.getPath.toString)
            .select(col("doc_id")))
          .reduce(_ unionByName _)
          .distinct()
    capture.observe(rObs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(keysPath)
    val nDocs = rObs.get("n").asInstanceOf[Long]
    // age-out is metadata: drop the expired batch directories whole, so
    // the erase sweep below never rewrites a directory that is about to
    // disappear anyway
    expired.foreach(st => fs.delete(st.getPath, true))
    val erase = runErase(spark, keysPath, outDir, profileBudget)
    fs.delete(new org.apache.hadoop.fs.Path(keysPath), true)
    val s = RetentionSummary(expired.length, nDocs, erase)
    Files.writeString(
      Paths.get(s"$outDir/retention_report.json"),
      s"""{"n_batches_expired":${expired.length},"n_docs_expired":$nDocs,""" +
        s""""n_corpus":${erase.nCorpus},"n_band_index":${erase.nBand},""" +
        s""""n_search_index":${erase.nSearch},"n_dense_index":${erase.nDense},""" +
        s""""n_exact_index":${erase.nExact},"n_agg_groups":${erase.nAggGroups},""" +
        s""""profile_rebuilt":${erase.profileRebuilt}}""" + "\n")
    s
  }

  /** Art. 15 access BY SUBJECT: resolve the person's documents through
    * the owner mapping ([[resolveSubjectKeys]]), then run the read-only
    * access sweep over them — the disclosure request names a person, the
    * stores speak doc ids, and the resolution step is the same front
    * door the erase verbs use.
    */
  def runAccessBySubject(
      spark: SparkSession,
      subjectKeysPath: String,
      mappingPath: String,
      outDir: String,
      reportDir: String,
      consentDir: Option[String] = None
  ): AccessSummary = {
    val keysPath =
      resolveSubjectKeys(spark, subjectKeysPath, mappingPath, outDir)
    // the consent disclosure keys on the PERSONS requested, not the
    // resolved document ids — the registry is subject-keyed
    val raw = spark.read.parquet(subjectKeysPath)
    runAccess(spark, keysPath, outDir, reportDir, consentDir,
      consentSubjects =
        Some(raw.select(col(raw.columns.head).as("subject_id")).distinct()))
  }

  def runAccess(
      spark: SparkSession,
      keysPath: String,
      outDir: String,
      reportDir: String,
      consentDir: Option[String] = None,
      consentSubjects: Option[DataFrame] = None
  ): AccessSummary = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val keys = spark.read.parquet(keysPath).select(col("doc_id")).distinct()

    def legCount(path: String, idExpr: String): DataFrame =
      spark.read.parquet(path)
        .select(col(idExpr).as("doc_id"))
        .join(broadcast(keys), Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"))

    // counts of written report legs ride the write jobs as observed
    // metrics (r13 optimization round): the previous shape re-read every
    // leg it had just written for a count — one full extra action per
    // leg, identical values by construction (the metric aggregates the
    // exact rows the writer receives)
    def corpusLeg(): Long = {
      val corpusObs = new org.apache.spark.sql.Observation()
      val corpusRows =
        if (exists(s"$outDir/corpus"))
          spark.read.parquet(s"$outDir/corpus")
            .join(broadcast(keys), Seq("doc_id"), "left_semi")
        else keys.limit(0)
      corpusRows.observe(corpusObs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$reportDir/corpus_rows")
      corpusObs.get("n").asInstanceOf[Long]
    }

    def opt(path: String, idExpr: String, name: String): (DataFrame, Boolean) =
      if (exists(path)) (legCount(path, idExpr).withColumnRenamed("n", name), true)
      else (keys.limit(0).withColumn(name, lit(0L)), false)

    val (band, _) = opt(s"$outDir/index/bands", "doc_id", "n_band_rows")
    val (search, _) = opt(s"$outDir/search/postings", "doc_id", "n_postings")
    val (exactSets, _) = opt(s"$outDir/exact/sets", "id", "n_exact_sets")
    val (exactPost, _) = opt(s"$outDir/exact/postings", "id", "n_exact_postings")
    val denseInfo =
      if (exists(s"$outDir/dense/assigned"))
        spark.read.parquet(s"$outDir/dense/assigned")
          .join(broadcast(keys), Seq("doc_id"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_dense_rows"),
            min(col("centroid_id")).as("dense_centroid"))
      else keys.limit(0)
        .withColumn("n_dense_rows", lit(0L))
        .withColumn("dense_centroid", lit(null).cast("int"))
    val shardLoc = {
      // ONE partitioned scan over the batch tree (Shards.readBatches),
      // not a per-directory union — the same O(#batches)-jobs fix as the
      // erase/retention sweeps
      val batchDirs =
        if (!exists(s"$outDir/shards")) Seq.empty[String]
        else Shards.liveBatchDirs(spark, s"$outDir/shards")
      if (batchDirs.isEmpty) keys.limit(0).withColumn("n_shard_rows", lit(0L))
      else Shards.readBatches(spark, s"$outDir/shards", batchDirs)
        .select(col("doc_id"))
        .join(broadcast(keys), Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shard_rows"))
    }

    def subjectsLeg(): Seq[Long] = {
      val subjects = keys
        .join(band, Seq("doc_id"), "left")
        .join(search, Seq("doc_id"), "left")
        .join(exactSets, Seq("doc_id"), "left")
        .join(exactPost, Seq("doc_id"), "left")
        .join(denseInfo, Seq("doc_id"), "left")
        .join(shardLoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_band_rows", "n_postings", "n_exact_sets",
          "n_exact_postings", "n_dense_rows", "n_shard_rows"))
      // same fold: the per-leg totals are observed on the subjects write
      // instead of a readback aggregation over the file just written
      val subjObs = new org.apache.spark.sql.Observation()
      subjects.observe(subjObs,
          sum(col("n_band_rows")).as("_s0"), sum(col("n_postings")).as("_s1"),
          sum(col("n_dense_rows")).as("_s2"),
          sum(col("n_exact_sets") + col("n_exact_postings")).as("_s3"),
          sum(col("n_shard_rows")).as("_s4"))
        .write.mode("overwrite").parquet(s"$reportDir/subjects")
      val tot = subjObs.get
      (0 to 4).map(i => tot(s"_s$i") match {
        case null    => 0L
        case v: Long => v
      })
    }
    // Art. 15 discloses processing STATUS too: a requested subject whose
    // id sits in a pending deletion vector is logically erased — still
    // physically present (the rows above), but excluded from every
    // masked serve until the settle sweep purges it
    // GLOBAL vectors only: purpose-scoped masks are standing consent
    // state (Art. 7(3) withdrawals, disclosed per purpose below), not
    // pending erasure — the round-11 settle-scope distinction applies
    // to the disclosure too
    def maskedLeg(): Long =
      graft.operators.DeletionVectors.loadGlobal(spark, outDir) match {
        case None => 0L
        case Some(dv) => dv.join(broadcast(keys), Seq("doc_id"), "left_semi").count()
      }
    // Art. 15(1)(a)+(b) with Art. 7(1) demonstrability: when the consent
    // registry is given, disclose the subject's FULL consent history —
    // every (purpose, granted) version with its validity interval, not
    // just the current verdict ("the controller shall be able to
    // demonstrate that the data subject has consented" is a question
    // about the past) — to `<reportDir>/consent_state`, and the standing
    // purpose-scoped masks over the requested keys (which purposes
    // currently exclude the subject from serving, Art. 7(3) withdrawals
    // in force) to `<reportDir>/purpose_masks`. The registry side is
    // subject-scale; both joins broadcast the request.
    def consentLeg(): Seq[Long] = consentDir.fold(Seq(0L, 0L)) { cd =>
      val subjects = consentSubjects.getOrElse(
        keys.withColumnRenamed("doc_id", "subject_id"))
      val hist =
        if (!graft.policy.Consent.storeExists(spark, cd))
          subjects.limit(0)
            .withColumn("purpose", lit(null).cast("string"))
            .withColumn("granted", lit(null).cast("boolean"))
            .withColumn("updated_at", lit(null).cast("long"))
            .withColumn("valid_from", lit(null).cast("long"))
            .withColumn("valid_to", lit(null).cast("long"))
        else
          graft.pipeline.Snapshot.loadStore(spark, cd)
            .join(broadcast(subjects), Seq("subject_id"), "left_semi")
            .select(col("subject_id"), col("purpose"), col("granted"),
              col("updated_at"), col("valid_from").cast("long"),
              col("valid_to").cast("long"))
      val histObs = new org.apache.spark.sql.Observation()
      hist.observe(histObs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$reportDir/consent_state")
      val nConsentRows = histObs.get("n").asInstanceOf[Long]
      import spark.implicits._
      // ONE counting job for every purpose tree (r13 optimization round):
      // the per-purpose masked-key counts union the (fixed-vocabulary)
      // purpose trees and aggregate once, instead of one count job per
      // purpose; purposes with no live tree (or no masked request keys)
      // keep their zero row
      val purs = graft.operators.DeletionVectors.purposes(spark, outDir)
      val counted: Map[String, Long] = {
        val trees = purs.flatMap { pur =>
          graft.operators.DeletionVectors
            .loadPurposeTree(spark, outDir, pur)
            .map(dv => dv.select(lit(pur).as("_pur"), col("doc_id")))
        }
        if (trees.isEmpty) Map.empty
        else trees.reduce(_ unionByName _)
          .join(broadcast(keys), Seq("doc_id"), "left_semi")
          .groupBy(col("_pur")).agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      }
      val pm = purs.map(pur => (pur, counted.getOrElse(pur, 0L)))
      pm.toDF("purpose", "n_masked_keys")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$reportDir/purpose_masks")
      Seq(nConsentRows, pm.map(_._2).sum)
    }
    // Art. 15(1)(a)+(c) — WHAT processing happened and WHEN: the
    // subject's rows from every admission tree (batch `.admissions/` and
    // the streaming sinks' `<leg>/.admissions/`, the unified discovery)
    // — one purpose + stamp + origin row per admission, to
    // `<reportDir>/admissions`. One broadcast semi-join against the
    // request per read; the trees are Art. 30 records (pseudonymous
    // keys, no content), so the disclosure is record-sized.
    def admissionsLeg(): Long = {
      val admObs = new org.apache.spark.sql.Observation()
      val admitted = readAdmissions(spark, outDir)
        .join(broadcast(keys), Seq("doc_id"), "left_semi")
      admitted.observe(admObs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$reportDir/admissions")
      admObs.get("n").asInstanceOf[Long]
    }
    // r14 (guide §2.6): the report legs write disjoint `<reportDir>/...`
    // outputs from read-only store scans — each is a short chain of small
    // jobs, so the serial form paid one scheduling latency after another.
    // Overlapped, the summary and every leg's bytes are identical.
    Files.createDirectories(Paths.get(reportDir))
    val legResults = graft.operators.Par.run[Seq[Long]](Seq(
      () => Seq(keys.count()),
      () => Seq(corpusLeg()),
      () => subjectsLeg(),
      () => Seq(maskedLeg()),
      () => consentLeg(),
      () => Seq(admissionsLeg())))
    val nKeys = legResults(0).head
    val nCorpus = legResults(1).head
    val s0 = legResults(2)
    val nMasked = legResults(3).head
    val Seq(nConsentRows, nPurposeMasked) = legResults(4)
    val nAdmissionRows = legResults(5).head
    val summary = AccessSummary(nKeys, nCorpus, s0(0), s0(1), s0(2), s0(3),
      s0(4), nMasked, nConsentRows, nPurposeMasked, nAdmissionRows)
    Files.createDirectories(Paths.get(reportDir))
    Files.writeString(
      Paths.get(s"$reportDir/access_report.json"),
      s"""{"n_keys":${summary.nKeys},"n_corpus_rows":${summary.nCorpus},""" +
        s""""n_band_rows":${summary.nBand},"n_search_postings":${summary.nSearch},""" +
        s""""n_dense_rows":${summary.nDense},"n_exact_rows":${summary.nExact},""" +
        s""""n_shard_rows":${summary.nShards},""" +
        s""""n_pending_logical_erasure":${summary.nMaskedPending},""" +
        s""""n_consent_history_rows":${summary.nConsentRows},""" +
        s""""n_purpose_masked":${summary.nPurposeMasked},""" +
        s""""n_admission_rows":${summary.nAdmissionRows},""" +
        """"profile_note":"sketch stores hold aggregates, no per-subject rows"}""" + "\n")
    summary
  }

  final case class RectifySummary(
      nRequested: Long,
      nMatched: Long,
      nCorpus: Long,
      nBand: Long,
      nSearch: Long,
      nDense: Long,
      nExact: Long,
      nShards: Long,
      nAggGroups: Long,
      profileRebuilt: Boolean,
      profileStaleness: Long)

  /** Right-to-rectification sweep (GDPR Art. 16 — the third member of
    * the data-subject-rights family: [[runAccess]] answers Art. 15,
    * [[runErase]] Art. 17): for a parquet of corrected documents
    * (`doc_id`, `text`, optionally `embedding`), REPLACE the subject's
    * content in the accumulated corpus and in every maintained serving
    * artifact derived from it, re-deriving every derived value exactly
    * as ingest derived the original — PII redaction then quality/token
    * stats on the raw corrected text ([[CorpusPipeline.prepare]]'s
    * order), per-term postings and corpus stats in the BM25 index,
    * banded minhashes and shingle sets in the dedup index, frozen-order
    * prefix sets in the exact index, per-source token aggregates in the
    * agg store, and the shard rows in place (ids and order keys don't
    * change, so every `shard_pos` survives). After the sweep each store
    * serves exactly what a rebuild over the corrected corpus serves; the
    * old content is no longer retrievable anywhere, including through
    * stale ranking statistics.
    *
    * Replace-only: corrected ids the corpus does not hold rectify
    * nothing and are reported as unmatched — insertion is
    * [[runIncremental]]'s job, behind the dedup and quality gates.
    * (Rectification deliberately does NOT re-run those admission gates
    * on corrected text: Art. 16 corrects data already admitted; whether
    * corrected-but-now-low-quality documents should be RETIRED is
    * [[runRetention]]'s policy decision, not this sweep's.)
    *
    * Crash consistency: the subject's pre-rectification facts (source,
    * token counts) are captured to a durable `.rectify-facts` parquet
    * BEFORE the corpus rewrite — the agg-store subtraction needs the OLD
    * values, which no store holds after the corpus swap — and every
    * multi-leg index commit carries a batch id derived from the
    * corrected content, so a crashed sweep RE-RUN WITH THE SAME FILE
    * converges: content replacements are idempotent, applied index
    * commits and agg legs no-op, and the facts capture is reused (not
    * recomputed from the already-rectified corpus, which would subtract
    * the wrong values). A different rectification is refused while a
    * crashed one's facts are pending — finish (re-run) the first sweep.
    *
    * Scope bounds, same as [[runErase]]: streaming checkpoint state
    * rectifies only via its event-time expiry, and the sketch profile
    * cannot subtract the old text — its staleness ledger is charged and
    * the profile re-sketched from the corrected corpus past
    * `profileBudget`. The dense IVF leg holds INPUT embeddings (the
    * corpus stores none), so it rectifies only when the corrected file
    * carries an `embedding` column.
    *
    * Leg order: the gate aggregate, the facts capture and the corpus
    * rewrite run in sequence. Then agg (old facts out and corrected facts
    * in, one commit; its `agg-updated` failpoint fires inside the leg,
    * after that commit), band index, BM25, exact, dense and one leg per
    * `shards/batch=N` directory run at the same time under one
    * [[graft.operators.Par.run]] — the [[runErase]] argument and failure
    * semantics. The profile ledger and the facts delete follow in
    * sequence.
    */
  def runRectify(
      spark: SparkSession,
      correctedPath: String,
      outDir: String,
      profileBudget: Long = 0L,
      failpoint: String => Unit = _ => ()
  ): RectifySummary =
    graft.operators.Lease.withLease(spark, outDir, "rectify") {
    import graft.operators.{PartitionSwap, Rectify, Shards}
    import graft.text.TextAnalysis
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val corpusDir = s"$outDir/corpus"
    PartitionSwap.recoverDir(spark, corpusDir)
    // an interleaved erase sweep may have purged erased subjects from a
    // pending capture and crashed mid-rename — heal before reading it
    recoverRectifyFacts(spark, outDir)

    val correctedRaw = spark.read.parquet(correctedPath)
    require(correctedRaw.columns.contains("doc_id") &&
      correctedRaw.columns.contains("text"),
      "rectify: corrected parquet must carry doc_id and text")
    // ONE fused gate-and-id pass (r13 optimization round): row count,
    // doc_id uniqueness, the null-text gate, and the content-derived
    // batch id all come from a single aggregate over the corrected file
    // — previously four separate actions. The batch hash runs WITHOUT
    // the defensive distinct of the old shape because the uniqueness
    // gate in this same row refuses duplicate doc_ids before the hash
    // value is ever used (over unique (doc_id, text) rows the distinct
    // was an identity); a future relaxation of that gate must restore
    // the deduplicated projection (bit_xor cancels pair-duplicated rows).
    val gate = correctedRaw.agg(
      count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("nd"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("nulls"),
      coalesce(bit_xor(xxhash64(col("doc_id").cast("string"), col("text"))),
        lit(0L)).as("h")).head()
    val nRequested = gate.getLong(0)
    require(gate.getLong(1) == nRequested,
      "rectify: corrected parquet has duplicate doc_id rows")
    require(nRequested == 0L || gate.getLong(2) == 0L,
      "rectify: corrected text must not be null — removal is the erase " +
        "sweep's job, not a null rectification")
    // content-derived batch id: replays of the same corrected file reuse
    // the same commit ids, so applied index/agg legs no-op exactly.
    val batchBase = gate.getLong(3)

    // re-derive EXACTLY as ingest derived the landed rows
    // (CorpusPipeline.prepare): quality/token stats on the RAW corrected
    // text first, PII redaction after — the stored n_tokens counts
    // pre-redaction tokens
    val derived = correctedRaw
      .withColumn("_st", TextAnalysis.textStats(col("text")))
      .select(
        col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("text"),
        TextAnalysis.qualityScoreOfStats(col("_st")).as("quality_score"),
        TextAnalysis.tokenCountOfStats(col("_st")).as("n_tokens"))

    // durable pre-rectification capture (see scaladoc). _SUCCESS guards a
    // partially-written capture from a killed run; the batch column makes
    // an interleaved DIFFERENT rectification refuse instead of reusing
    // another sweep's facts.
    val factsPath = s"$outDir/.rectify-facts"
    val factsValid = exists(s"$factsPath/_SUCCESS")
    if (factsValid) {
      val prior = spark.read.parquet(factsPath)
        .agg(max(col("_batch"))).head()
      require(prior.isNullAt(0) || prior.getLong(0) == batchBase,
        s"rectify: a crashed sweep (batch ${prior.getLong(0)}) left pending " +
          s"facts under $factsPath — re-run THAT sweep to completion (or " +
          "delete the capture if its corrected file is truly gone) before " +
          "starting a different rectification")
    } else if (exists(corpusDir)) {
      spark.read.parquet(corpusDir)
        .join(broadcast(derived.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          lit(batchBase).as("_batch"))
        .write.mode("overwrite").parquet(factsPath)
    }
    val factsOpt =
      if (exists(s"$factsPath/_SUCCESS")) Some(spark.read.parquet(factsPath))
      else None
    val nMatched = factsOpt.map(_.count()).getOrElse(0L)
    failpoint("facts-captured")

    val nCorpus =
      if (exists(corpusDir))
        Rectify.updateByKey(spark, corpusDir, derived, "doc_id")
      else 0L
    failpoint("corpus-updated")
    // heartbeat around the overlapped legs (Lease.renew scaladoc)
    graft.operators.Lease.renew(spark, outDir)

    // maintained per-source aggregate: the captured OLD facts out (min/max
    // rebuilt from the corpus MINUS the subjects) and the corrected facts
    // in, under ONE commit whose id runErase's `aggLags` reads; its steps
    // reach the failpoint as `agg-commit-<step>`
    val aggDir = s"$outDir/agg"
    def aggLeg(): Long = {
      val nAgg =
        if (exists(aggDir) && nMatched > 0) {
          import graft.operators.AggStore
          val facts = factsOpt.get
          val matchedIds = facts.select(col("doc_id")).distinct()
          val retained =
            if (exists(corpusDir))
              Some(spark.read.parquet(corpusDir)
                .join(broadcast(matchedIds), Seq("doc_id"), "left_anti")
                .select(col("source"), col("n_tokens")))
            else None
          val newFacts = facts.select(col("doc_id"), col("source"))
            .join(broadcast(derived.select(col("doc_id"), col("n_tokens"))),
              Seq("doc_id"))
          val tokens = col("n_tokens").cast("long")
          AggStore.rewrite(spark, aggDir, Seq("source"), AggBuckets,
            PartitionSwap.legBatchId(batchBase, "rectify-agg-merge"),
            removed = Some(AggStore.Removed(
              facts.select(col("source"), col("n_tokens")), tokens, retained)),
            added = Some(AggStore.aggregate(newFacts, Seq("source"), tokens)),
            beforeStep = step => failpoint(s"agg-commit-$step"))
        } else 0L
      failpoint("agg-updated")
      nAgg
    }

    // the store legs write disjoint roots and read only the corrected
    // file, the facts capture and the rewritten corpus — all settled
    // above — so they overlap (the runErase argument; Par scaladoc for
    // the failure semantics). Shard rows rectify in place, one leg per
    // batch directory.
    def ifExists(marker: String)(leg: => Long): Long =
      if (exists(s"$outDir/$marker")) leg else 0L
    val textOnly = derived.select(col("doc_id"), col("text"))
    val shardDirs =
      if (!exists(s"$outDir/shards")) Seq.empty
      else fs.listStatus(new org.apache.hadoop.fs.Path(s"$outDir/shards"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.toString).toSeq
    val legs = graft.operators.Par.run[Long](Seq(
      () => aggLeg(),
      () => ifExists("index/meta")(graft.dedup.Dedup.rectifyBandIndex(
        textOnly, "text", s"$outDir/index",
        Some(PartitionSwap.legBatchId(batchBase, "rectify-band")))),
      () => ifExists("search/stats")(graft.text.Bm25.rectifySearchIndex(
        spark, s"$outDir/search", textOnly, "doc_id", col("text"),
        Some(PartitionSwap.legBatchId(batchBase, "rectify-search")))),
      () => ifExists("exact/meta") {
        val sets = derived.select(col("doc_id"),
          array_distinct(transform(
            graft.dedup.Dedup.wordShingles(col("text"), 3), x => md5(x))).as("sh"))
        graft.dedup.SetSimJoin.rectifyIndex(spark, s"$outDir/exact", sets,
          "doc_id", "sh",
          Some(PartitionSwap.legBatchId(batchBase, "rectify-exact")))
      },
      () =>
        if (correctedRaw.columns.contains("embedding"))
          ifExists("dense/centroids")(graft.similarity.Ivf.rectifyIndex(
            spark, s"$outDir/dense",
            correctedRaw.select(col("doc_id"), col("embedding")),
            "doc_id", "embedding"))
        else 0L) ++
      shardDirs.map(d => () => Shards.rectifyByKey(
        spark, d, derived, "doc_id", orderCols = Seq("source"))))
    val Seq(nAgg, nBand, nSearch, nExact, nDense) = legs.take(5)
    val nShardRows = legs.drop(5).sum
    graft.operators.Lease.renew(spark, outDir)

    // sketch profile: the old text's contribution cannot be subtracted —
    // charge the same staleness ledger erasure charges, rebuild from the
    // (now corrected) corpus once past budget. A replayed crashed sweep
    // charges the ledger AGAIN (unlike erase, whose replay matches zero
    // rows): content replacement is idempotent so re-matched rows are
    // indistinguishable from first-time matches. The drift is
    // conservative — staleness only ever OVERcounts, triggering an
    // earlier rebuild, never hiding one
    var rebuilt = false
    val profDir = s"$outDir/profile"
    if (graft.sketch.ProfileStore.exists(spark, profDir)) {
      graft.sketch.ProfileStore.recordErasure(spark, profDir, nCorpus)
      if (graft.sketch.ProfileStore.isStale(spark, profDir, profileBudget) &&
          exists(corpusDir)) {
        graft.sketch.ProfileStore.rebuild(spark, profDir,
          spark.read.parquet(corpusDir),
          col("text"), col("n_tokens"), sourceCol = Some("source"))
        rebuilt = true
      }
    }
    val staleness = graft.sketch.ProfileStore.stalenessCount(spark, profDir)
    fs.delete(new org.apache.hadoop.fs.Path(factsPath), true)

    val s = RectifySummary(nRequested, nMatched, nCorpus, nBand, nSearch,
      nDense, nExact, nShardRows, nAgg, rebuilt, staleness)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(
      Paths.get(s"$outDir/rectify_report.json"),
      s"""{"n_requested":$nRequested,"n_matched":$nMatched,""" +
        s""""n_unmatched":${nRequested - nMatched},"n_corpus":$nCorpus,""" +
        s""""n_band_index":$nBand,"n_search_index":$nSearch,""" +
        s""""n_dense_index":$nDense,"n_exact_index":$nExact,""" +
        s""""n_shard_rows":$nShardRows,"n_agg_groups":$nAgg,""" +
        s""""profile_rebuilt":$rebuilt,"profile_staleness":$staleness}""" + "\n")
    s
  }

  /** The dead-letter-resubmit remap argument:
    * `badPurpose=slug[,badPurpose=slug...]`. A quarantined purpose is
    * malformed BY DEFINITION (that is why it was quarantined), so the
    * bad side may itself contain `=` — the split takes the LAST `=` of
    * each entry (the corrected slug can never contain one,
    * [[graft.operators.DeletionVectors.isSlug]]). A bad purpose
    * containing a COMMA cannot be expressed through the CLI argument —
    * use [[graft.policy.Consent.resubmitDeadLetter]] directly.
    */
  private[graft] def parseRemap(arg: String): Map[String, String] =
    arg.split(',').map { kv =>
      val i = kv.lastIndexOf('=')
      require(i > 0 && i < kv.length - 1,
        s"dead-letter-resubmit: malformed remap entry '$kv' " +
          "(want badPurpose=slug)")
      (kv.substring(0, i), kv.substring(i + 1))
    }.toMap

  /** Strip an optional `--model <dir> <minScore>` from the arg vector —
    * the stored-distilled-model gate ([[graft.text.LinearTextModel]])
    * applied inside the curation gates on both the batch and the
    * incremental paths.
    */
  private[graft] def parseModelArgs(args: Array[String]): (Array[String], Option[(String, Double)]) = {
    val i = args.indexOf("--model")
    if (i < 0) (args, None)
    else {
      require(args.length > i + 2,
        "usage: ... --model <modelDir> <minScore>")
      (args.patch(i, Nil, 3), Some((args(i + 1), args(i + 2).toDouble)))
    }
  }

  private def gateConfig(
      spark: SparkSession,
      model: Option[(String, Double)]
  ): CorpusPipeline.Config =
    model match {
      case None => CorpusPipeline.Config()
      case Some((dir, minScore)) =>
        CorpusPipeline.Config(modelGate =
          Some((graft.text.LinearTextModel.loadModel(spark, dir), minScore)))
    }

  /** Drift alert threshold for the `--hybrid` staleness audit — the
    * standard PSI "significant shift" cut (see [[graft.validate.Drift]]).
    */
  private val DriftAlertPsi = 0.2

  def main(rawArgs: Array[String]): Unit = {
    val (argsM, modelArgs) = parseModelArgs(rawArgs)
    // --consent <registryDir> <purpose>: gate admission + admission log
    val (args0, consentCfg) = {
      val i = argsM.indexOf("--consent")
      if (i < 0) (argsM, None)
      else {
        require(argsM.length > i + 2,
          "--consent needs <consentDir> <purpose>")
        (argsM.patch(i, Nil, 3),
          Some(ConsentGateCfg(argsM(i + 1), argsM(i + 2))))
      }
    }
    val withSearch = args0.contains("--search")
    val withHybrid = args0.contains("--hybrid")
    val withProfile = args0.contains("--profile")
    val withExact = args0.contains("--exact")
    val withAgg = args0.contains("--agg")
    val args = args0.filterNot(a =>
      a == "--search" || a == "--hybrid" || a == "--profile" ||
        a == "--exact" || a == "--agg")
    if (args.headOption.contains("access")) {
      require(args.length >= 4,
        "usage: CurateCli access <keys.parquet> <stateDir> <reportDir> " +
          "[--consent <consentDir>]")
      val ci = args.indexOf("--consent")
      val cd = if (ci >= 0 && args.length > ci + 1) Some(args(ci + 1)) else None
      val spark = Session("graft-curate")
      val s = runAccess(spark, args(1), args(2), args(3), cd)
      println(s"[curate] access keys=${s.nKeys} corpus_rows=${s.nCorpus} " +
        s"band=${s.nBand} search=${s.nSearch} dense=${s.nDense} " +
        s"exact=${s.nExact} shard_rows=${s.nShards} " +
        s"pending_logical_erasure=${s.nMaskedPending} " +
        s"consent_history_rows=${s.nConsentRows} " +
        s"purpose_masked=${s.nPurposeMasked} " +
        s"admission_rows=${s.nAdmissionRows}")
      spark.stop()
      return
    }
    if (args.headOption.contains("access-by-subject")) {
      require(args.length >= 5,
        "usage: CurateCli access-by-subject <subjects.parquet> " +
          "<mapping.parquet> <stateDir> <reportDir> [--consent <consentDir>]")
      val ci = args.indexOf("--consent")
      val cd = if (ci >= 0 && args.length > ci + 1) Some(args(ci + 1)) else None
      val spark = Session("graft-curate")
      val s = runAccessBySubject(spark, args(1), args(2), args(3), args(4), cd)
      println(s"[curate] access-by-subject docs=${s.nKeys} " +
        s"corpus_rows=${s.nCorpus} band=${s.nBand} search=${s.nSearch} " +
        s"dense=${s.nDense} exact=${s.nExact} shard_rows=${s.nShards} " +
        s"pending_logical_erasure=${s.nMaskedPending}")
      spark.stop()
      return
    }
    if (args.headOption.contains("consent-expire")) {
      require(args.length >= 3,
        "usage: CurateCli consent-expire <consentDir> <cutoffEpochMs>")
      val spark = Session("graft-curate")
      val n = graft.policy.Consent.expireVersions(spark, args(1), args(2).toLong)
      println(s"[consent-expire] superseded_versions_dropped=$n " +
        "(current verdicts untouched)")
      spark.stop()
      return
    }
    // dead-letter triage (the mechanism behind Fsck.consentCensus's
    // failing `dead_letter` check): list what is quarantined, resubmit a
    // batch under a purpose correction map, or deliberately purge
    if (args.headOption.contains("dead-letter")) {
      require(args.length >= 2, "usage: CurateCli dead-letter <consentDir>")
      val spark = Session("graft-curate")
      val rows = graft.policy.Consent.deadLetter(spark, args(1))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n"),
          sort_array(collect_set(col("purpose"))).as("purposes"))
        .orderBy("batch")
        .collect()
      if (rows.isEmpty) println("[dead-letter] nothing quarantined")
      else rows.foreach { r =>
        println(s"[dead-letter] batch=${r.getLong(0)} events=${r.getLong(1)} " +
          s"purposes=${r.getSeq[String](2).mkString(",")}")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("dead-letter-resubmit")) {
      require(args.length >= 4,
        "usage: CurateCli dead-letter-resubmit <consentDir> <batch> " +
          "<badPurpose=slug[,badPurpose=slug...]> [--state <stateDir>]")
      val si = args.indexOf("--state")
      val sd = if (si >= 0 && args.length > si + 1) Some(args(si + 1)) else None
      val remap = parseRemap(args(3))
      val spark = Session("graft-curate")
      val n = graft.policy.Consent.resubmitDeadLetter(
        spark, args(1), args(2).toLong, remap, stateDir = sd)
      println(s"[dead-letter] resubmitted=$n from batch=${args(2)} " +
        "(quarantine dir dropped)")
      spark.stop()
      return
    }
    if (args.headOption.contains("dead-letter-purge")) {
      require(args.length >= 3,
        "usage: CurateCli dead-letter-purge <consentDir> <batch|all>")
      val spark = Session("graft-curate")
      val b = if (args(2) == "all") None else Some(args(2).toLong)
      val n = graft.policy.Consent.purgeDeadLetter(spark, args(1), b)
      println(s"[dead-letter] purged_batch_dirs=$n (deliberate drop — " +
        "these events never reached the registry)")
      spark.stop()
      return
    }
    if (args.headOption.contains("fsck")) {
      require(args.length >= 2,
        "usage: CurateCli fsck <stateDir> [--consent <consentDir>] " +
          "[--ledger <ledgerDir>]")
      val spark = Session("graft-curate")
      // --consent <dir> / --ledger <dir>: the registry and the DP
      // ledger live NEXT TO the state root, not under it, so the state
      // walk cannot discover them — the operator names them and the
      // audit adds the registry census (version bulk, dead-letter
      // quarantine) and the ledger census (per-dataset spend, torn
      // charges)
      val ci = args.indexOf("--consent")
      val consentChecks =
        if (ci >= 0 && args.length > ci + 1)
          graft.operators.Fsck.consentCensus(spark, args(ci + 1))
        else Seq.empty
      val li = args.indexOf("--ledger")
      val ledgerChecks =
        if (li >= 0 && args.length > li + 1)
          graft.operators.Fsck.ledgerCensus(spark, args(li + 1))
        else Seq.empty
      val checks = graft.operators.Fsck.state(spark, args(1)) ++
        consentChecks ++ ledgerChecks
      checks.foreach(c => println(
        s"[fsck] ${c.component}.${c.check} " +
          s"${if (c.ok) "OK" else "FAIL"} ${c.detail}"))
      val bad = checks.count(!_.ok)
      Files.createDirectories(Paths.get(args(1)))
      Files.writeString(
        Paths.get(s"${args(1)}/fsck_report.json"),
        checks.map(c =>
          s"""{"component":${Json.str(c.component)},"check":${Json.str(c.check)},""" +
            s""""ok":${c.ok},"detail":${Json.str(c.detail)}}""")
          .mkString("[", ",", "]") + "\n")
      println(s"[fsck] ${checks.size} checks, $bad failed")
      spark.stop()
      if (bad > 0) sys.exit(1)
      return
    }
    if (args.headOption.contains("erase-logical")) {
      require(args.length >= 3,
        "usage: CurateCli erase-logical <keys.parquet> <stateDir>")
      val spark = Session("graft-curate")
      val (n, dirs) = runEraseLogical(spark, args(1), args(2))
      println(s"[curate] erase-logical keys=$n pending_vectors=$dirs " +
        "(serving masked now; run erase-settle to purge physically)")
      spark.stop()
      return
    }
    if (args.headOption.contains("erase-by-subject")) {
      require(args.length >= 4,
        "usage: CurateCli erase-by-subject <subjects.parquet> " +
          "<mapping.parquet> <stateDir> [profileBudget]")
      val budget = if (args.length > 4) args(4).toLong else 0L
      val spark = Session("graft-curate")
      val s = runEraseBySubject(spark, args(1), args(2), args(3), budget)
      println(s"[curate] erase-by-subject docs=${s.nKeys} " +
        s"corpus=${s.nCorpus} band=${s.nBand} search=${s.nSearch} " +
        s"dense=${s.nDense} exact=${s.nExact} shard_rows=${s.nShards}")
      spark.stop()
      return
    }
    if (args.headOption.contains("erase-logical-by-subject")) {
      require(args.length >= 4,
        "usage: CurateCli erase-logical-by-subject <subjects.parquet> " +
          "<mapping.parquet> <stateDir>")
      val spark = Session("graft-curate")
      val (n, dirs) =
        runEraseLogicalBySubject(spark, args(1), args(2), args(3))
      println(s"[curate] erase-logical-by-subject docs=$n " +
        s"pending_vectors=$dirs (serving masked now)")
      spark.stop()
      return
    }
    if (args.headOption.contains("consent-audit")) {
      require(args.length >= 5,
        "usage: CurateCli consent-audit <stateDir> <consentDir> " +
          "<purpose> <reportDir>")
      val spark = Session("graft-curate")
      val s = runConsentAudit(spark, args(1), args(2), args(3), args(4))
      println(s"[curate] consent-audit purpose=${args(3)} " +
        s"admissions=${s.nAdmissions} violations=${s.nViolations}")
      spark.stop()
      if (s.nViolations > 0) sys.exit(2)
      return
    }
    if (args.headOption.contains("break-lease")) {
      require(args.length >= 2, "usage: CurateCli break-lease <stateDir>")
      val spark = Session("graft-curate")
      val had = graft.operators.Lease.read(spark, args(1))
      val broke = graft.operators.Lease.break(spark, args(1))
      println(had match {
        case Some(i) if broke =>
          s"[curate] break-lease: released ${i.holder}'s '${i.verb}' lease " +
            s"(held ${System.currentTimeMillis() - i.stampMs} ms)"
        case _ if broke => "[curate] break-lease: released an unreadable lease"
        case _ => "[curate] break-lease: no lease held"
      })
      spark.stop()
      return
    }
    if (args.headOption.contains("erase-settle")) {
      require(args.length >= 2, "usage: CurateCli erase-settle <stateDir>")
      val spark = Session("graft-curate")
      runEraseSettle(spark, args(1)) match {
        case None => println("[curate] erase-settle: no pending vectors")
        case Some(s) => println(
          s"[curate] erase-settle keys=${s.nKeys} corpus=${s.nCorpus} " +
            s"band=${s.nBand} search=${s.nSearch} dense=${s.nDense} " +
            s"exact=${s.nExact} shards=${s.nShards} agg=${s.nAggGroups}")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("records-expire")) {
      require(args.length >= 3,
        "usage: CurateCli records-expire <stateDir> <cutoffEpochMs>")
      val spark = Session("graft-curate")
      val (nAdm, nRes) = runRecordsExpire(spark, args(1), args(2).toLong)
      println(s"[records-expire] admission_batch_dirs=$nAdm " +
        s"resolve_captures=$nRes")
      spark.stop()
      return
    }
    if (args.headOption.contains("compact-vectors")) {
      require(args.length >= 2,
        "usage: CurateCli compact-vectors <stateDir>")
      val spark = Session("graft-curate")
      val trees = runCompactVectors(spark, args(1))
      trees.foreach { case (scope, b, a) =>
        println(s"[compact-vectors] $scope vectors $b -> $a")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("compact")) {
      require(args.length >= 2, "usage: CurateCli compact <stateDir> [targetMB]")
      val target =
        if (args.length > 2) args(2).toLong << 20 else 128L << 20
      val spark = Session("graft-curate")
      val legs = runCompact(spark, args(1), target)
      legs.foreach { case (leg, b, a) =>
        println(s"[compact] $leg files $b -> $a")
      }
      Files.createDirectories(Paths.get(args(1)))
      Files.writeString(
        Paths.get(s"${args(1)}/compact_report.json"),
        legs.map { case (leg, b, a) =>
          s"""{"leg":${Json.str(leg)},"files_before":$b,"files_after":$a}"""
        }.mkString("[", ",", "]") + "\n")
      spark.stop()
      return
    }
    if (args.headOption.contains("retention")) {
      require(args.length >= 3,
        "usage: CurateCli retention <stateDir> <keepBatches> [profileBudget]")
      val budget = if (args.length > 3) args(3).toLong else 0L
      val spark = Session("graft-curate")
      val s = runRetention(spark, args(1), args(2).toInt, budget)
      println(s"[curate] retention expired_batches=${s.nBatchesExpired} " +
        s"expired_docs=${s.nDocsExpired} corpus=${s.erase.nCorpus} " +
        s"profile_rebuilt=${s.erase.profileRebuilt}")
      spark.stop()
      if (s.erase.profileStaleness > budget) sys.exit(2)
      return
    }
    if (args.headOption.contains("rectify")) {
      require(args.length >= 3,
        "usage: CurateCli rectify <corrected.parquet> <stateDir> [profileBudget]")
      val budget = if (args.length > 3) args(3).toLong else 0L
      val spark = Session("graft-curate")
      val s = runRectify(spark, args(1), args(2), budget)
      println(s"[curate] rectify requested=${s.nRequested} matched=${s.nMatched} " +
        s"corpus=${s.nCorpus} band=${s.nBand} search=${s.nSearch} " +
        s"dense=${s.nDense} exact=${s.nExact} shard_rows=${s.nShards} " +
        s"agg_groups=${s.nAggGroups} profile_rebuilt=${s.profileRebuilt} " +
        s"profile_staleness=${s.profileStaleness}")
      spark.stop()
      if (s.profileStaleness > budget) sys.exit(2)
      return
    }
    if (args.headOption.contains("erase")) {
      require(args.length >= 3,
        "usage: CurateCli erase <keys.parquet> <stateDir> [profileBudget]")
      val budget = if (args.length > 3) args(3).toLong else 0L
      val spark = Session("graft-curate")
      val s = runErase(spark, args(1), args(2), budget)
      println(s"[curate] erase keys=${s.nKeys} corpus=${s.nCorpus} " +
        s"band=${s.nBand} search=${s.nSearch} dense=${s.nDense} " +
        s"exact=${s.nExact} shard_rows=${s.nShards} " +
        s"profile_rebuilt=${s.profileRebuilt} profile_staleness=${s.profileStaleness}")
      spark.stop()
      // a profile still stale after the sweep (no corpus to rebuild from)
      // is a compliance telemetry hole — distinct exit code
      if (s.profileStaleness > budget) sys.exit(2)
      return
    }
    if (args.headOption.contains("incremental")) {
      require(args.length >= 3,
        "usage: CurateCli incremental <batch.parquet> <stateDir> [nShards] " +
          "[--model <dir> <minScore>] [--search] [--hybrid] [--profile] " +
          "[--exact] [--agg]")
      val nShards = if (args.length > 3) args(3).toInt else 64
      val spark = Session("graft-curate")
      val s = runIncremental(spark, args(1), args(2), nShards,
        cfg = gateConfig(spark, modelArgs), searchIndex = withSearch,
        hybridIndex = withHybrid, profileStats = withProfile,
        exactIndex = withExact, aggStats = withAgg, consent = consentCfg)
      println(s"[curate] batch=${s.batch} in=${s.nIn} kept=${s.nKept} " +
        s"fresh=${s.nFresh} dup_of_corpus=${s.nDupOfCorpus} " +
        s"shards=${s.nShards} audit_ok=${s.auditOk} compacted=${s.corpusCompacted}" +
        (if (consentCfg.nonEmpty) s" consent_denied=${s.nConsentDenied}" else "") +
        s.driftPsi.map(p => s" drift_psi=$p").getOrElse("") +
        s.profileDistinctEst.map(e => s" profile_distinct_est=$e").getOrElse("") +
        s.exactOrderDrift.map(d => s" exact_order_drift=$d").getOrElse(""))
      spark.stop()
      if (!s.auditOk) sys.exit(1)
      // stale dense index: data landed fine (distinct exit code), but the
      // centroids no longer match incoming data — re-train before serving
      if (s.driftPsi.exists(_ > DriftAlertPsi)) sys.exit(2)
      return
    }
    require(args.length >= 2,
      "usage: CurateCli <documents.parquet> <outDir> [nShards] [--model <dir> <minScore>]")
    val nShards = if (args.length > 2) args(2).toInt else 64
    val spark = Session("graft-curate")
    val s = run(spark, args(0), args(1), nShards,
      cfg = gateConfig(spark, modelArgs))
    println(s"[curate] in=${s.nIn} kept=${s.nKept} shards=${s.nShards} audit_ok=${s.auditOk}")
    spark.stop()
    if (!s.auditOk) sys.exit(1)
  }
}
