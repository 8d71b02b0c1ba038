package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.masking.MaskModel
import graft.policy.{ColumnPolicy, EngineConfig}

/** Structured Streaming surface of the engine.
  *
  * The reference is batch-only (SURVEY.md §2.6: "Streaming: none"), but the
  * same policy-driven masking applies unchanged to streams because
  * [[MaskModel.maskModel]] is a narrow schema-driven projection — a streaming
  * DataFrame goes through the identical `Column` expressions. On top of that
  * this module adds the standard streaming analytics a pipeline needs:
  * watermarked windowed aggregation and stateful sessionization.
  *
  * Scale notes: masking adds no state; windowed aggs keep state bounded by
  * the watermark; sessionization state is per-key and evicted via event-time
  * timeout — all shapes that run on a 1000-executor cluster with
  * checkpointing and no driver-side accumulation.
  */
object StreamingPipeline {

  /** Policy-driven masking on a streaming DataFrame — identical semantics to
    * the batch pipeline (stateless, watermark-preserving).
    */
  def anonymizeStream(
      stream: DataFrame,
      policies: Map[String, ColumnPolicy],
      cfg: EngineConfig = EngineConfig()
  ): DataFrame =
    MaskModel.maskModel(stream, policies, cfg)

  /** Watermarked tumbling-window counts/sums per event type
    * (append-mode-compatible: late data beyond the watermark is dropped).
    */
  def hourlyEventStats(
      events: DataFrame,
      tsCol: String = "ts",
      watermark: String = "1 hour",
      windowLength: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("total_value")
      )

  /** Streaming HLL distinct sketch: per event-time window, the
    * `(bucket, r)` rows of a [[graft.sketch.Hll]] sketch over `value` —
    * the live leg of the profile store. The bucket/rho computation is the
    * SAME per-row column algebra the batch sketch uses
    * ([[graft.sketch.Hll.bucketRho]]), so a window's streamed sketch is
    * bit-identical to batch-sketching the same rows: estimates, merges
    * into [[graft.sketch.ProfileStore]], and cross-window roll-ups
    * (union+max) all behave exactly as in batch.
    *
    * Emitting the SKETCH rather than the estimate keeps this a single
    * stateful aggregation (state ≤ 2^p rows per window, watermark-
    * bounded) and keeps the output mergeable — an estimate-per-window
    * stream could never be combined into "distinct users this week"
    * without recounting; sketch rows can.
    */
  def distinctSketchStream(
      stream: DataFrame,
      value: Column,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes",
      p: Int = graft.sketch.Hll.DefaultP
  ): DataFrame = {
    val (bucket, rho) = graft.sketch.Hll.bucketRho(value, p)
    stream
      .withWatermark(tsCol, watermark)
      .filter(value.isNotNull)
      .groupBy(window(col(tsCol), windowLength), bucket.as("bucket"))
      .agg(max(rho).as("r"))
  }

  /** Streaming HDR histogram: per event-time window, the `(idx, cnt)`
    * buckets of a [[graft.sketch.HdrHistogram]] over `value` — same
    * integer bit-length bucket algebra as batch, so windowed histograms
    * merge into stored ones by bucketwise sum and quantile reads behave
    * exactly as in batch. Completes the mergeable-sketch stream family
    * (distinct: HLL, frequency: CMS, distribution: HDR): per-window
    * latency/length/price quantiles that roll up across windows with
    * state bounded by buckets-per-window, never values-per-window.
    */
  def histogramSketchStream(
      stream: DataFrame,
      value: Column,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes",
      subBits: Int = graft.sketch.HdrHistogram.DefaultSubBits
  ): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .filter(value.isNotNull && value >= 0.0)
      .groupBy(window(col(tsCol), windowLength),
        graft.sketch.HdrHistogram.bucketIdx(value, subBits).as("idx"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming count-min sketch: per event-time window, the
    * `(row, bucket, cnt)` cells of a [[graft.sketch.Cms]] sketch over
    * `value` — the frequency twin of [[distinctSketchStream]], with the
    * same contract: identical cell layout to the batch sketch (same
    * seeded md5 hashes), so windowed cells merge into stored sketches by
    * cellwise sum and point-frequency estimates behave exactly as in
    * batch. State is ≤ d·w rows per window, watermark-bounded. The
    * monitoring use: per-window token/event frequencies that can be
    * rolled up across windows WITHOUT keeping one shuffle row per
    * distinct value alive in the stream.
    */
  def frequencySketchStream(
      stream: DataFrame,
      value: Column,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes",
      d: Int = graft.sketch.Cms.DefaultD,
      w: Int = graft.sketch.Cms.DefaultW
  ): DataFrame = {
    stream
      .withWatermark(tsCol, watermark)
      .filter(value.isNotNull)
      .select(col(tsCol),
        explode(graft.sketch.Cms.cellStructs(value, d, w)).as("e"))
      .groupBy(window(col(tsCol), windowLength),
        col("e.row").as("row"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming corpus-quality monitor: watermarked per-window, per-source
    * aggregates of the single-pass text signals ([[graft.text.TextAnalysis
    * .textStats]]) — ingest rate, token throughput, mean quality score and
    * the low-quality fraction. This is the live gate a training-data intake
    * runs in front of the batch pipeline: a collapsing quality score or a
    * token-rate spike on one source shows up within a window, not at the
    * next batch job.
    *
    * State is one row per (window, source) bounded by the watermark; the
    * quality expressions are the SAME codegen'd columns the batch corpus
    * pipeline uses, so stream and batch can never disagree on what
    * "low quality" means.
    */
  def qualityMonitor(
      docsStream: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes",
      lowQuality: Double = 0.5
  ): DataFrame = {
    import graft.text.TextAnalysis
    // working columns must not capture caller columns (SequencePacker rule)
    require(
      !docsStream.columns.contains("_st") && !docsStream.columns.contains("_q"),
      "qualityMonitor: input must not already have `_st`/`_q` columns")
    docsStream
      .withWatermark(tsCol, watermark)
      .withColumn("_st", TextAnalysis.textStats(col(textCol)))
      // NULL text is the WORST quality, not invisible. The guard must be
      // explicit on the text column: the score formula's least/greatest
      // SKIP null operands (Spark semantics), so a null-stats row scores
      // 0.9 — a broken upstream emitting null text would read as pristine
      // and the gate this monitor exists to be would stay green
      .withColumn("_q",
        when(col(textCol).isNull, lit(0.0))
          .otherwise(TextAnalysis.qualityScoreOfStats(col("_st"))))
      .groupBy(window(col(tsCol), windowLength), col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCountOfStats(col("_st"))).as("n_tokens"),
        avg(col("_q")).as("mean_quality"),
        avg(when(col("_q") < lowQuality, 1.0).otherwise(0.0))
          .as("low_quality_frac")
      )
  }

  /** Distilled-model gate on a stream: score each document with a
    * [[graft.text.LinearTextModel]] trained offline (typically loaded via
    * `loadModel`) and keep rows at or above `minScore`, carrying the
    * score as `model_score` evidence.
    *
    * The score is a pure narrow expression (broadcast-literal weights),
    * so this adds NO state, no watermark requirement, and no shuffle to
    * the stream — it composes in front of any landing sink or monitor.
    * Train batch on a sample, gate the live feed: the streaming twin of
    * `CorpusPipeline`'s `modelGate`, sharing the same scoring expression
    * so stream and batch can never disagree on what "low quality" means.
    */
  def modelGateStream(
      docsStream: DataFrame,
      model: graft.text.LinearTextModel.Model,
      minScore: Double,
      textCol: String = "text"
  ): DataFrame = {
    require(!docsStream.columns.contains("model_score"),
      "modelGateStream: input must not already have a `model_score` column")
    docsStream
      .withColumn("model_score",
        graft.text.LinearTextModel.score(col(textCol), model))
      .filter(col("model_score") >= minScore)
  }

  /** Streaming distribution-drift monitor: per-window PSI of a bucketed
    * feature against a fixed reference histogram — the live twin of
    * [[graft.validate.Drift.psiByBucket]] (same add-0.5 smoothing over the
    * same fixed domain, so stream and batch can never disagree on what
    * "drifted" means).
    *
    * PSI needs every bucket of a window at once, which would be a second
    * aggregation over the windowed counts — illegal in one streaming query.
    * Instead the whole histogram is built inside ONE aggregation as
    * `domainSize` conditional counts (the domain is fixed and small by
    * contract), and the PSI fold is plain column arithmetic on that row.
    * State: one row per window, bounded by the watermark.
    *
    * Rows whose bucket is null or outside [0, domainSize) are NOT silently
    * dropped — they count into `n_docs` and surface as `n_unbucketed`
    * (a malformed feature upstream is exactly what a drift monitor must
    * show, same lesson as the null-text quality gate).
    *
    * @param refCounts reference histogram (index = bucket), e.g. from the
    *                  last accepted batch snapshot
    */
  def driftMonitor(
      stream: DataFrame,
      bucketCol: Column,
      refCounts: Seq[Long],
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes"
  ): DataFrame = {
    val d = refCounts.length
    require(d > 0, "driftMonitor: reference histogram must be non-empty")
    require(!stream.columns.contains("_bucket"),
      "driftMonitor: input must not already have a `_bucket` column")
    val refTot = refCounts.sum
    val cntAggs = (0 until d).map(i =>
      sum(when(col("_bucket") === i, 1L).otherwise(0L)).as(s"_cnt_$i"))
    val agged = stream
      .withWatermark(tsCol, watermark)
      .withColumn("_bucket", bucketCol)
      .groupBy(window(col(tsCol), windowLength))
      .agg(count(lit(1)).as("n_docs"), cntAggs: _*)
    // p is a distribution over the BUCKETED rows (matching psiByBucket on a
    // clean slice); unbucketed rows are reported, not mixed into p
    val bucketed = (0 until d).map(i => col(s"_cnt_$i")).reduce(_ + _)
    val psi = (0 until d).map { i =>
      val p = (col(s"_cnt_$i") + 0.5) / (bucketed + 0.5 * d)
      val q = lit((refCounts(i) + 0.5) / (refTot + 0.5 * d))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    agged.select(
      col("window"),
      col("n_docs"),
      (col("n_docs") - bucketed).as("n_unbucketed"),
      psi.as("psi"))
  }

  /** Streaming exact dedup by content hash, watermark-bounded.
    *
    * `dropDuplicatesWithinWatermark` keys state on md5(text) and evicts
    * entries once the watermark passes — the streaming twin of
    * [[graft.dedup.Dedup.exactDedup]] with state bounded by the watermark
    * horizon instead of growing with the corpus (the unbounded-state
    * `dropDuplicates` variant would OOM a long-running 100 TB ingest).
    * Duplicates separated by more than the watermark delay can reappear;
    * that residue is the batch dedup's job downstream.
    */
  def dedupStream(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "1 hour"
  ): DataFrame =
    docs
      .withColumn("_text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_text_hash")
      .drop("_text_hash")

  /** Streaming incremental dedup: flag stream documents that near-duplicate
    * a STATIC corpus — the live twin of
    * [[graft.dedup.Dedup.dedupAgainstCorpus]] for ingest-time filtering
    * (drop a crawl page the corpus already has BEFORE it costs storage).
    *
    * The stream side computes its MinHash bands as pure per-row
    * expressions ([[graft.dedup.Dedup.minhashSignature]] — value-identical
    * to the batch `minhashMins`, no aggregation, so no streaming state),
    * explodes them, and STREAM-STATIC joins the corpus band index; shared-
    * band candidates verify with exact distinct-shingle Jaccard against
    * the static shingle sets. Emits every (stream doc, corpus doc) match
    * with jaccard >= threshold; the final `dropDuplicates` collapses a
    * pair meeting in several bands and keeps its state watermark-bounded
    * (tsCol is part of the key). At 100 TB the two static sides are
    * precomputed parquet (the band index IS [[graft.dedup.Dedup.bandIndex]]'s
    * output) and the joins broadcast or bucket on the static side.
    */
  def dedupAgainstIndexStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "1 hour",
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7
  ): DataFrame = {
    import graft.dedup.Dedup
    dedupAgainstIndexStream(
      stream,
      Dedup.buildBandIndex(corpus, idCol, textCol, shingleK, numHashes, bands),
      textCol, tsCol, watermark, threshold)
  }

  /** [[dedupAgainstIndexStream]] against a PREBUILT (typically
    * [[graft.dedup.Dedup.loadBandIndex]]-loaded) corpus index: the static
    * sides are parquet reads of the stored band table and shingle sets —
    * no corpus re-scan or re-shingling per restart, the production shape
    * the inline overload builds ad hoc.
    */
  def dedupAgainstIndexStream(
      stream: DataFrame,
      index: graft.dedup.Dedup.BandIndex,
      textCol: String,
      tsCol: String,
      watermark: String,
      threshold: Double
  ): DataFrame = {
    import graft.dedup.Dedup
    val idCol = index.idCol
    val (shingleK, numHashes, bands) = (index.shingleK, index.numHashes, index.numBands)
    val bandTable = index.bands.withColumnRenamed(idCol, "corpus_id")
    val corpusSh = index.shingles
      .select(col(idCol).as("corpus_id"), col("shingles").as("_sh_corpus"))
    val rows = numHashes / bands
    val bandCols = array((0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r =>
          element_at(col("_sig"), b * rows + r + 1).cast("string")): _*))
    }: _*)
    stream
      .withWatermark(tsCol, watermark)
      .withColumn("_sig",
        Dedup.minhashSignature(Dedup.wordShingles(col(textCol), shingleK), numHashes))
      .withColumn("_sh", Dedup.shingleSet(col(textCol), shingleK))
      .select(col(idCol), col(tsCol), col("_sh"),
        posexplode(bandCols).as(Seq("band", "hash")))
      .join(bandTable, Seq("band", "hash"))
      .join(corpusSh, "corpus_id")
      .select(col(idCol), col(tsCol), col("corpus_id"),
        Dedup.jaccard(col("_sh"), col("_sh_corpus")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates(idCol, tsCol, "corpus_id")
  }

  /** Streaming PII-discovery monitor: watermarked per-window counts of
    * values that LOOK like raw PII (email / FR phone / street address) in
    * the monitored columns — the live twin of
    * [[graft.validate.Validate.piiDiscovery]], using the SAME lookahead-free
    * patterns, so stream and batch can never disagree on what "looks like
    * PII". This is the alarm a masking pipeline runs on its OUTPUT: any
    * non-zero count means a policy gap or a regression upstream.
    *
    * State: one row per (window, column) via a stateless windowed
    * aggregation — the per-column counts are conditional aggregates, and
    * the row explosion to one-row-per-column happens BEFORE the groupBy so
    * the whole thing stays one watermark-bounded aggregation.
    */
  def piiMonitor(
      stream: DataFrame,
      cols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes"
  ): DataFrame = {
    import graft.text.TextAnalysis
    import graft.validate.Validate
    require(cols.nonEmpty, "piiMonitor needs at least one column")
    val perCol = cols.map(c =>
      struct(
        lit(c).as("col_name"),
        col(c).isNotNull.as("_nn"),
        col(c).rlike(TextAnalysis.RedactEmailPattern).as("_e"),
        col(c).rlike(TextAnalysis.RedactPhonePattern).as("_p"),
        col(c).rlike(Validate.DiscoveryAddressPattern).as("_a")
      ))
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(array(perCol: _*)).as("r"))
      .groupBy(window(col(tsCol), windowLength), col("r.col_name"))
      .agg(
        count(when(col("r._nn"), 1)).as("n_nonnull"),
        count(when(col("r._e"), 1)).as("n_email"),
        count(when(col("r._p"), 1)).as("n_phone"),
        count(when(col("r._a"), 1)).as("n_address")
      )
  }

  /** Windowed anonymity monitor — the streaming twin of the batch
    * k-anonymity ([[graft.validate.Validate.kAnonymityViolations]]) and
    * distinct-l-diversity ([[graft.validate.Privacy.lDiversityAudit]])
    * audits: per (window, quasi-identifier group), the group size and the
    * number of distinct sensitive values, with `k_ok` / `l_ok` verdicts —
    * the intake gate that catches a disclosive release BEFORE a window is
    * published.
    *
    * ONE watermark-bounded aggregation (streaming allows no second
    * aggregation level, so the distinct census rides in a `collect_set`
    * whose size is bounded by the sensitive ALPHABET — categorical by the
    * same contract as the batch t-closeness grid). NULL sensitive values
    * are excluded, matching the batch audits.
    */
  def anonymityMonitor(
      stream: DataFrame,
      qi: Column,
      sensitive: Column,
      k: Int = 5,
      l: Int = 3,
      tsCol: String = "ts",
      watermark: String = "10 minutes",
      windowLength: String = "5 minutes"
  ): DataFrame = {
    require(k >= 1 && l >= 1, s"anonymityMonitor: k and l must be >= 1, got k=$k l=$l")
    stream
      .filter(sensitive.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), qi.as("qi"))
      .agg(
        count(lit(1)).as("group_size"),
        size(collect_set(sensitive)).as("distinct_sensitive"))
      .withColumn("k_ok", col("group_size") >= k)
      .withColumn("l_ok", col("distinct_sensitive") >= l)
  }

  // ---- stateful sessionization ------------------------------------------

  final case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double
  )

  final case class SessionState(
      start: Long,
      lastSeen: Long,
      nEvents: Long,
      totalValue: Double
  )

  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double
  )

  /** Date-partitioned, CHECKPOINTED parquet landing sink — the bronze-layer
    * ingest pattern: the file sink's `_spark_metadata` commit log gives
    * exactly-once file semantics (a restarted query resumes from the
    * checkpoint and never re-lands a committed batch), and the
    * `event_date=` layout is the partition-pruned shape LayoutSpec pins
    * for downstream reads. `Trigger.AvailableNow` drains what is available
    * and stops — the incremental-batch ingest cadence; pass a different
    * trigger for continuous landing.
    *
    * `event_date` is `to_date(ts)` in the SESSION TIME ZONE: the layout is
    * deterministic only under a pinned zone (this repo pins UTC) — a zone
    * change between runs would split one logical day across partitions.
    *
    * Readers MUST go through `spark.read.parquet(dir)` (which honors the
    * sink's commit log); listing the directory by hand would see
    * uncommitted task files.
    */
  def sinkDatePartitionedParquet(
      stream: DataFrame,
      dir: String,
      checkpoint: String,
      tsCol: String = "ts",
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    // case-INsensitive guard: withColumn resolves case-insensitively under
    // the default spark.sql.caseSensitive=false, so an `Event_Date` column
    // would be silently REPLACED if only an exact-case check stood here
    require(!stream.columns.exists(_.equalsIgnoreCase("event_date")),
      "sink: input must not already have an `event_date` column")
    stream
      .withColumn("event_date", to_date(col(tsCol)))
      .writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .start()
  }

  /** Watermarked stream-stream attribution join: each `convert` event
    * matches the `impress` events of the SAME key that happened within
    * `attributionWindow` BEFORE it. State on both sides is bounded by the
    * watermarks plus the time-range condition — Spark evicts an
    * impression once no in-flight conversion can still reach back to it
    * — so this runs indefinitely with finite state on any number of
    * executors (the canonical micro-batch stream-stream inner join;
    * without the range bound the state would be unbounded and Spark
    * rejects the plan in append mode).
    *
    * Inputs need columns (`keyCol`, `ts`, `event_id`); output one row per
    * (impression, conversion) pair with the attribution latency.
    */
  def attributionJoin(
      impressions: DataFrame,
      conversions: DataFrame,
      keyCol: String,
      attributionWindow: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame = {
    val imp = impressions
      .withWatermark("ts", watermark)
      .select(
        col(keyCol).as("imp_k"),
        col("ts").as("imp_ts"),
        col("event_id").as("imp_id"))
    val conv = conversions
      .withWatermark("ts", watermark)
      .select(
        col(keyCol).as("conv_k"),
        col("ts").as("conv_ts"),
        col("event_id").as("conv_id"))
    imp
      .join(
        conv,
        expr(s"""
          imp_k = conv_k AND
          imp_ts <= conv_ts AND
          conv_ts <= imp_ts + interval $attributionWindow"""))
      .select(
        col("imp_k").as(keyCol),
        col("imp_id"),
        col("conv_id"),
        col("imp_ts"),
        col("conv_ts"),
        (unix_timestamp(col("conv_ts")) - unix_timestamp(col("imp_ts")))
          .as("latency_s"))
  }

  /** Streaming maintenance of the [[graft.operators.EventStatsStore]]
    * anomaly baseline: each micro-batch folds into per-key hourly counts
    * (a batch-local aggregation — counts for the same hour across
    * micro-batches SUM in the store merge, so no streaming state is
    * held) and merges into the day-partitioned store. Exactly-once via
    * the store's batchId markers: a replayed epoch after a crash is a
    * no-op, never a double-add.
    */
  def hourlyStatsStoreSink(
      stream: DataFrame,
      storeDir: String,
      checkpoint: String,
      keyCols: Seq[String],
      tsCol: String = "ts",
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-micro-batch writer lease (VERDICT r11: the streaming
        // mutators held none — a cron'd maintenance verb interleaving
        // with a live stream was the exact silent-corruption scenario
        // the lease detects); the acquire re-stamps every batch, which
        // doubles as the long-running stream's heartbeat
        graft.operators.Lease
          .withLease(batch.sparkSession, storeDir, "stream-hourly-stats") {
          val hourly = graft.operators.Anomaly.hourlyCounts(batch, tsCol, keyCols)
          graft.operators.EventStatsStore.merge(
            batch.sparkSession, storeDir, hourly, keyCols, batchId)
        }
      }
      .start()

  /** Streaming maintenance of the [[graft.operators.AggStore]]
    * materialized aggregate: each micro-batch folds into per-group
    * algebraic states (batch-local aggregation, no streaming state) and
    * merges into the bucketed store — same-group states combine
    * associatively, so the served aggregate equals a one-shot groupBy
    * over everything ever streamed. Exactly-once via the store's
    * epoch-id markers ([[graft.operators.PartitionSwap]]): count/sum
    * merges are not idempotent, a replayed epoch is a no-op.
    */
  def aggStoreSink(
      stream: DataFrame,
      storeDir: String,
      checkpoint: String,
      groupCols: Seq[String],
      valueCol: String,
      buckets: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.AggStore
        graft.operators.Lease
          .withLease(batch.sparkSession, storeDir, "stream-agg-store") {
          AggStore.merge(batch.sparkSession, storeDir,
            AggStore.aggregate(batch, groupCols, col(valueCol)),
            groupCols, buckets, batchId)
        }
      }
      .start()

  /** Streaming maintenance of the bucketed SCD-2 record store
    * ([[graft.pipeline.Snapshot]]) — the persistence-family member that
    * still lacked a streaming twin (band index / BM25 / IVF / exact
    * index ride the incremental CLI; the hourly stats store has
    * [[hourlyStatsStoreSink]]). Each micro-batch merges through
    * [[graft.pipeline.Snapshot.mergeStore]], touching only the buckets
    * the batch hashes into; the first epoch bootstraps via
    * [[graft.pipeline.Snapshot.writeStore]].
    *
    * Replay safety WITHOUT markers: the timestamp strategy drops
    * re-delivered (key, updated_at) duplicates inside the merge
    * (applyTimestampStrategy's dropDuplicates), so re-merging an
    * already-applied epoch is value-idempotent — unlike the count
    * stores, where replays double-add and markers are load-bearing.
    * Crash safety inside one merge is the store's own dirty-marker
    * stage/swap protocol.
    */
  def snapshotStoreSink(
      stream: DataFrame,
      storeDir: String,
      checkpoint: String,
      uniqueKey: String,
      updatedAt: String,
      buckets: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.pipeline.Snapshot
        val spark = batch.sparkSession
        // an empty epoch contributes nothing and must not bootstrap: a
        // partitionBy write of zero rows emits NO files and later merges
        // would die on schema inference (the AggStore bootstrap lesson)
        if (!batch.isEmpty)
          graft.operators.Lease
            .withLease(spark, storeDir, "stream-snapshot") {
            val dir = new org.apache.hadoop.fs.Path(storeDir)
            val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            // store presence judged by bucket content, not the path: the
            // lease file itself creates the directory
            val hasStore = fs.exists(dir) && fs.listStatus(dir)
              .exists(st => st.getPath.getName.startsWith("bucket=") ||
                st.getPath.getName == "_stats")
            if (!hasStore)
              Snapshot.initStore(batch, uniqueKey, updatedAt, storeDir, buckets)
            else
              Snapshot.mergeStore(spark, storeDir, batch, uniqueKey, updatedAt, buckets)
          }
      }
      .start()

  /** Consent gate for a streaming admission epoch (GDPR Art. 6),
    * mirroring the batch path ([[graft.cli.CurateCli.runIncremental]]'s
    * gate + admission log) so the Art. 7(1) machinery
    * ([[graft.policy.Consent.retroAudit]], the `consent-audit` verb)
    * covers STREAM-admitted documents too: rows whose subject does not
    * CURRENTLY grant the purpose are refused before the index sees
    * them (one semi-join against the subject-scale registry — the
    * batch never shuffles), and every admitted document lands one row
    * in the durable admission log under
    * `<indexDir>/.admissions/batch=s<epoch>` (`doc_id`, `purpose`,
    * `admitted_at`). The log is written BEFORE the index append — a
    * crash mid-epoch over-reports admissions the index never saw, the
    * safe direction for an audit that exists to FIND unlawful
    * admissions — and the `s` prefix keeps streaming epochs from
    * colliding with a batch pipeline's admission ordinals on a shared
    * state directory. A replayed epoch overwrites the same log
    * directory (the epoch id is the address), so redelivery cannot
    * double-report — and the overwrite KEEPS the prior batch's stamp
    * ([[graft.policy.Consent.writeAdmissionLog]]), so a crash between
    * the log write and the index append cannot re-stamp the admission
    * later than it happened (a grant landing in the gap would then make
    * [[graft.policy.Consent.retroAudit]] judge it lawful — the
    * under-reporting direction).
    */
  private def gateAdmission(
      batch: DataFrame,
      indexDir: String,
      batchId: Long,
      idCol: String,
      consent: Option[graft.cli.CurateCli.ConsentGateCfg]
  ): DataFrame = consent match {
    case None => batch
    case Some(cg) =>
      val spark = batch.sparkSession
      val admitted = graft.policy.Consent
        .gate(spark, cg.consentDir, batch, cg.purpose, subjectCol = idCol)
      // a replayed epoch overwrites the same directory but KEEPS the
      // prior stamp (writeAdmissionLog) — re-stamping a replay later
      // would let retroAudit judge it lawful under a grant that landed
      // between the crash and the replay
      graft.policy.Consent.writeAdmissionLog(spark,
        s"$indexDir/.admissions/batch=s$batchId",
        admitted.select(col(idCol)), cg.purpose, cg.admittedAt)
      admitted
  }

  /** Streaming maintenance of the [[graft.dedup.SetSimJoin]] exact
    * prefix index — the missing serving-index leg next to the batch CLI's
    * `--exact` (BM25/IVF maintenance runs through the same incremental
    * path): each micro-batch's documents are shingled (3-shingle md5
    * sets, the CurateCli convention) and appended under the index's
    * FROZEN token order, so probes stay threshold-exact after every
    * epoch ([[graft.dedup.SetSimJoin.appendIndex]] scaladoc). The first
    * epoch bootstraps the index at `num/den`.
    *
    * Exactly-once: the append is NOT idempotent (a replayed epoch would
    * duplicate sets and postings), so each epoch's `batchId` rides into
    * [[graft.dedup.SetSimJoin.appendIndex]], which records it as an
    * applied marker inside its atomic commit and no-ops replays — and
    * whose staged single-commit protocol closed the old mid-epoch crash
    * window (a crash between the sets and postings legs now rolls back
    * to the exact pre-epoch index instead of demanding a rebuild). The
    * sink keeps its own marker only for the BOOTSTRAP epoch, whose
    * `writeIndex` overwrite is value-idempotent anyway.
    *
    * With `consent` set, each epoch is consent-gated and logged before
    * it reaches the index ([[gateAdmission]]).
    */
  def exactIndexSink(
      stream: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 3,
      num: Int = 2,
      den: Int = 5,
      trigger: Trigger = Trigger.AvailableNow(),
      consent: Option[graft.cli.CurateCli.ConsentGateCfg] = None
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.dedup.{Dedup, SetSimJoin}
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val marker = new org.apache.hadoop.fs.Path(s"$indexDir/_batches/$batchId")
        val fs = marker.getFileSystem(conf)
        // per-micro-batch writer lease (re-stamped each batch = heartbeat):
        // a cron'd compact/erase interleaving with a live stream refuses
        if (!fs.exists(marker)) graft.operators.Lease
          .withLease(spark, indexDir, "stream-exact-index") {
          val meta = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
          // gate BEFORE the empty check (the band/search sinks' rule): a
          // fully-denied first epoch must not bootstrap — writeIndex over
          // the empty gated frame would freeze an EMPTY dfreq, giving
          // every later token df 0 and permanently degrading prefix
          // pruning until a manual rebuild
          val gated =
            if (batch.isEmpty) batch
            else gateAdmission(batch, indexDir, batchId, idCol, consent)
          if (gated.isEmpty) {
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
          } else {
            val sets = gated.select(
              col(idCol),
              array_distinct(transform(
                Dedup.wordShingles(col(textCol), shingleK), x => md5(x))).as("_sh"))
            if (!fs.exists(meta)) {
              SetSimJoin.writeIndex(sets, idCol, "_sh", num, den, indexDir)
              fs.create(marker, true).close()
            } else
              SetSimJoin.appendIndex(spark, indexDir, sets, idCol, "_sh",
                batchId = Some(batchId))
          }
        }
      }
      .start()

  /** Streaming maintenance of the stored MinHash/LSH band index
    * ([[graft.dedup.Dedup.writeBandIndex]]) — the dedup-admission leg of
    * the serving-index family: each micro-batch's documents band under
    * the STORED parameters (an append can never mix banding schemes)
    * and append atomically, so a concurrent
    * [[graft.dedup.Dedup.dedupAgainstCorpus]] reader sees every admitted
    * epoch or none of it. The first non-empty epoch bootstraps the index
    * at (`shingleK`, `numHashes`, `bands`).
    *
    * Exactly-once: the append is NOT idempotent (a replayed epoch would
    * duplicate band rows and shingle sets, inflating Jaccard estimates),
    * so each epoch's `batchId` rides into
    * [[graft.dedup.Dedup.appendBandIndex]], which records it inside its
    * atomic [[graft.operators.PartitionSwap]] commit and no-ops replays.
    * The sink keeps its own marker only for the bootstrap and
    * empty-epoch cases (a zero-row `partitionBy` write emits no files —
    * the AggStore bootstrap lesson — so an empty epoch must not
    * bootstrap).
    *
    * With `consent` set, each epoch is consent-gated and logged before
    * it reaches the index ([[gateAdmission]]).
    */
  def bandIndexSink(
      stream: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      consent: Option[graft.cli.CurateCli.ConsentGateCfg] = None
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.dedup.Dedup
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val marker = new org.apache.hadoop.fs.Path(s"$indexDir/_batches/$batchId")
        val fs = marker.getFileSystem(conf)
        if (!fs.exists(marker)) graft.operators.Lease
          .withLease(spark, indexDir, "stream-band-index") {
          val meta = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
          // gate BEFORE the empty check: a fully-denied epoch must not
          // bootstrap (the zero-row partitionBy lesson applies to the
          // gated frame, not the raw one)
          val gated =
            if (batch.isEmpty) batch
            else gateAdmission(batch, indexDir, batchId, idCol, consent)
          if (gated.isEmpty) {
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
          } else if (!fs.exists(meta)) {
            Dedup.writeBandIndex(
              Dedup.buildBandIndex(gated, idCol, textCol, shingleK, numHashes, bands),
              indexDir)
            fs.create(marker, true).close()
          } else
            Dedup.appendBandIndex(gated, textCol, indexDir, Some(batchId))
        }
      }
      .start()

  /** Streaming maintenance of the stored BM25 search index
    * ([[graft.text.Bm25.writeSearchIndex]]) — the search-service leg:
    * each micro-batch's documents tokenize ONCE and their postings,
    * docs-leg rows, and the exactly-merged corpus stats commit
    * atomically, so retrieval between epochs always ranks under stats
    * consistent with the postings it reads. The first non-empty epoch
    * bootstraps the index.
    *
    * Exactly-once: `batchId` rides into
    * [[graft.text.Bm25.appendSearchIndex]], whose
    * [[graft.operators.PartitionSwap]] commit no-ops replays — a
    * replayed epoch can neither double postings nor double-count
    * `_n_docs`. The sink's own marker covers only bootstrap (the
    * three-leg overwrite is value-idempotent) and empty epochs.
    *
    * With `consent` set, each epoch is consent-gated and logged before
    * it reaches the index ([[gateAdmission]]) — a fully-denied epoch
    * commits only its marker, never a bootstrap.
    */
  def searchIndexSink(
      stream: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      consent: Option[graft.cli.CurateCli.ConsentGateCfg] = None
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.text.Bm25
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val marker = new org.apache.hadoop.fs.Path(s"$indexDir/_batches/$batchId")
        val fs = marker.getFileSystem(conf)
        if (!fs.exists(marker)) graft.operators.Lease
          .withLease(spark, indexDir, "stream-search-index") {
          val postings = new org.apache.hadoop.fs.Path(s"$indexDir/postings")
          val gated =
            if (batch.isEmpty) batch
            else gateAdmission(batch, indexDir, batchId, idCol, consent)
          if (gated.isEmpty) {
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
          } else if (!fs.exists(postings)) {
            Bm25.writeSearchIndex(gated, idCol, col(textCol), indexDir)
            fs.create(marker, true).close()
          } else
            Bm25.appendSearchIndex(gated, idCol, col(textCol), indexDir,
              Some(batchId))
        }
      }
      .start()

  /** Streaming Art. 16 maintenance of a stored BM25 index: a stream of
    * CORRECTED documents (id, text) rectified into the index epoch by
    * epoch through [[graft.text.Bm25.rectifySearchIndex]] — the
    * correction-queue shape of a live compliance pipeline, where
    * rectification requests accumulate and must reach the serving index
    * without a rebuild. Same-id corrections across epochs converge to
    * the LAST epoch's content (each rectify replaces in place); inside
    * ONE epoch a duplicate id is refused by the store's uniqueness
    * contract, never applied in arbitrary order. Replace-only rides
    * through: corrected ids the index never held rectify nothing —
    * admission stays with [[searchIndexSink]]/the ingest CLI.
    *
    * Exactly-once: `batchId` rides into the rectify's single
    * [[graft.operators.PartitionSwap]] commit, which no-ops replays; a
    * no-match epoch commits nothing and its replay is a no-op by value.
    * NOTE: a rectify sink and an append sink maintaining the SAME index
    * directory share its applied-batch namespace — drive both from one
    * checkpoint lineage (or disjoint epoch ranges), or an append epoch
    * could shadow a rectify epoch's id.
    *
    * Composed with [[eraseSink]] on the same state directory, ERASURE
    * WINS: once an id's erasure epoch completes, any redelivery of an
    * earlier-queued rectification leaves it erased — an already-applied
    * epoch id no-ops on its commit marker, and a fresh delivery
    * no-ops by replace-only (the id is absent from the docs leg). A
    * rectification QUEUED AFTER an erasure is vacuous for that subject
    * by the same replace-only contract — corrections for erased data
    * have nothing left to correct (re-admission is the ingest sinks'
    * job). StreamingSpec's "composed rights queues" case pins both
    * delivery shapes against the batchwise request-log twin.
    */
  def rectifySink(
      stream: DataFrame,
      indexDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      consent: Option[graft.cli.CurateCli.ConsentGateCfg] = None
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.text.Bm25
        if (!batch.isEmpty) {
          graft.operators.Lease
            .withLease(batch.sparkSession, indexDir, "stream-rectify") {
            Bm25.rectifySearchIndex(batch.sparkSession, indexDir,
              batch.select(col(idCol), col(textCol)), idCol, col(textCol),
              Some(batchId))
          }
          ()
        }
      }
      .start()

  /** Streaming Art. 17 maintenance of a curated state directory: a
    * stream of ERASURE REQUESTS (`doc_id` rows) honored epoch by epoch
    * through the full [[graft.cli.CurateCli.runErase]] sweep — corpus,
    * band index, BM25 index (exact stats decrement), exact prefix index,
    * dense IVF leg, shards, agg store, and the sketch profile's
    * staleness ledger — so the rights-request queue of a live compliance
    * pipeline reaches EVERY serving artifact continuously, not on a
    * batch cadence. Completes the data-subject-rights streaming trio:
    * admission ([[searchIndexSink]]/[[exactIndexSink]]/[[bandIndexSink]]),
    * rectification ([[rectifySink]]), erasure (here).
    *
    * Exactly-once WITHOUT markers: erasure is idempotent by value — a
    * replayed epoch re-purges already-absent keys and every store's
    * no-match path leaves its files byte-identical (CurationOpsSpec's
    * second-sweep no-op pin) — so a crash anywhere simply re-runs the
    * epoch. Each epoch's keys land in a per-batch scratch parquet under
    * the checkpoint (the sweep reads keys from a path, and the write
    * doubles as the epoch's durable request record for the
    * `erase_report.json` audit trail).
    *
    * Scope bound, inherited from the sweep ([[sessionize]] scaladoc):
    * checkpointed streaming STATE elsewhere (open sessions, join
    * buffers) erases only via its event-time expiry. Composed-order
    * bound with [[rectifySink]] on the same state directory: see the
    * rectify sink's scaladoc — erasure wins over any redelivered
    * earlier rectification, and later corrections for an erased subject
    * are vacuous by replace-only.
    */
  def eraseSink(
      stream: DataFrame,
      stateDir: String,
      checkpoint: String,
      idCol: String = "doc_id",
      profileBudget: Long = 0L,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // take the state lease BEFORE the epoch's keys capture lands —
          // runErase re-enters it (same process), and a foreign writer
          // refuses the whole epoch rather than racing the sweep
          graft.operators.Lease
            .withLease(batch.sparkSession, stateDir, "stream-erase") {
            val keysPath = s"$checkpoint/erase-keys/batch=$batchId"
            batch.select(col(idCol).as("doc_id")).distinct()
              .write.mode("overwrite").parquet(keysPath)
            graft.cli.CurateCli.runErase(
              batch.sparkSession, keysPath, stateDir, profileBudget)
          }
          ()
        }
      }
      .start()

  /** Streaming consent events into the registry (the rights queue's
    * fourth member, GDPR Art. 6/7 next to rectifySink's Art. 16 and
    * eraseSink's Art. 17): each micro-batch of
    * `(subject_id, purpose, granted, updated_at)` events merges into the
    * [[graft.policy.Consent]] SCD-2 registry (bootstrapping it on the
    * very first batch — no manual init step ordered before the stream),
    * and per purpose the touched subjects' PURPOSE-SCOPED deletion
    * vectors in `stateDir` reconcile with the POST-MERGE registry
    * verdict ([[graft.policy.Consent.syncVectors]]): subjects the merge
    * lands at not-granted are masked (serves declaring that purpose stop
    * returning them at the batch boundary; other purposes keep serving),
    * subjects it lands at granted retire from the purpose's vectors —
    * so an intra-batch conflict, a same-timestamp tie (deny-wins), or a
    * backdated late event ends on the SAME side in the registry and in
    * serving, in every arrival order. When
    * subjects own many documents pass `mapping` (`subject_id`,
    * `doc_id`); the vector legs resolve through it.
    *
    * Exactly-once the sinks' usual way: a redelivered batch converges
    * rather than double-applies (the registry merge dedups same-key-
    * same-timestamp redeliveries, resolving cross-batch same-timestamp
    * conflicts deny-wins; the vector is content-addressed by its key
    * set; the re-grant retirement is a set subtraction). Ordering with
    * the other queue members: a withdrawal's vector only MASKS — an
    * erase sweep ordered before or after it commutes (the sweep purges,
    * the mask over-masks purged ids harmlessly), and a rectification of
    * a masked subject updates content that stays masked until the
    * subject re-grants the purpose.
    *
    * Poisoned events: the batch verbs fail-stop on a non-slug purpose
    * BEFORE any state mutates, but a sink that throws replays the same
    * micro-batch forever — so invalid-purpose events are QUARANTINED to
    * `<consentDir>.dead-letter/batch=<epoch>` (a SIBLING of the store
    * root — the bootstrap's whole-directory overwrite must not be able
    * to delete the quarantine; loudly logged, censused
    * by [[graft.operators.Fsck.consentCensus]]) and the valid remainder
    * processes normally. Null-field events keep their documented
    * silently-dropped semantics.
    */
  def consentSink(
      stream: DataFrame,
      consentDir: String,
      checkpoint: String,
      stateDir: Option[String] = None,
      mapping: Option[DataFrame] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        {
          val spark = batch.sparkSession
          // the sink mutates the registry across the merge AND the vector
          // legs, so it holds the registry lease for the whole batch (a
          // cron'd consent verb interleaving mid-batch must refuse);
          // update re-enters, and syncVectors takes stateDir's own lease
          graft.operators.Lease
            .withLease(spark, consentDir, "stream-consent") {
            val events = batch.select(
              col("subject_id"), col("purpose"),
              col("granted").cast("boolean").as("granted"),
              col("updated_at").cast("long").as("updated_at"))
            // fail-stop before mutation is the registry contract for the
            // batch verbs, but a streaming sink REPLAYS a failed batch
            // forever: one event with a non-slug purpose would wedge the
            // whole consent stream (while null-field events are silently
            // dropped — an inconsistent severity for the same class of
            // malformed input). The sink therefore quarantines
            // invalid-purpose events to a durable dead-letter capture
            // under the registry (`.dead-letter/batch=<id>` — the epoch
            // is the address, replays overwrite) and processes the rest;
            // [[graft.operators.Fsck.consentCensus]] surfaces quarantined
            // rows so the triage is auditable, never silent. The purpose
            // vocabulary is bounded, so ONE grouped collect carries the
            // whole per-purpose shape of the batch — emptiness, the
            // validity split, and which purposes have vector-relevant
            // (fully-fielded) rows; the previous shape ran four separate
            // driver actions for the same facts (r13 optimization round).
            val pStats = events
              .groupBy(col("purpose"))
              .agg(count(lit(1)).as("n"),
                sum(when(col("subject_id").isNotNull &&
                  col("granted").isNotNull, 1L).otherwise(0L)).as("nClean"))
              .collect()
              .map(r => (if (r.isNullAt(0)) null else r.getString(0),
                r.getLong(1), r.getLong(2)))
            val badPurposes = pStats
              .collect { case (p, _, _) if p != null &&
                !graft.operators.DeletionVectors.isSlug(p) => p }
            val good =
              if (badPurposes.isEmpty) events
              else {
                // SIBLING directory, not inside the store root: the
                // registry's bootstrap (Snapshot.writeStore) overwrites
                // the whole directory, which would silently delete an
                // in-root quarantine — the merge-stage sibling convention
                val dl = s"${consentDir.stripSuffix("/")}.dead-letter/" +
                  s"batch=$batchId"
                events.filter(col("purpose").isin(badPurposes.toSeq: _*))
                  .write.mode("overwrite").parquet(dl)
                System.err.println(s"[consent-sink] QUARANTINED events " +
                  s"with non-slug purpose(s) " +
                  badPurposes.sorted.take(5).map(p => s"'$p'").mkString(", ") +
                  s" to $dl — triage with dead-letter-resubmit/-purge")
                events.filter(col("purpose").isNull ||
                  !col("purpose").isin(badPurposes.toSeq: _*))
              }
            // an all-quarantined batch must not touch the registry (and an
            // empty init would stage a zero-row store write); the sink's
            // own pStats already validated the surviving vocabulary, so
            // the merge skips the duplicate validation collect
            val goodNonEmpty = pStats.exists { case (p, n, _) =>
              n > 0 && (p == null || !badPurposes.contains(p)) }
            if (goodNonEmpty) {
              graft.policy.Consent
                .update(spark, consentDir, good, checkPurposes = false)
              stateDir.foreach { sd =>
                // null-field events never reach the registry (update drops
                // them); they must not reach the vectors either. The purpose
                // set of one consent batch is bounded (purposes are a small
                // vocabulary), so the per-purpose loop is a driver loop over
                // a handful of slugs, not over subjects. Vector actions
                // follow the POST-MERGE registry verdict of the touched
                // subjects ([[graft.policy.Consent.syncVectors]]) — NOT the
                // raw event split: an intra-batch grant/withdraw conflict,
                // a same-timestamp tie, or a late-arriving backdated grant
                // all resolve in the merge, and the mask must land wherever
                // the registry landed, in every arrival order.
                val clean = good.filter(col("subject_id").isNotNull &&
                  col("purpose").isNotNull && col("granted").isNotNull)
                val purposes = pStats.collect {
                  case (p, _, nClean) if p != null && nClean > 0 &&
                    !badPurposes.contains(p) => p
                }.sorted
                purposes.foreach { p =>
                  val touched = clean.filter(col("purpose") === p)
                    .select(col("subject_id")).distinct()
                  graft.policy.Consent
                    .syncVectors(spark, consentDir, sd, touched, p, mapping)
                }
              }
            }
          }
          ()
        }
      }
      .start()

  /** Gap-based sessionization with `flatMapGroupsWithState` + event-time
    * timeout: a session closes when no event arrives within `gapMs` of the
    * last one (by watermark). Emits one row per closed session.
    *
    * Erasure bound (GDPR): store purges ([[graft.cli.CurateCli]] erase,
    * [[graft.operators.Erasure]]) do NOT reach this query's checkpointed
    * state — a subject's OPEN session (user id, timestamps, event count,
    * value total) persists in the state store until its event-time
    * timeout fires. The bound is `watermark past lastSeen + gapMs`: the
    * timeout path `state.remove()`s the key, and expiry needs no further
    * traffic from the subject (any event advances the watermark).
    * StreamingSpec's "erasure bound" case pins this against the state
    * files themselves via the state data source — after expiry, no
    * state-store row holds the subject's key. An erasure sweep that must
    * also cover in-flight state therefore waits out (or advances) one
    * watermark+gap interval; stream-stream join state (attribution join)
    * carries the same bound through its watermark-derived state
    * retention.
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "1 hour"
  ): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(
        userId: Long,
        evts: Iterator[Event],
        state: GroupState[SessionState]
    ): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(
          Session(userId, new Timestamp(s.start), new Timestamp(s.lastSeen),
            s.nEvents, s.totalValue)
        )
      } else {
        val sorted = evts.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastSeen <= gapMs =>
              cur = Some(
                SessionState(s.start, math.max(s.lastSeen, t), s.nEvents + 1,
                  s.totalValue + e.value))
            case Some(s) =>
              closed ::= Session(userId, new Timestamp(s.start),
                new Timestamp(s.lastSeen), s.nEvents, s.totalValue)
              cur = Some(SessionState(t, t, 1L, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1L, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastSeen + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()
      )(update)
  }

  /** Batch twin of [[sessionize]] for oracle-style validation: classic
    * gap-based sessions via lag + running session-id window.
    */
  def sessionizeBatch(
      events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      tieBreak: Seq[String] = Seq.empty
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts") +: tieBreak.map(col): _*)
    val newSession: Column =
      (unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser) > gapMs) ||
        lag(col("ts"), 1).over(byUser).isNull
    events
      .withColumn("is_new", newSession.cast("int"))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value")
      )
      .drop("session_idx")
  }
}
