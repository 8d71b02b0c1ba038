package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *   - Exact dedup is one hash-partitioned `groupBy(md5(text))` — map-side
  *     partial aggregation, single shuffle keyed on a uniform hash.
  *   - MinHash/LSH avoids the O(n²) all-pairs comparison: signatures and
  *     band hashes are narrow per-row expressions (codegen'd, no UDF); only
  *     the band-bucket self-join shuffles, keyed by (band, bandHash), and
  *     candidate pairs are bounded by bucket sizes. Skewed buckets (boiler-
  *     plate docs) can be salted or capped upstream.
  *   - All hash primitives are `md5`/`xxhash64` built-ins so every stage
  *     stays inside whole-stage codegen.
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** Exact dedup: one representative (min id) per distinct text hash. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash + LSH -----------------------------------------------------

  /** Word k-shingles as strings; documents shorter than k words yield their
    * whole token sequence as a single shingle. Backed by the native
    * [[WordShinglesExpr]] (codegen, no interpreted higher-order functions);
    * value-identical to
    * `transform(sequence(1, greatest(size(t)-k+1, 1)), i -> concat_ws(' ', slice(t, i, k)))`.
    */
  def wordShingles(c: Column, k: Int): Column =
    WordShinglesExpr.wordShingles(TextAnalysis.tokens(c), k)

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Affine coefficients (a_i odd 31-bit, b_i 32-bit) deriving signature
    * element i from the per-shingle base hash — the classic one-hash MinHash
    * family h_i(x) = (a_i * h0(x) + b_i) mod 2^32. Bounds matter: with
    * a < 2^31 and h0 < 2^32 the product stays under 2^63, so the arithmetic
    * never overflows a signed long — safe under ANSI mode and identical in
    * DuckDB (which errors on BIGINT overflow rather than wrapping).
    * Derived on demand so any numHashes works (a fixed table would make
    * signatures wider than its size throw).
    */
  def minhashCoeff(i: Int): (Long, Long) =
    ((splitmix64(2L * i) >>> 33) | 1L, splitmix64(2L * i + 1) >>> 32)

  /** Per-shingle 32-bit base hash: first 8 hex chars of md5 as a long.
    * ONE digest per shingle — the 16 signature hashes are affine transforms
    * of this base, not 16 separate md5 calls (16x less hashing; md5
    * dominates signature cost). DuckDB twin:
    * `cast('0x' || substr(md5(x), 1, 8) as bigint)`.
    */
  def minhashBase(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 8), 16, 10).cast("long")

  /** Signature element i from the base hash (see [[minhashCoeff]]). */
  def minhashHash(base: Column, i: Int): Column = {
    val (a, b) = minhashCoeff(i)
    (lit(a) * base + lit(b)) % lit(4294967296L)
  }

  /** MinHash signature: element s = min over shingles of [[minhashHash]].
    *
    * NOTE: fine for expression-level use on small shingle sets, but each
    * `array_min(transform(...))` is an interpreted higher-order function and
    * re-evaluates the shingle expression — for table-scale signatures use
    * [[minhashMins]] (explode + codegen'd md5 + map-side-combined min), which
    * benches ~100x faster and is the shape that scales to 100 TB.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val bases = transform(shingles, x => minhashBase(x))
    array((0 until numHashes).map { s =>
      array_min(transform(bases, b => minhashHash(b, s)))
    }: _*)
  }

  /** Table-scale MinHash: explode shingles to rows, hash each (shingle,seed)
    * with codegen'd `md5`, then `groupBy(id).agg(min...)` — 16 long mins in
    * one whole-stage-codegen'd `HashAggregateExec`; partial (map-side)
    * aggregation shrinks the shuffle to `numHashes` longs per doc per
    * partition. Produces columns m_0..m_{H-1}, identical values to
    * [[minhashSignature]].
    */
  def minhashMins(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int
  ): DataFrame = {
    val exploded = df
      .select(
        col(idCol),
        explode(wordShingles(col(textCol), shingleK)).as("shingle")
      )
      .select(col(idCol), minhashBase(col("shingle")).as("h0"))
    val aggs = (0 until numHashes).map { h =>
      min(minhashHash(col("h0"), h)).as(s"m_$h")
    }
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** doc -> (doc id, band_0..band_{B-1}) via the table-scale minhash path. */
  def minhashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    val mins = minhashMins(df, idCol, textCol, shingleK, numHashes)
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand)
          .map(r => col(s"m_${b * rowsPerBand + r}").cast("string")): _*))
        .as(s"band_$b")
    }
    mins.select(col(idCol) +: bandCols: _*)
  }

  /** Candidate near-duplicate pairs: docs sharing at least one LSH band.
    * Self-join keyed on (band, hash) — the only shuffle of the whole path.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Option[Int] = None,
      salts: Int = 1
  ): DataFrame = {
    val b = minhashBands(df, idCol, textCol, shingleK, numHashes, bands)
    val raw = b.select(
      col(idCol),
      posexplode(array((0 until bands).map(i => col(s"band_$i")): _*)).as(Seq("band", "hash"))
    )
    val exploded = maxBucket.fold(raw)(capBuckets(raw, idCol, _))
    selfJoinPairs(exploded, idCol, salts)
  }

  /** Bucket self-join emitting candidate pairs (id_a < id_b), optionally
    * salted against bucket skew: with `salts` = s > 1 the left side gets a
    * deterministic salt from its id and the right side is replicated to all
    * s salts, so the join key becomes (band, hash, salt) — a pathological
    * bucket's all-pairs work spreads across s shuffle partitions instead of
    * serializing on one task. Result-identical to the unsalted join (every
    * within-bucket pair still meets on exactly one salt); cost is shipping
    * the right side s times, so salt only the skewed runs.
    */
  def selfJoinPairs(exploded: DataFrame, idCol: String, salts: Int = 1): DataFrame = {
    val (l, r) =
      if (salts <= 1) (exploded.as("l"), exploded.as("r"))
      else (
        exploded.withColumn("salt", pmod(xxhash64(col(idCol)), lit(salts))).as("l"),
        exploded
          .withColumn("salt", explode(sequence(lit(0L), lit(salts.toLong - 1))))
          .as("r")
      )
    val saltCond =
      if (salts <= 1) lit(true) else col("l.salt") === col("r.salt")
    l.join(
      r,
      col("l.band") === col("r.band") && col("l.hash") === col("r.hash") &&
        saltCond && col(s"l.$idCol") < col(s"r.$idCol")
    ).select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** The exploded LSH band index of a corpus: one row per (id, band,
    * hash) — the persistable "index side" of [[dedupAgainstCorpus]] and
    * [[graft.streaming.StreamingPipeline.dedupAgainstIndexStream]].
    */
  def bandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4
  ): DataFrame =
    minhashBands(df, idCol, textCol, shingleK, numHashes, bands)
      .select(
        col(idCol),
        posexplode(array((0 until bands).map(i => col(s"band_$i")): _*))
          .as(Seq("band", "hash")))

  /** Distinct word k-shingles of a text, as the shingle strings
    * themselves: the one verify-side representation of the inline, stored
    * and streaming near-dup paths. Raw text, not digests: a 3-word shingle
    * averages ~16 characters where its md5 hex is 32, and the Jaccard is
    * exact by construction (no digest collisions to bound).
    */
  def shingleSet(text: Column, shingleK: Int): Column =
    array_distinct(wordShingles(text, shingleK))

  /** Distinct shingle set per document ([[shingleSet]]; the verification
    * side of the against-corpus paths): (out, shOut).
    */
  def shingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      out: String,
      shOut: String
  ): DataFrame =
    df.select(col(idCol).as(out), shingleSet(col(textCol), shingleK).as(shOut))

  /** A persisted-or-persistable corpus LSH index bundle: the exploded band
    * table, the per-document distinct shingle sets ([[shingleSet]]: the
    * shingle text, not digests), and the parameters that built them (a
    * batch banded with different parameters can never collide correctly,
    * so the parameters travel WITH the data).
    *
    * `bands` columns:    (idCol, band, hash)
    * `shingles` columns: (idCol, shingles: array<string>)
    */
  final case class BandIndex(
      idCol: String,
      shingleK: Int,
      numHashes: Int,
      numBands: Int,
      bands: DataFrame,
      shingles: DataFrame)

  /** Build the index bundle of a corpus — the thing [[writeBandIndex]]
    * persists so daily ingest never re-scans or re-shingles the corpus.
    */
  def buildBandIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4
  ): BandIndex =
    BandIndex(
      idCol, shingleK, numHashes, bands,
      bandIndex(corpus, idCol, textCol, shingleK, numHashes, bands),
      shingleSets(corpus, idCol, textCol, shingleK, idCol, "shingles"))

  /** Persist an index bundle under `dir` (`bands/` partitioned by band,
    * `shingles/`, and a single-row `meta/` carrying the parameters and the
    * [[ShingleForm]] marker). Two write jobs, each one corpus scan — the
    * one-off cost that every subsequent [[dedupAgainstCorpus]] batch
    * avoids.
    */
  def writeBandIndex(index: BandIndex, dir: String): Unit = {
    index.bands
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
    index.shingles.write.mode("overwrite").parquet(s"$dir/shingles")
    val spark = index.bands.sparkSession
    import spark.implicits._
    Seq((index.idCol, index.shingleK, index.numHashes, index.numBands, ShingleForm))
      .toDF("id_col", "shingle_k", "num_hashes", "num_bands", "shingle_form")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The `meta/` marker of the `shingles/` leg's representation. Indexes
    * written before it held md5 hex digests in the same `array<string>`
    * column; verifying raw shingles against those would score every pair
    * at Jaccard 0 and admit every near-duplicate, so [[bandMeta]] refuses
    * an index without it.
    */
  val ShingleForm = "text"

  /** The stored parameters of a band index (its `meta/` row). */
  final case class BandMeta(idCol: String, shingleK: Int, numHashes: Int, numBands: Int)

  /** The one reader of a band index's `meta/`: refuses an index whose
    * shingle sets are not in [[ShingleForm]]. Read-only (no recovery), so
    * [[graft.operators.Fsck.bandIndex]] audits through it too.
    */
  def bandMeta(spark: org.apache.spark.sql.SparkSession, dir: String): BandMeta = {
    val m = spark.read.parquet(s"$dir/meta").head()
    val form =
      if (m.schema.fieldNames.contains("shingle_form")) Option(m.getAs[String]("shingle_form"))
      else None
    require(form.contains(ShingleForm),
      s"band index $dir: meta/ has shingle_form=${form.getOrElse("<absent>")}, " +
        s"want '$ShingleForm' — its shingles/ leg predates raw-text shingle sets " +
        "(md5 hex digests) and cannot verify against them; rebuild it with " +
        "writeBandIndex(buildBandIndex(corpus, ...), dir)")
    BandMeta(m.getAs[String]("id_col"), m.getAs[Int]("shingle_k"),
      m.getAs[Int]("num_hashes"), m.getAs[Int]("num_bands"))
  }

  /** Append `docs`' band/shingle rows to a stored index — the admit step
    * after an incremental batch passes dedup (its parameters come from the
    * stored meta, so an append can never mix banding schemes). Caller is
    * responsible for `docs` ids being new to the index.
    *
    * Atomic: the batch's band files (nested under their `band=`
    * partitions) and shingle files stage under `.swap-stage/` and
    * promote in ONE [[graft.operators.PartitionSwap]] commit whose
    * pending marker lists every staged file — a crash between the legs
    * (this was the store family's last plain two-job `mode("append")`)
    * rolls back to the exact pre-append index instead of leaving bands
    * that shingles don't know about (Fsck.bandIndex's `legs_agree`).
    * Pass `batchId` to make replays of an applied epoch no-ops (the
    * streaming-sink recipe).
    */
  def appendBandIndex(
      docs: DataFrame,
      textCol: String,
      dir: String,
      batchId: Option[Long] = None
  ): Unit = {
    import graft.operators.PartitionSwap
    val spark = docs.sparkSession
    val loaded = loadBandIndex(spark, dir) // runs recovery
    if (batchId.exists(PartitionSwap.alreadyApplied(spark, dir, _))) return
    val stage = s"$dir/.swap-stage"
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stagePath, true)
    bandIndex(docs, loaded.idCol, textCol,
      loaded.shingleK, loaded.numHashes, loaded.numBands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$stage/bands")
    shingleSets(docs, loaded.idCol, textCol, loaded.shingleK,
      loaded.idCol, "shingles")
      .write.mode("overwrite").parquet(s"$stage/shingles")
    val stagedBands = new org.apache.hadoop.fs.Path(s"$stage/bands")
    val bandDirs =
      if (!fs.exists(stagedBands)) Seq.empty[String]
      else fs.listStatus(stagedBands).map(_.getPath.getName)
        .filter(_.startsWith("band=")).sorted.toSeq
    val entries =
      bandDirs.flatMap(b =>
        PartitionSwap.stagedParquetFiles(spark, s"$stage/bands/$b")
          .map(f => s"bands/$b/$f")) ++
        PartitionSwap.stagedParquetFiles(spark, s"$stage/shingles")
          .map(f => s"shingles/$f")
    PartitionSwap.commit(spark, dir, stage, entries,
      batchId.getOrElse(System.nanoTime()))
  }

  /** Right-to-erasure through the stored band index: purge the erased
    * documents' band rows and shingle sets (both keyed by the index's
    * own id column). Band hashes of OTHER documents are untouched, so
    * [[dedupAgainstCorpus]] after erasure flags exactly what an index
    * rebuilt from the retained corpus flags. Broadcast anti-joins; the
    * band partitioning is re-declared on the rewrite. Returns rows
    * removed across both legs.
    */
  def eraseFromBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      keys: DataFrame,
      keyCol: String
  ): Long = {
    import graft.operators.Erasure
    recoverBandIndex(spark, dir)
    val idCol = bandMeta(spark, dir).idCol
    val k = keys.select(col(keyCol).as(idCol))
    // both legs stage and promote under ONE commit: a crash between the
    // bands and shingles purges would otherwise leave an index whose
    // legs disagree on membership (Fsck.bandIndex's legs_agree)
    Erasure.eraseLegs(spark, dir, k,
      Seq(Erasure.Leg("bands", idCol, Seq("band")),
        Erasure.Leg("shingles", idCol))).sum
  }

  /** Right-to-rectification (GDPR Art. 16) through the stored band
    * index: REPLACE the corrected documents' band rows and shingle sets
    * with rows re-derived from the corrected text under the index's own
    * stored parameters — so [[dedupAgainstCorpus]] after rectification
    * flags exactly what an index rebuilt from the corrected corpus flags
    * (future batches near-dup against the CORRECTED content, not the
    * old). Replace-only: corrected ids absent from `shingles/` update
    * nothing. Both legs stage — kept rows via broadcast anti-join,
    * corrected rows as extra files in the same staged legs — and promote
    * in ONE [[graft.operators.PartitionSwap]] commit ([[Fsck]]'s
    * `legs_agree`: never bands that shingles disagree with). Pass
    * `batchId` to make replays exact no-ops. Returns documents
    * rectified.
    */
  def rectifyBandIndex(
      corrected: DataFrame,
      textCol: String,
      dir: String,
      batchId: Option[Long] = None
  ): Long = {
    import graft.operators.PartitionSwap
    val spark = corrected.sparkSession
    val loaded = loadBandIndex(spark, dir) // runs recovery
    if (batchId.exists(PartitionSwap.alreadyApplied(spark, dir, _))) return 0L
    val idCol = loaded.idCol
    val matched = spark.read.parquet(s"$dir/shingles")
      .join(broadcast(corrected.select(col(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol))
    val hits = corrected.join(broadcast(matched), Seq(idCol), "left_semi")
    // fused hit count + uniqueness contract: duplicate corrected ids
    // would stage DOUBLED band rows and shingle sets for the same doc
    val hitAgg = hits
      .agg(count(lit(1)).as("n"), count_distinct(col(idCol)).as("nd")).head()
    val nHits = hitAgg.getLong(0)
    require(hitAgg.getLong(1) == nHits,
      s"band rectify: corrected frame has duplicate '$idCol' rows — each " +
        "id must carry exactly one corrected text")
    if (nHits == 0L) return 0L
    val k = hits.select(col(idCol)).distinct()

    val stage = s"$dir/.swap-stage"
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stagePath, true)
    // kept bands re-declare the band partitioning; the corrected rows'
    // bands then append into the same staged partition tree
    spark.read.parquet(s"$dir/bands")
      .join(broadcast(k), Seq(idCol), "left_anti")
      .write.mode("overwrite").partitionBy("band").parquet(s"$stage/bands")
    bandIndex(hits, idCol, textCol,
      loaded.shingleK, loaded.numHashes, loaded.numBands)
      .write.mode("append").partitionBy("band").parquet(s"$stage/bands")
    spark.read.parquet(s"$dir/shingles")
      .join(broadcast(k), Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(s"$stage/shingles")
    shingleSets(hits, idCol, textCol, loaded.shingleK, idCol, "shingles")
      .write.mode("append").parquet(s"$stage/shingles")
    PartitionSwap.commit(spark, dir, stage, Seq("bands", "shingles"),
      batchId.getOrElse(System.nanoTime()))
    nHits
  }

  /** Crash recovery for the stored band index: replays a pending
    * multi-leg commit (append or erase — one `.swap-stage` root per
    * index, so any crashed commit classifies without knowing which
    * operation staged it). The mutators and [[loadBandIndex]] call it
    * themselves.
    */
  def recoverBandIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    graft.operators.PartitionSwap.recover(spark, dir, "/.swap-stage", "")
  }

  /** Compact the accumulated append-epoch delta files
    * ([[graft.operators.Compaction]] scaladoc): rewrite the CURRENT
    * band rows back into one sized file set per `band=` partition
    * ([[graft.operators.Compaction.compactPartitioned]] — each epoch's
    * append nests a delta file under every partition, so after many
    * epochs a bucket probe opens one file per epoch) and the shingle
    * sets keyed by id, swapping both legs in ONE
    * [[graft.operators.PartitionSwap]] commit. Content-identical,
    * value-idempotent, crash-safe. Returns (band files before, after).
    */
  def compactBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20
  ): (Int, Int) = {
    import graft.operators.{Compaction, PartitionSwap}
    recoverBandIndex(spark, dir)
    val idCol = bandMeta(spark, dir).idCol
    val stage = s"$dir/.swap-stage"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val (before, after) = Compaction.compactPartitioned(
      spark, s"$dir/bands", s"$stage/bands", targetBytes, Seq("band"))
    Compaction.compactClustered(
      spark, s"$dir/shingles", s"$stage/shingles", targetBytes, Seq(idCol))
    // ephemeral marker: compaction is value-idempotent, and a scheduled
    // verb must not grow _batches/ by one file per invocation
    PartitionSwap.commitEphemeral(spark, dir, stage,
      Seq("bands", "shingles"))
    (before, after)
  }

  /** Load a stored index bundle written by [[writeBandIndex]]; like every
    * mutator of the stored index, refuses one [[bandMeta]] refuses.
    */
  def loadBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): BandIndex = {
    recoverBandIndex(spark, dir)
    val m = bandMeta(spark, dir)
    val idCol = m.idCol
    BandIndex(
      idCol, m.shingleK, m.numHashes, m.numBands,
      spark.read.parquet(s"$dir/bands").select(col(idCol), col("band"), col("hash")),
      spark.read.parquet(s"$dir/shingles").select(col(idCol), col("shingles")))
  }

  /** Incremental dedup: flag each document of a NEW batch that
    * near-duplicates a member of an EXISTING corpus — the daily-ingest
    * shape (crawl increments, backfill merges) where re-running all-pairs
    * dedup over corpus+batch would rescan 100 TB to admit a few GB.
    *
    * The corpus side is the INDEX: its band hashes are the same narrow
    * per-row expressions as [[minhashBands]] (use the [[BandIndex]]
    * overload with [[writeBandIndex]]/[[loadBandIndex]] to pay them once),
    * skew-cappable via `maxBucket`. The batch band list is batch-sized and
    * BROADCAST, so the candidate join never shuffles the corpus. Shared-
    * band candidates are verified with exact distinct-shingle Jaccard —
    * computed ONLY for corpus rows that are candidates: the candidate set
    * (with batch shingles attached) broadcasts onto the corpus and the
    * shingle expression is projected ABOVE that join, so the verify stage
    * never shingles a non-candidate row. Each batch doc reports its best
    * corpus match (highest jaccard, lowest corpus id tie-break).
    *
    * @return one row per batch doc: (idCol, dup_of, jaccard, is_dup) —
    *         `dup_of`/`jaccard` null when no candidate shared a band;
    *         `is_dup` compares the RAW jaccard against `threshold`
    */
  def dedupAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    requireNoReserved("dedupAgainstCorpus", corpus, idCol)
    val corpusE = maxBucket
      .fold(bandIndex(corpus, idCol, textCol, shingleK, numHashes, bands))(
        capBuckets(bandIndex(corpus, idCol, textCol, shingleK, numHashes, bands), idCol, _))
    dedupAgainstBands(
      corpusE, corpus, None, batch, idCol, textCol,
      shingleK, numHashes, bands, threshold)
  }

  /** [[dedupAgainstCorpus]] against a prebuilt (typically
    * [[loadBandIndex]]-loaded) index: the corpus raw text is never
    * touched — the candidate join reads the narrow stored band table and
    * the verify reads stored shingle sets pruned to candidate rows by the
    * broadcast candidate join.
    */
  def dedupAgainstCorpus(
      index: BandIndex,
      batch: DataFrame,
      textCol: String,
      threshold: Double,
      maxBucket: Option[Int]
  ): DataFrame = {
    requireNoReserved("dedupAgainstCorpus", index.shingles, index.idCol)
    val corpusE = maxBucket.fold(index.bands)(capBuckets(index.bands, index.idCol, _))
    dedupAgainstBands(
      corpusE, index.shingles, Some("shingles"), batch, index.idCol, textCol,
      index.shingleK, index.numHashes, index.numBands, threshold)
  }

  def dedupAgainstCorpus(index: BandIndex, batch: DataFrame, textCol: String): DataFrame =
    dedupAgainstCorpus(index, batch, textCol, threshold = 0.7, maxBucket = None)

  private val dedupReserved = Seq("_bid", "_cid", "_sh_bid", "_rn")

  private def requireNoReserved(op: String, df: DataFrame, idCol: String): Unit = {
    require(!dedupReserved.exists(df.columns.contains),
      s"$op: input must not already have ${dedupReserved.mkString("/")} columns")
    require(!dedupReserved.contains(idCol), s"$op: idCol $idCol is a reserved name")
  }

  /** Shared core of the two [[dedupAgainstCorpus]] overloads.
    *
    * @param corpusVerify     the verify side: raw corpus (id + text) or a
    *                         stored shingle table (id + `shingleCol`)
    * @param storedShingleCol Some(col) when `corpusVerify` carries
    *                         precomputed shingle sets; None to compute them
    *                         from `textCol` — ABOVE the candidate join, so
    *                         only candidate rows are shingled
    */
  private def dedupAgainstBands(
      corpusBands: DataFrame,
      corpusVerify: DataFrame,
      storedShingleCol: Option[String],
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireNoReserved("dedupAgainstCorpus", batch, idCol)
    val batchE = bandIndex(batch, idCol, textCol, shingleK, numHashes, bands)
    val cand = corpusBands.as("c")
      .join(
        broadcast(batchE.as("b")),
        col("c.band") === col("b.band") && col("c.hash") === col("b.hash"))
      .select(col(s"b.$idCol").as("_bid"), col(s"c.$idCol").as("_cid"))
      .distinct()
    // candidate pairs + their batch shingle sets: batch-bounded, broadcast
    // onto the corpus verify side so non-candidate corpus rows are dropped
    // by the join BEFORE any shingle work
    val candB = cand
      .join(shingleSets(batch, idCol, textCol, shingleK, "_bid", "_sh_bid"), "_bid")
    val pruned = corpusVerify
      .join(broadcast(candB), corpusVerify(idCol) === col("_cid"))
    // the corpus shingle expression is written HERE, above the join — the
    // optimizer does not push expensive expressions below joins, so it
    // evaluates only on rows that survived the candidate prune
    val shCid = storedShingleCol.map(col).getOrElse(shingleSet(col(textCol), shingleK))
    val scored = pruned
      .select(col("_bid"), col("_cid"), jaccard(col("_sh_bid"), shCid).as("jaccard"))
    val w = Window.partitionBy(col("_bid"))
      .orderBy(col("jaccard").desc, col("_cid"))
    val best = scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("_bid"), col("_cid").as("dup_of"), col("jaccard"))
    batch.select(col(idCol).as("_bid"))
      .join(best, Seq("_bid"), "left")
      .select(
        col("_bid").as(idCol),
        col("dup_of"),
        col("jaccard"),
        coalesce(col("jaccard") >= threshold, lit(false)).as("is_dup"))
  }

  /** Cap pathological LSH buckets (boilerplate that hashes thousands of docs
    * into one band bucket turns the self-join quadratic). Keeps the first
    * `maxBucket` members per (band, hash) by id — at 100 TB this bounds the
    * candidate join at the cost of recall inside degenerate buckets, which
    * are near-identical anyway.
    */
  def capBuckets(exploded: DataFrame, idCol: String, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("hash")).orderBy(col(idCol))
    exploded
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBucket)
      .drop("rn")
  }

  /** Cluster assignment from candidate pairs: iterative min-label
    * propagation (each doc converges to the minimum id reachable through
    * near-dup edges). Runs `maxIter` alternating join rounds — the standard
    * large-scale connected-components shape (no driver-side state; each
    * round is one shuffle keyed by id).
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20
  ): DataFrame = {
    // The edge list is PAIRS-sized (only docs with near-dup candidates,
    // never corpus-sized): materialize it ONCE — the PageRank edge-list
    // convention — so the per-round joins reference a LogicalRDD leaf
    // instead of re-deriving the candidate-generation plan every round.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // Per-round localCheckpoint is LOAD-BEARING, not an optimization:
    // each round references the previous round's frame TWICE (the union
    // branch and the neighbor join), so an uncheckpointed iteration
    // doubles the logical plan per round — 2^rounds copies of the edge
    // subtree. Caching does not help (cached plans still NEST for
    // analysis), and with a heavy candidate plan (the perceptual-hash
    // decode chain) round ~10 OOM'd the driver merely RENDERING the plan
    // string for the execution event. Checkpointing truncates lineage to
    // O(1) per round; the handful of |V|-sized checkpointed frames are
    // freed by the context cleaner when dereferenced.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
      .localCheckpoint()
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      // Each round: (1) neighbor-min — pull the smallest label one hop;
      // (2) POINTER JUMP — label(id) <- label(label(id)). The jump is
      // what makes convergence logarithmic instead of linear in the
      // component diameter: plain propagation needs DIAMETER rounds, and
      // a chain-shaped near-dup family (each image within the Hamming
      // ball of the next) blew straight past maxIter at sf0.1 while the
      // oracle's recursive closure was exact. Labels are always node ids
      // present in `labels` (min over node ids), so the jump join always
      // resolves; the left join + coalesce is belt-and-braces.
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      val minStep = labels
        .select(col("id"), col("label"))
        .unionAll(viaNeighbors)
        .groupBy("id")
        .agg(min("label").as("label"))
      val jumpTo = minStep
        .select(col("id").as("_jid"), col("label").as("_jlabel"))
      // labels only shrink (min semilattice), so "any change?" is the
      // convergence test — computed IN the checkpoint pass: the old-label
      // join rides the materialization the round pays anyway, and the
      // convergence probe is then one aggregate over the in-memory
      // checkpointed partitions instead of a fresh join+shuffle job
      val jumped = minStep
        .join(jumpTo, col("label") === col("_jid"), "left")
        .select(col("id"),
          coalesce(col("_jlabel"), col("label")).as("label"))
        .join(labels.withColumnRenamed("label", "_old"), "id")
        .withColumn("_chg",
          when(col("label") =!= col("_old"), lit(1)).otherwise(lit(0)))
        .select(col("id"), col("label"), col("_chg"))
        .localCheckpoint()
      // coalesce: an empty label frame (no candidate pairs at all) has a
      // null max and must read as converged, like the old count()==0
      converged = jumped
        .agg(coalesce(max(col("_chg")), lit(0))).head().getInt(0) == 0
      labels = jumped.select(col("id"), col("label"))
      i += 1
    }
    labels
  }

  // ---- n-gram Jaccard ----------------------------------------------------

  /** Set Jaccard over two token/shingle arrays (distinct semantics — matches
    * DuckDB list_intersect/list_distinct).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Near-dup verification: candidate pairs whose shingle-set Jaccard clears
    * the threshold. `pairs` must have columns (id_a, id_b).
    */
  def jaccardFilterPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.7
  ): DataFrame = {
    val sh = docs.select(col(idCol), wordShingles(col(textCol), shingleK).as("sh"))
    pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over a token array (see [[SimHash64]] — a native Catalyst
    * expression with codegen). Near-dups have small Hamming distance.
    */
  def simhash(tokensCol: Column): Column = SimHash64.simhash64(tokensCol)

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the 4 16-bit quarters (a doc pair
    * within Hamming distance 3 must agree on at least one quarter —
    * pigeonhole), then verify the full distance. Same shuffle shape as
    * MinHash LSH: explode 4 rows/doc, self-join on (block, key).
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val withSig = df.select(col(idCol), simhash(TextAnalysis.tokens(col(textCol))).as("sig"))
    val blocks = withSig.select(
      col(idCol),
      col("sig"),
      posexplode(
        array((0 until 4).map(q => shiftright(col("sig"), q * 16).bitwiseAND(lit(0xffffL))): _*)
      ).as(Seq("block", "key"))
    )
    val l = blocks.as("l")
    val r = blocks.as("r")
    l.join(
      r,
      col("l.block") === col("r.block") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol")
    ).select(
      col(s"l.$idCol").as("id_a"),
      col(s"r.$idCol").as("id_b"),
      hammingDistance(col("l.sig"), col("r.sig")).as("hamming")
    ).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- quality-aware cluster representatives ------------------------------

  /** Canonical document per near-duplicate cluster, chosen by quality.
    *
    * Plain dedup keeps the lowest id, which throws away the best copy when a
    * cluster mixes a clean original with truncated or boilerplate-wrapped
    * variants. This selects, per connected near-dup cluster, the member with
    * the highest quality score ([[TextAnalysis.qualityScoreOfStats]]).
    * Ranking is on the FLOOR-ROUNDED score (scale 6) with an id tie-break —
    * a raw double rank would not be engine-reproducible.
    *
    * Scale: one label join + one cluster-keyed max-struct aggregate
    * (partial-aggregating, one candidate row per cluster per partition) on
    * top of [[connectedComponents]]; clusters only contain docs that had
    * candidate pairs, so everything here is bounded by the near-dup subset,
    * not the corpus. NULL text scores 0.0 explicitly — the formula's
    * least/greatest would otherwise skip null operands and score a broken
    * row 0.9 (the null-text quality-gate lesson).
    *
    * @param pairs candidate pairs (id_a, id_b), e.g. from
    *              [[minhashCandidatePairs]] or [[simhashNearDupPairs]]
    * @return (label, rep_id, n_members, rep_quality) — one row per cluster
    */
  def clusterRepresentatives(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxIter: Int = 20
  ): DataFrame = {
    val labels = connectedComponents(pairs, maxIter)
    val q6 = {
      val q = when(col(textCol).isNull, lit(0.0)).otherwise(
        TextAnalysis.qualityScoreOfStats(TextAnalysis.textStats(col(textCol))))
      floor(q * lit(1e6) + lit(0.5)) / lit(1e6)
    }
    docs
      .select(col(idCol).as("id"), q6.as("_q6"))
      .join(labels, "id")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("_q6"), (-col("id")).as("_neg_id"), col("id"))).as("_best")
      )
      .select(
        col("label"),
        col("_best.id").as("rep_id"),
        col("n_members"),
        col("_best._q6").as("rep_quality")
      )
  }
}
