package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Okapi BM25 relevance scoring of a corpus against a fixed query-term set —
  * the standard retrieval/curation scorer (topic targeting, boilerplate
  * down-weighting) a training-data pipeline runs when selecting documents
  * for a domain mix.
  *
  *   idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
  *   score(d, q) = sum over t in q of
  *                   idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
  *
  * Scale shape: the `isin(queryTerms)` filter runs on the exploded token
  * stream BEFORE the first aggregation, so only query-term rows ever reach a
  * shuffle — the corpus-sized token stream stays a narrow codegen'd stage.
  * Document-frequency is |queryTerms| rows (broadcast join), document length
  * is a narrow map joined on the doc key. N and avgdl are passed in
  * pre-computed so the plan stays a pure function of its inputs (same
  * contract as [[TfIdf.topTerms]]).
  */
object Bm25 {

  /** Working/output names shared by both entry points — an idCol matching
    * any of them would be silently shadowed by a withColumn/select.
    */
  private val Reserved = Seq(
    "_toks", "term", "tf", "df", "dl", "_ts", "n_matched", "score",
    "query_id", "rank", "_rounded", "_n_docs", "_avgdl")

  /** Shared scoring pipeline: per-(doc, term) rows with the BM25 term score
    * `_ts`, the term pruned by `prune` BEFORE the first aggregation (so the
    * corpus-sized token stream never reaches a shuffle).
    *
    * `nDocs`/`avgDl` are Columns: either literals (pre-computed stats) or
    * the `_n_docs`/`_avgdl` fields of the broadcast single-row corpus
    * aggregate that `attachStats` cross-joins on. The two spellings carry
    * the same exact values, so scores are bit-identical doubles.
    */
  private def scoredDocTerms(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      prune: DataFrame => DataFrame,
      nDocs: Column,
      avgDl: Column,
      attachStats: DataFrame => DataFrame,
      k1: Double,
      b: Double
  ): DataFrame = {
    require(!Reserved.contains(idCol),
      s"bm25: idCol '$idCol' collides with a working column")
    val toks = docsDf.select(col(idCol), TextAnalysis.tokens(textCol).as("_toks"))
    val dl = toks.select(col(idCol), size(col("_toks")).cast("long").as("dl"))
    val tf = prune(toks.select(col(idCol), explode(col("_toks")).as("term")))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // one row per (doc, term) -> count(*) is the document frequency
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(
      lit(1.0) +
        (nDocs - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * (col("tf") * (lit(k1) + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgDl))
    attachStats(tf.join(dfreq, "term").join(dl, idCol))
      .withColumn("_ts", termScore)
  }

  /** In-plan corpus stats: ONE single-row aggregate (corpus size N and mean
    * document length) over the token stream, broadcast onto the scored rows
    * via the scalar-subquery pattern — same association order as the
    * driver-side `nToks.toDouble / n`, so the double value is identical.
    */
  private def corpusStats(docsDf: DataFrame, idCol: String, textCol: Column): DataFrame =
    docsDf
      .select(col(idCol), TextAnalysis.tokens(textCol).as("_toks"))
      .agg(
        count(lit(1)).cast("double").as("_n_docs"),
        (sum(size(col("_toks"))).cast("double") / count(lit(1))).as("_avgdl"))

  /** One-job scoring: corpus stats computed in-plan (see [[corpusStats]]).
    *
    * @param queryTerms fixed query vocabulary (exact whitespace tokens)
    * @return one row per document matching at least one query term:
    *         `n_matched` (distinct query terms present) and `score`
    */
  def score(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val stats = corpusStats(docsDf, idCol, textCol)
    scoreOver(docsDf, idCol, textCol, queryTerms,
      col("_n_docs"), col("_avgdl"), _.crossJoin(broadcast(stats)), k1, b)
  }

  /** Pre-computed-stats variant, for pipelines that amortize one corpus
    * stats pass across many scorers.
    *
    * @param nDocs corpus size N
    * @param avgDl mean document length in tokens over the corpus
    */
  def score(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      queryTerms: Seq[String],
      nDocs: Long,
      avgDl: Double,
      k1: Double,
      b: Double
  ): DataFrame =
    scoreOver(docsDf, idCol, textCol, queryTerms,
      lit(nDocs.toDouble), lit(avgDl), identity, k1, b)

  private def scoreOver(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      queryTerms: Seq[String],
      nDocs: Column,
      avgDl: Column,
      attachStats: DataFrame => DataFrame,
      k1: Double,
      b: Double
  ): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: query must have at least one term")
    require(b >= 0 && b <= 1, s"bm25: b must be in [0,1], got $b")
    require(k1 >= 0, s"bm25: k1 must be non-negative, got $k1")
    scoredDocTerms(docsDf, idCol, textCol,
      _.filter(col("term").isin(queryTerms: _*)), nDocs, avgDl, attachStats, k1, b)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_matched"),
        sum(col("_ts")).as("score"))
  }

  /** Multi-query top-k retrieval: rank every document against every query of
    * a query SET and keep the best `topK` per query — the batch "search
    * engine" shape (eval-set retrieval, domain-mix selection by prompt set).
    *
    * `queriesDf` is the exploded form (query_id, term), and is query-set
    * sized — explicitly broadcast, so the corpus-side token stream is pruned
    * by a broadcast semi-join BEFORE its first shuffle exactly like
    * [[score]]'s `isin`. The per-query ranking is a keyed window (never a
    * global sort). Ranking uses the floor-rounded score (6 decimals, the
    * [[graft.queries.Parity]] arithmetic) so the cut is reproducible across
    * engines and runs: a raw FP sum differs in last-ulp across addition
    * orders, and ranking on it would make top-k membership nondeterministic.
    */
  def retrieveTopK(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      queriesDf: DataFrame,
      topK: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val stats = corpusStats(docsDf, idCol, textCol)
    retrieveTopKOver(docsDf, idCol, textCol, queriesDf,
      col("_n_docs"), col("_avgdl"), _.crossJoin(broadcast(stats)), topK, k1, b)
  }

  /** Pre-computed-stats variant (see [[score]]'s scalar overload). */
  def retrieveTopK(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      queriesDf: DataFrame,
      nDocs: Long,
      avgDl: Double,
      topK: Int,
      k1: Double,
      b: Double
  ): DataFrame =
    retrieveTopKOver(docsDf, idCol, textCol, queriesDf,
      lit(nDocs.toDouble), lit(avgDl), identity, topK, k1, b)

  private def retrieveTopKOver(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      queriesDf: DataFrame,
      nDocs: Column,
      avgDl: Column,
      attachStats: DataFrame => DataFrame,
      topK: Int,
      k1: Double,
      b: Double
  ): DataFrame = {
    require(topK > 0, "bm25: topK must be positive")
    require(b >= 0 && b <= 1, s"bm25: b must be in [0,1], got $b")
    require(k1 >= 0, s"bm25: k1 must be non-negative, got $k1")
    val qTerms = queriesDf.select(col("term")).distinct()
    val perQueryDoc = scoredDocTerms(docsDf, idCol, textCol,
      _.join(broadcast(qTerms), "term"), nDocs, avgDl, attachStats, k1, b)
      .join(broadcast(queriesDf), "term")
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_matched"), sum(col("_ts")).as("score"))
    rankPerQuery(perQueryDoc, idCol, topK)
  }

  /** Shared per-query ranking cut: floor-round in the double domain
    * (Parity.roundHalfUp's formula) so top-k membership is reproducible
    * across engines and FP summation orders, then a keyed window.
    */
  private def rankPerQuery(perQueryDoc: DataFrame, idCol: String, topK: Int): DataFrame = {
    val rounded = floor(col("score") * 1e6 + 0.5) / 1e6
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_rounded").desc, col(idCol))
    perQueryDoc
      .withColumn("_rounded", rounded)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("n_matched"),
        col("_rounded").as("score"))
  }

  /** Persist a BM25 search index, three legs under one directory:
    *
    *   - `postings/` — one row per (doc, term) carrying `tf` and the doc
    *     length `dl`, REPARTITIONED BY term and sorted within partitions
    *     so a query-term probe prunes parquet row groups via min/max
    *     statistics;
    *   - `docs/` — one row per indexed document (`idCol`, `dl`),
    *     INCLUDING zero-token documents (which leave no posting rows and
    *     would otherwise be invisible to the index): the membership leg
    *     that makes the corpus stats exactly recomputable from index
    *     state alone, so erasure and append need no caller-supplied
    *     counts and replays of a crashed sweep cannot drift `_n_docs`;
    *   - `stats/` — the one-row (`_n_docs`, `_tot_tokens`, `_avgdl`)
    *     corpus aggregate, always DERIVED from `docs/` by
    *     [[statsFromDocs]] so every writer produces bit-identical values
    *     (counts and token totals are integer-valued doubles).
    *
    * The search-service leg of the index-persistence family (band index,
    * IVF, PQ, model): tokenize the corpus ONCE at build; retrieval reads
    * only the probed slice of the postings table and never touches
    * document text again.
    */
  def writeSearchIndex(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      dir: String
  ): Unit = {
    require(!Reserved.contains(idCol),
      s"bm25: idCol '$idCol' collides with a working column")
    // r14 (guide §2.6): the postings leg and the docs->stats chain derive
    // independently from the corpus and write disjoint subtrees — overlap
    // them so the light legs' jobs back-fill the postings shuffle's tail
    graft.operators.Par.unit(
      () => writePostings(docsDf, idCol, textCol, s"$dir/postings"),
      () => {
        writeDocsLeg(docsDf, idCol, textCol, s"$dir/docs")
        writeStatsFromDocs(docsDf.sparkSession, s"$dir/docs", s"$dir/stats")
      })
  }

  /** The postings write shared by build, append staging, and the rectify
    * re-derivation (which `mode("append")`s the corrected docs' postings
    * into a staged leg already holding the kept rows).
    */
  private def writePostings(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      out: String,
      mode: String = "overwrite"
  ): Unit = {
    // dl rides the grouping key (it is functionally dependent on the
    // document id), so the per-document length needs neither a second
    // tokenization pass nor the (id,term,tf)⋈(id,dl) self-join the
    // previous shape paid — one exchange and one tokenize pass fewer
    // for the same rows (r13 optimization round)
    docsDf
      .select(col(idCol), TextAnalysis.tokens(textCol).as("_toks"))
      .select(col(idCol), size(col("_toks")).cast("long").as("dl"),
        explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("term"), col("tf"), col("dl"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode(mode).parquet(out)
  }

  /** The membership leg: one (`idCol`, `dl`) row per document, zero-token
    * documents included.
    */
  private def writeDocsLeg(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      out: String,
      mode: String = "overwrite"
  ): Unit =
    docsDf
      .select(col(idCol),
        size(TextAnalysis.tokens(textCol)).cast("long").as("dl"))
      .write.mode(mode).parquet(out)

  /** The one-row stats frame derived from a `docs/` leg: `count` and
    * `sum(dl)` are integer-valued, so the doubles — and the `_avgdl`
    * division — are bit-identical no matter which writer (build, append,
    * erase) computed them, which is what lets an erased index serve
    * exactly like a rebuild over the retained corpus.
    */
  private def statsFromDocs(spark: org.apache.spark.sql.SparkSession, docsLeg: String): DataFrame = {
    val r = spark.read.parquet(docsLeg)
      .agg(
        count(lit(1)).cast("double").as("_n_docs"),
        coalesce(sum(col("dl")), lit(0L)).cast("double").as("_tot_tokens"))
      .head()
    val n = r.getAs[Double]("_n_docs")
    val tot = r.getAs[Double]("_tot_tokens")
    import spark.implicits._
    Seq((n, tot, if (n > 0.0) tot / n else 0.0))
      .toDF("_n_docs", "_tot_tokens", "_avgdl")
  }

  private def writeStatsFromDocs(
      spark: org.apache.spark.sql.SparkSession,
      docsLeg: String,
      out: String
  ): Unit =
    statsFromDocs(spark, docsLeg).coalesce(1).write.mode("overwrite").parquet(out)

  /** The single swap-stage root shared by [[appendSearchIndex]] and
    * [[eraseFromSearchIndex]] — ONE stage path per index, so
    * [[recoverSearchIndex]] can classify any crashed commit without
    * knowing which operation staged it.
    */
  private def swapStage(dir: String) = s"$dir/.swap-stage"

  /** Crash recovery for the stored index: replays any pending
    * [[graft.operators.PartitionSwap]] commit (append or erase), after
    * which the index is either fully pre-operation or fully
    * post-operation — never postings purged with stale stats, never a
    * half-appended batch. Call before serving or mutating; [[loadSearchIndex]]
    * and the mutators call it themselves.
    */
  def recoverSearchIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    graft.operators.PartitionSwap.recover(spark, dir, "/.swap-stage", "")
  }

  /** Append a new batch's postings to a stored index and merge the corpus
    * stats exactly — the daily-ingest shape (crawl increments land, the
    * serving index absorbs them without re-tokenizing the corpus). The
    * caller is responsible for batch ids being new to the index (run the
    * dedup gate first — the CurateCli ordering).
    *
    * Atomic: the batch's posting files, docs-leg files, and the merged
    * stats all stage under `.swap-stage/` and promote in ONE
    * [[graft.operators.PartitionSwap]] commit whose pending marker lists
    * every staged file — a crash anywhere rolls back to the exact
    * pre-append index (the delta files, having no retired counterpart,
    * are deleted by the entry-list rollback), so a replay re-appends
    * from consistent state instead of doubling the batch. Pass
    * `batchId` to make replays of an applied append no-ops (the
    * streaming-sink recipe); without it the commit still gets a unique
    * internal id for crash classification.
    */
  def appendSearchIndex(
      docsDf: DataFrame,
      idCol: String,
      textCol: Column,
      dir: String,
      batchId: Option[Long] = None
  ): Unit = {
    require(!Reserved.contains(idCol),
      s"bm25: idCol '$idCol' collides with a working column")
    val spark = docsDf.sparkSession
    import graft.operators.PartitionSwap
    recoverSearchIndex(spark, dir)
    if (batchId.exists(PartitionSwap.alreadyApplied(spark, dir, _))) return
    val storedCols = spark.read.parquet(s"$dir/postings").columns
    require(storedCols.contains(idCol),
      s"bm25: stored postings carry ${storedCols.mkString(",")} — no '$idCol'")
    val stage = swapStage(dir)
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    // r14 (guide §2.6): the staged postings leg, the staged docs leg and
    // the OLD stats read are independent — overlap them; the batch-stats
    // read below waits on the staged docs write inside its thunk
    var old: org.apache.spark.sql.Row = null
    graft.operators.Par.unit(
      () => writePostings(docsDf, idCol, textCol, s"$stage/postings"),
      () => writeDocsLeg(docsDf, idCol, textCol, s"$stage/docs"),
      () => { old = statsFromDocs(spark, s"$dir/docs").head() })
    // merged stats: old + batch, integer-valued doubles, so the merge is
    // bit-identical to a recompute over the combined docs leg
    val batch = statsFromDocs(spark, s"$stage/docs").head()
    val n = old.getAs[Double]("_n_docs") + batch.getAs[Double]("_n_docs")
    val tot = old.getAs[Double]("_tot_tokens") + batch.getAs[Double]("_tot_tokens")
    import spark.implicits._
    Seq((n, tot, if (n > 0.0) tot / n else 0.0))
      .toDF("_n_docs", "_tot_tokens", "_avgdl")
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
    // entries: each staged parquet file lands INSIDE the live leg
    // directories (part-file names carry a fresh job UUID, so they never
    // collide with live files); `stats` swaps as a whole leg
    val entries =
      PartitionSwap.stagedParquetFiles(spark, s"$stage/postings")
        .map(f => s"postings/$f") ++
        PartitionSwap.stagedParquetFiles(spark, s"$stage/docs")
          .map(f => s"docs/$f") ++
        Seq("stats")
    PartitionSwap.commit(spark, dir, stage, entries,
      batchId.getOrElse(System.nanoTime()))
  }

  /** Right-to-erasure through the stored index: purge the erased
    * documents' posting and docs-leg rows and recompute the corpus stats
    * EXACTLY from the retained docs leg, so the served index is
    * value-identical to a rebuild over the retained corpus
    * ([[graft.operators.Erasure]] scaladoc: erasure that leaves a
    * subject's documents recoverable from a postings index is not
    * erasure). Zero-token documents decrement `_n_docs` through their
    * docs-leg rows — no caller-supplied count, so a replayed sweep
    * (whatever already happened to the corpus store) can never over- or
    * under-decrement: the decrement IS the docs-leg purge.
    *
    * One scan per leg: the erased-row counts ride the rewrite scans as
    * observe metrics (the [[graft.operators.Erasure.eraseWith]]
    * single-pass recipe), the rewrites are broadcast anti-joins — narrow,
    * no shuffle, term clustering preserved file-for-file. All three legs
    * promote in ONE [[graft.operators.PartitionSwap]] commit: a crash
    * anywhere leaves the fully-erased or fully-intact index, never
    * purged postings under pre-erase `_n_docs`/`_avgdl`. Returns posting
    * rows removed.
    */
  def eraseFromSearchIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      keys: DataFrame,
      idCol: String
  ): Long = {
    import graft.operators.PartitionSwap
    import org.apache.spark.sql.Observation
    recoverSearchIndex(spark, dir)
    val k = keys.select(col(idCol)).distinct()
    val stage = swapStage(dir)
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)

    def stageKept(leg: String): Long = {
      val seen = Observation()
      val kept = Observation()
      spark.read.parquet(s"$dir/$leg")
        .observe(seen, count(lit(1)).as("n"))
        .join(broadcast(k), Seq(idCol), "left_anti")
        .observe(kept, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$stage/$leg")
      // observedOr: a TOTAL erasure's empty stage can lose its observe
      // metrics to AQE empty-relation propagation (Erasure scaladoc)
      graft.operators.Erasure.observedOr(
        seen, spark.read.parquet(s"$dir/$leg").count()) -
        graft.operators.Erasure.observedOr(
          kept, graft.operators.Erasure.stagedCount(spark, s"$stage/$leg"))
    }
    // r14 (guide §2.6): the two kept-leg stagings are independent —
    // overlap them (the stats recompute below waits on the staged docs)
    val Seq(removedPostings, removedDocs) =
      graft.operators.Par.run[Long](Seq(
        () => stageKept("postings"),
        () => stageKept("docs")))
    if (removedPostings == 0L && removedDocs == 0L) {
      // no-match sweep: discard the stage, live files stay byte-identical
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
      return 0L
    }
    writeStatsFromDocs(spark, s"$stage/docs", s"$stage/stats")
    PartitionSwap.commit(spark, dir, stage,
      Seq("postings", "docs", "stats"), System.nanoTime())
    removedPostings
  }

  /** Compact the stored index's accumulated delta files
    * ([[graft.operators.Compaction]] scaladoc for why): every append
    * epoch lands extra part files in the live legs, spreading a term's
    * postings across every epoch's file. Rewrites the CURRENT rows of
    * both data legs through the canonical layout
    * ([[graft.operators.Compaction.compactClustered]] — postings
    * re-clustered and sorted by term, restoring the pruned probe-join
    * locality the original build had; the docs leg keyed by id) into
    * `targetBytes`-ish files, recomputes the one-row stats from the
    * staged docs (bit-identical by the integer-valued contract), and
    * swaps all three legs in ONE [[graft.operators.PartitionSwap]]
    * commit. Content-identical (the q_compact_serve oracle),
    * value-idempotent (re-compacting rewrites equal content),
    * crash-safe (a torn compaction rolls back whole). Returns
    * (postings files before, after).
    */
  def compactSearchIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20
  ): (Int, Int) = {
    import graft.operators.{Compaction, PartitionSwap}
    recoverSearchIndex(spark, dir)
    val stage = swapStage(dir)
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val (before, after) = Compaction.compactClustered(
      spark, s"$dir/postings", s"$stage/postings", targetBytes, Seq("term"))
    val idCol = spark.read.parquet(s"$dir/docs")
      .columns.filterNot(_ == "dl").head
    Compaction.compactClustered(
      spark, s"$dir/docs", s"$stage/docs", targetBytes, Seq(idCol))
    writeStatsFromDocs(spark, s"$stage/docs", s"$stage/stats")
    // ephemeral marker: compaction is value-idempotent, and a scheduled
    // verb must not grow _batches/ by one file per invocation
    PartitionSwap.commitEphemeral(spark, dir, stage,
      Seq("postings", "docs", "stats"))
    (before, after)
  }

  /** Right-to-rectification (GDPR Art. 16) through the stored index:
    * REPLACE the corrected documents' posting and docs-leg rows with rows
    * re-derived from the corrected text, and recompute the corpus stats
    * from the resulting docs leg — so the served index is value-identical
    * to a rebuild over the corrected corpus: the old text is no longer
    * retrievable, the new text is, and `_n_docs`/`_avgdl`/per-term `df`
    * all reflect the corrected token counts exactly
    * ([[graft.operators.Rectify]] scaladoc: rectification that leaves the
    * old text retrievable from a postings index, or ranking through stale
    * stats, has not rectified anything).
    *
    * Replace-only: corrected ids absent from the `docs/` membership leg
    * update nothing (insertion is [[appendSearchIndex]]'s job, behind the
    * ingest pipeline's gates). One scan per live leg — the kept rows are
    * broadcast anti-joins riding observe metrics, the corrected docs'
    * postings/docs rows land as extra files in the same staged legs — and
    * all three legs promote in ONE [[graft.operators.PartitionSwap]]
    * commit: a crash anywhere leaves the fully-rectified or fully-intact
    * index, never new postings under old stats. Pass `batchId` to make
    * replays of an applied rectification exact no-ops (re-running without
    * one still converges: equal content replaces equal content). Returns
    * the number of documents rectified.
    */
  def rectifySearchIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corrected: DataFrame,
      idCol: String,
      textCol: Column,
      batchId: Option[Long] = None
  ): Long = {
    import graft.operators.PartitionSwap
    import org.apache.spark.sql.Observation
    require(!Reserved.contains(idCol),
      s"bm25: idCol '$idCol' collides with a working column")
    recoverSearchIndex(spark, dir)
    if (batchId.exists(PartitionSwap.alreadyApplied(spark, dir, _))) return 0L
    // replace-only membership probe: one narrow scan of the (id, dl) docs
    // leg, request-sized result — corrected ids the index never held must
    // not be inserted past the admission gates
    val matched = spark.read.parquet(s"$dir/docs")
      .join(broadcast(corrected.select(col(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol))
    val hits = corrected.join(broadcast(matched), Seq(idCol), "left_semi")
    // one bounded action for both the hit count and the uniqueness
    // contract: duplicate corrected ids would append DOUBLED postings
    // and docs rows for the same document — refuse, never corrupt
    val hitAgg = hits
      .agg(count(lit(1)).as("n"), count_distinct(col(idCol)).as("nd")).head()
    val nHits = hitAgg.getLong(0)
    require(hitAgg.getLong(1) == nHits,
      s"bm25 rectify: corrected frame has duplicate '$idCol' rows — each id " +
        "must carry exactly one corrected text")
    if (nHits == 0L) return 0L
    val k = hits.select(col(idCol)).distinct()

    val stage = swapStage(dir)
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    def stageKept(leg: String): Unit =
      spark.read.parquet(s"$dir/$leg")
        .join(broadcast(k), Seq(idCol), "left_anti")
        .write.mode("overwrite").parquet(s"$stage/$leg")
    // corrected rows re-derive through the SAME writers as build/append,
    // appended into the staged legs (fresh job UUIDs — no collisions).
    // r14 (guide §2.6): the postings chain and the docs->stats chain
    // stage independent legs — overlap them; ordering INSIDE each leg
    // (kept overwrite, then corrected append, then stats off the staged
    // docs) is preserved, and the single commit below stays the
    // promotion point, so crash semantics are unchanged.
    graft.operators.Par.unit(
      () => {
        stageKept("postings")
        writePostings(hits, idCol, textCol, s"$stage/postings", mode = "append")
      },
      () => {
        stageKept("docs")
        writeDocsLeg(hits, idCol, textCol, s"$stage/docs", mode = "append")
        writeStatsFromDocs(spark, s"$stage/docs", s"$stage/stats")
      })
    PartitionSwap.commit(spark, dir, stage,
      Seq("postings", "docs", "stats"),
      batchId.getOrElse(System.nanoTime()))
    nHits
  }

  /** Load an index written by [[writeSearchIndex]]: (postings, stats).
    * Replays any pending commit first ([[recoverSearchIndex]]).
    *
    * This is the MAINTENANCE reader: it returns raw store state, with
    * logically-erased subjects still present. Serve through
    * [[searchServing]] (which subtracts the pending deletion vectors by
    * default) — or pass the loaded vector as `maskIds` explicitly.
    */
  def loadSearchIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): (DataFrame, DataFrame) = {
    recoverSearchIndex(spark, dir)
    (spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/stats"))
  }

  /** [[retrieveTopK]] against a stored index: same output contract, same
    * BM25 arithmetic, same rounded-ranking cut — but the corpus text is
    * never read. The plan is: broadcast the query vocabulary onto the
    * postings scan (term-sorted files -> row-group pruning), recover each
    * query term's exact document frequency from its own pruned postings,
    * broadcast the one-row stats, score, and rank per query.
    */
  def retrieveTopKIndexed(
      postings: DataFrame,
      stats: DataFrame,
      idCol: String,
      queriesDf: DataFrame,
      topK: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maskIds: Option[DataFrame] = None
  ): DataFrame = {
    require(topK > 0, "bm25: topK must be positive")
    require(b >= 0 && b <= 1, s"bm25: b must be in [0,1], got $b")
    require(k1 >= 0, s"bm25: k1 must be non-negative, got $k1")
    require(!Reserved.contains(idCol),
      s"bm25: idCol '$idCol' collides with a working column")
    val qTerms = queriesDf.select(col("term")).distinct()
    val pruned = postings.join(broadcast(qTerms), "term")
    // df(t) over the pruned postings IS the exact document frequency:
    // every posting of a probed term survives the term join
    val dfreq = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(
      lit(1.0) +
        (col("_n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * (col("tf") * (lit(k1) + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("_avgdl")))
    val perQueryDoc = pruned
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_ts", termScore)
      .join(broadcast(queriesDf), "term")
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_matched"), sum(col("_ts")).as("score"))
    // logical-erasure mask (graft.operators.DeletionVectors): subtract
    // AFTER scoring, BEFORE ranking — masked ids are never returned and
    // ranks stay dense, while N/avgdl/df stay the index's own until the
    // vector settles through the physical sweep (the module's documented
    // eventual-consistency window). The vector is request-sized, so the
    // subtraction is a broadcast anti-join on the candidate set —
    // size-aware (DeletionVectors.hinted): an unsettled mass-withdrawal
    // backlog degrades to a shuffle join instead of a forced broadcast.
    val masked = maskIds match {
      case None => perQueryDoc
      case Some(m) =>
        val keys = m.select(col(m.columns.head).as(idCol)).distinct()
        perQueryDoc.join(graft.operators.DeletionVectors.hinted(keys),
          Seq(idCol), "left_anti")
    }
    rankPerQuery(masked, idCol, topK)
  }

  /** The SERVING entry point: [[loadSearchIndex]] +
    * [[retrieveTopKIndexed]] with the state directory's pending
    * deletion vectors subtracted BY DEFAULT
    * ([[graft.operators.DeletionVectors]]) — a caller who serves
    * through here cannot forget the mask and keep returning
    * logically-erased subjects. `maskStateDir` is the directory whose
    * `.dv/` tree guards this index (under the
    * [[graft.cli.CurateCli]] layout, the state dir holding `search/`);
    * `purpose` scopes the mask (None subtracts every vector — the safe
    * un-scoped read); `unmasked = true` is the explicit maintenance
    * opt-out (compaction and fsck need raw truth, serving never does).
    */
  def searchServing(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      maskStateDir: String,
      queriesDf: DataFrame,
      topK: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      purpose: Option[String] = None,
      unmasked: Boolean = false
  ): DataFrame = {
    val (postings, stats) = loadSearchIndex(spark, indexDir)
    val mask =
      if (unmasked) None
      else graft.operators.DeletionVectors.load(spark, maskStateDir, idCol, purpose)
    retrieveTopKIndexed(postings, stats, idCol, queriesDf, topK, k1, b, mask)
  }
}
