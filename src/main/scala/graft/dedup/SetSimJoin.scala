package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join at a Jaccard threshold via prefix
  * filtering (Chaudhuri/Ganti/Kaushik "A primitive operator for similarity
  * joins", ICDE'06; Vernica/Carey/Li's MapReduce formulation, SIGMOD'10).
  *
  * The approximate candidate generators in [[Dedup]] (MinHash bands) and
  * [[SimHash64]] trade recall for cost: a near-dup pair can land in no
  * shared band and be silently missed. This operator is EXACT at the
  * threshold — every pair with Jaccard >= tau is returned, no pair below
  * tau is — while still never materializing the all-pairs square:
  *
  *   1. token document-frequencies are computed in one exploded
  *      aggregation (map-side combined, token-keyed shuffle);
  *   2. each set's tokens are ordered rarest-first (df asc, token asc —
  *      realized as one sortable string key `lpad(df)||token`, so both
  *      engines sort identically with plain string sort);
  *   3. only the first `s - ceil(tau*s) + 1` tokens of a size-s set (its
  *      "prefix") are exploded into the candidate join: two sets with
  *      Jaccard >= tau MUST share a prefix token (pigeonhole on the
  *      ordered tails), so joining on prefix tokens loses nothing, and
  *      because prefixes hold each set's RAREST tokens the candidate join
  *      fan-out stays near the true-pair count instead of the frequent-
  *      token square;
  *   4. a length filter (`den*|a| >= num*|b|` both ways) prunes pairs no
  *      intersection could carry over the threshold;
  *   5. surviving candidate pairs are verified with the exact
  *      intersection — the threshold test `inter*den >= union*num` is pure
  *      integer arithmetic, so the accept set is bit-identical across
  *      engines (no float tau anywhere on the data path).
  *
  * The threshold is the rational `num/den` for that reason. At 100 TB the
  * cost profile is: one token-keyed shuffle (df), one id-keyed shuffle
  * (set re-assembly), a candidate join keyed on RARE tokens only, and a
  * verify join proportional to candidates — the same shape Vernica et al.
  * report scaling linearly in cluster size. Nothing driver-side, nothing
  * all-pairs.
  *
  * Reference analogue: the reference's validation surface
  * (`/root/reference/dbt_project/tests/assert_no_pii_in_marts.sql`, and
  * the `unique` schema tests in
  * `/root/reference/dbt_project/models/staging/schema.yml`) relies on
  * exact equality only; this gives its users the exact NEAR-dup join the
  * reference lacks.
  */
object SetSimJoin {

  /** Persisted prefix index for [[searchIndex]]: build once over the
    * corpus, then probe incoming batches without recomputing corpus
    * shingle sets, document frequencies, or prefixes — the round-5
    * stored-index convention (BM25 postings / IVF / band index) applied
    * to the exact similarity join.
    *
    * Layout under `dir`:
    *   - `dfreq/`    (tok, df): the corpus token order, FROZEN at build
    *   - `sets/`     (id, keys, sz): per-doc sorted key arrays (verify leg)
    *   - `postings/` (key, id, sz): exploded prefix postings (candidate leg)
    *   - `meta/`     (num, den): the build threshold
    *
    * Correctness note: prefix filtering is exact under ANY shared total
    * token order — rarest-first is a pruning heuristic, not a
    * correctness requirement — so probing with the corpus-frozen order
    * (batch tokens unseen by the corpus take df 0: maximally rare, and
    * unable to match any posting anyway) loses nothing. The accept set
    * is therefore IDENTICAL to an inline [[join]] over the same data,
    * which is exactly what the q_ssjoin_indexed oracle pins.
    */
  def writeIndex(
      corpus: DataFrame,
      idCol: String,
      setCol: String,
      num: Int,
      den: Int,
      dir: String
  ): Unit = {
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.operators.Par.unit(
      // the meta leg is independent of the data legs — overlap it (§2.6)
      () => Seq((num, den)).toDF("num", "den")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta"),
      () => {
        val ex = corpus.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))
        val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
        dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")

        val keyed = ex
          .join(spark.read.parquet(s"$dir/dfreq"), "tok")
          .select(
            col("id"),
            concat(lpad(col("df").cast("string"), 10, "0"), col("tok")).as("key"))
        val assembled = keyed
          .groupBy("id")
          .agg(
            sort_array(collect_list(col("key"))).as("keys"),
            count(lit(1)).cast("int").as("sz"))
        assembled.write.mode("overwrite").parquet(s"$dir/sets")

        spark.read.parquet(s"$dir/sets")
          .transform(prefixOf(_, num, den))
          // co-locate a key's postings so the probe join shuffles the
          // BATCH side only at scale (sort keeps row groups
          // key-contiguous)
          .repartition(col("key"))
          .sortWithinPartitions(col("key"))
          .write.mode("overwrite").parquet(s"$dir/postings")
      })
  }

  /** Crash recovery for the stored index: replays any pending
    * append/erase commit ([[graft.operators.PartitionSwap]] marker),
    * after which sets and postings are consistent with each other —
    * never a half-appended epoch. The mutators and [[searchIndex]] call
    * it themselves.
    */
  def recoverIndex(spark: SparkSession, dir: String): Unit = {
    graft.operators.PartitionSwap.recover(spark, dir, "/.swap-stage", "")
  }

  /** Append a batch to the stored index under the FROZEN token order:
    * the batch's sets and prefix postings are keyed with the stored
    * dfreq (unseen tokens take df 0) and appended — no existing file is
    * rewritten, and searches after the append are still EXACT at the
    * index threshold (prefix filtering is order-agnostic for
    * correctness; only pruning efficiency decays as the true
    * frequencies drift from the frozen ones). Monitor that decay with
    * [[orderDrift]] and rebuild via [[writeIndex]] when it crosses the
    * caller's budget — the Ivf.appendIndex / clusterDrift convention.
    *
    * Atomic: the batch's set files and posting files stage under
    * `.swap-stage/` and promote in ONE
    * [[graft.operators.PartitionSwap]] commit whose pending marker lists
    * every staged file — a crash between the legs (the old mid-epoch
    * window that could only be recovered by rebuilding) now rolls back
    * to the exact pre-append index, and a replay re-appends from
    * consistent state. Pass `batchId` to make replays of an applied
    * epoch no-ops (the streaming-sink recipe).
    */
  def appendIndex(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      setCol: String,
      batchId: Option[Long] = None
  ): Unit = {
    import graft.operators.PartitionSwap
    recoverIndex(spark, dir)
    if (batchId.exists(PartitionSwap.alreadyApplied(spark, dir, _))) return
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (num, den) = (meta.getAs[Int]("num"), meta.getAs[Int]("den"))
    val stage = s"$dir/.swap-stage"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)

    val assembled = assembleFrozen(spark, dir, batch, idCol, setCol).cache()
    assembled.write.mode("overwrite").parquet(s"$stage/sets")
    prefixOf(assembled, num, den)
      .write.mode("overwrite").parquet(s"$stage/postings")
    assembled.unpersist()

    val entries =
      PartitionSwap.stagedParquetFiles(spark, s"$stage/sets")
        .map(f => s"sets/$f") ++
        PartitionSwap.stagedParquetFiles(spark, s"$stage/postings")
          .map(f => s"postings/$f")
    PartitionSwap.commit(spark, dir, stage, entries,
      batchId.getOrElse(System.nanoTime()))
  }

  /** Key a batch's sets under the index's FROZEN token order (unseen
    * tokens take df 0 — maximally rare, unable to match any stored
    * posting) and assemble (id, keys, sz) — the shared derivation of
    * [[appendIndex]] and [[rectifyIndex]].
    */
  private def assembleFrozen(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      setCol: String
  ): DataFrame = {
    val ex = batch.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))
    ex
      .join(spark.read.parquet(s"$dir/dfreq"), Seq("tok"), "left")
      .select(
        col("id"),
        concat(lpad(coalesce(col("df"), lit(0L)).cast("string"), 10, "0"),
          col("tok")).as("key"))
      .groupBy("id")
      .agg(
        sort_array(collect_list(col("key"))).as("keys"),
        count(lit(1)).cast("int").as("sz"))
  }

  /** Explode an assembled frame's prefix postings at threshold num/den.
    * `pos` is the key's 0-based position in the set's sorted key order —
    * the PPJoin positional filter's input (Xiao/Wang/Lin/Yu, "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW'08): for a
    * candidate pair, every shared token sits at or after the FIRST
    * shared token in the common global order, so the exact overlap is
    * bounded by `1 + min(sz_a - p_a, sz_b - p_b)` at that token's
    * 1-based positions — a reject-only prune computed from ints already
    * in flight, applied before the verify legs ship full key arrays.
    */
  private def prefixOf(assembled: DataFrame, num: Int, den: Int): DataFrame = {
    val prefixLen =
      (col("sz") - expr(s"(($num * sz + ${den - 1}) div $den)") + lit(1)).cast("int")
    assembled
      .select(col("id"), col("sz"),
        posexplode(slice(col("keys"), lit(1), prefixLen)).as(Seq("pos", "key")))
      .select(col("id"), col("sz"), col("pos"), col("key"))
  }

  /** Candidate pairs from two (id, sz, pos, key) prefix frames: the
    * equi-key join with the two-sided length filter, reduced to one row
    * per pair carrying the FIRST shared token's positions (the pairwise
    * minimum in both coordinates, since both sides order by the same
    * global key order), then positionally pruned: a pair whose overlap
    * upper bound `1 + min(sz_l - p_l, sz_r - p_r)` cannot reach the
    * accept threshold `inter*(num+den) >= num*(sz_l+sz_r)` is dropped
    * before the verify join ships any key array. Reject-only by the
    * bound above — the accepted pair set is untouched.
    */
  private def candidatesOf(
      prefL: DataFrame,
      prefR: DataFrame,
      num: Int,
      den: Int,
      extraCond: Column = lit(true)
  ): DataFrame = {
    val a = prefL.as("a")
    val b = prefR.as("b")
    a.join(
        b,
        col("a.key") === col("b.key") && extraCond &&
          col("a.sz") * den >= col("b.sz") * num &&
          col("b.sz") * den >= col("a.sz") * num)
      .groupBy(
        col("a.id").as("id_l"), col("a.sz").as("_szl"),
        col("b.id").as("id_r"), col("b.sz").as("_szr"))
      .agg(min(col("a.pos")).as("_pl"), min(col("b.pos")).as("_pr"))
      .filter(
        (lit(1L) + least(col("_szl") - (col("_pl") + 1),
          col("_szr") - (col("_pr") + 1)).cast("long")) * lit((num + den).toLong) >=
          lit(num.toLong) * (col("_szl").cast("long") + col("_szr")))
      .select(col("id_l"), col("id_r"))
  }

  /** Right-to-rectification (GDPR Art. 16) through the stored prefix
    * index: REPLACE the corrected documents' assembled sets and prefix
    * postings with rows re-derived from the corrected shingle sets under
    * the index's frozen token order — so probes after rectification
    * return exactly what a rebuild over the corrected corpus returns at
    * the index threshold (prefix filtering is exact under ANY shared
    * total order, [[writeIndex]] scaladoc; `dfreq/` stays frozen like an
    * append, and [[orderDrift]] monitors the pruning decay). Replace-only:
    * corrected ids absent from `sets/` update nothing. Both legs stage
    * (kept rows via broadcast anti-join, corrected rows as extra files in
    * the same staged legs) and promote in ONE
    * [[graft.operators.PartitionSwap]] commit — never sets that postings
    * disagree with. Pass `batchId` to make replays exact no-ops. Returns
    * documents rectified.
    */
  def rectifyIndex(
      spark: SparkSession,
      dir: String,
      corrected: DataFrame,
      idCol: String,
      setCol: String,
      batchId: Option[Long] = None
  ): Long = {
    import graft.operators.PartitionSwap
    recoverIndex(spark, dir)
    if (batchId.exists(PartitionSwap.alreadyApplied(spark, dir, _))) return 0L
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (num, den) = (meta.getAs[Int]("num"), meta.getAs[Int]("den"))
    val matched = spark.read.parquet(s"$dir/sets")
      .join(broadcast(corrected.select(col(idCol).as("id")).distinct()),
        Seq("id"), "left_semi")
      .select(col("id"))
    val hits = corrected
      .join(broadcast(matched.select(col("id").as(idCol))), Seq(idCol), "left_semi")
    // fused hit count + uniqueness contract: duplicate corrected ids
    // would stage DOUBLED sets and postings for the same document
    val hitAgg = hits
      .agg(count(lit(1)).as("n"), count_distinct(col(idCol)).as("nd")).head()
    val nHits = hitAgg.getLong(0)
    require(hitAgg.getLong(1) == nHits,
      s"ssjoin rectify: corrected frame has duplicate '$idCol' rows — each " +
        "id must carry exactly one corrected set")
    if (nHits == 0L) return 0L
    val k = hits.select(col(idCol).as("id")).distinct()

    val stage = s"$dir/.swap-stage"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    def stageKept(leg: String): Unit =
      spark.read.parquet(s"$dir/$leg")
        .join(broadcast(k), Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(s"$stage/$leg")
    // r14 (guide §2.6): the two staged legs are independent chains
    // (kept overwrite, then corrected append, ordered INSIDE each leg);
    // the shared assembled cache is thread-safe and the single commit
    // below stays the promotion point
    val assembled = assembleFrozen(spark, dir, hits, idCol, setCol).cache()
    graft.operators.Par.unit(
      () => {
        stageKept("sets")
        assembled.write.mode("append").parquet(s"$stage/sets")
      },
      () => {
        stageKept("postings")
        prefixOf(assembled, num, den)
          .write.mode("append").parquet(s"$stage/postings")
      })
    assembled.unpersist()
    PartitionSwap.commit(spark, dir, stage, Seq("sets", "postings"),
      batchId.getOrElse(System.nanoTime()))
    nHits
  }

  /** Right-to-erasure through the stored prefix index: purge the erased
    * documents' assembled sets and prefix postings (both keyed by `id`).
    * `dfreq/` and `meta/` stay frozen — the token ORDER is a pruning
    * heuristic, not a correctness input (writeIndex scaladoc), so probes
    * after erasure return EXACTLY what a rebuild over the retained corpus
    * returns: the accept set is threshold-exact under any shared order,
    * and `inter`/`union_sz`/`jaccard` are set-size arithmetic independent
    * of the embedded df prefixes. Broadcast anti-joins — narrow, key
    * clustering preserved. Returns rows removed across both legs.
    */
  def eraseFromIndex(spark: SparkSession, dir: String, keys: DataFrame, idCol: String): Long = {
    import graft.operators.Erasure
    recoverIndex(spark, dir)
    val k = keys.select(col(idCol).as("id"))
    // both legs stage and promote under ONE commit: a crash between the
    // sets and postings purges would otherwise leave an index whose legs
    // disagree on membership (Fsck.exactIndex's postings_subset_sets)
    Erasure.eraseLegs(spark, dir, k,
      Seq(Erasure.Leg("sets", "id"), Erasure.Leg("postings", "id"))).sum
  }

  /** Compact the accumulated append-epoch delta files
    * ([[graft.operators.Compaction]] scaladoc): rewrite the CURRENT
    * sets and prefix-postings rows through the canonical layout
    * ([[graft.operators.Compaction.compactClustered]] — postings
    * re-clustered and sorted by key, restoring the probe join's
    * key-contiguity; sets keyed by id) and swap both legs in ONE
    * [[graft.operators.PartitionSwap]] commit. The frozen dfreq leg
    * never accumulates (appends key against it, they do not extend it)
    * and stays untouched. Content-identical, value-idempotent,
    * crash-safe. Returns (postings files before, after).
    */
  def compactIndex(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20
  ): (Int, Int) = {
    import graft.operators.{Compaction, PartitionSwap}
    recoverIndex(spark, dir)
    val stage = s"$dir/.swap-stage"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val (before, after) = Compaction.compactClustered(
      spark, s"$dir/postings", s"$stage/postings", targetBytes, Seq("key"))
    Compaction.compactClustered(
      spark, s"$dir/sets", s"$stage/sets", targetBytes, Seq("id"))
    // ephemeral marker: compaction is value-idempotent, and a scheduled
    // verb must not grow _batches/ by one file per invocation
    PartitionSwap.commitEphemeral(spark, dir, stage,
      Seq("postings", "sets"))
    (before, after)
  }

  /** Staleness audit for an appended-to index: the fraction of the
    * batch's (doc, token) occurrences the frozen dfreq has never seen
    * (df 0 keys). Unseen tokens are always safe for correctness, but a
    * rising fraction means the frozen order is drifting from the true
    * frequencies and prefix pruning is losing its bite — rebuild when it
    * crosses the pipeline's budget.
    */
  def orderDrift(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      setCol: String
  ): Double = {
    val ex = batch.select(explode(col(setCol)).as("tok"))
    val joined = ex
      .join(spark.read.parquet(s"$dir/dfreq"), Seq("tok"), "left")
      .agg(
        count(lit(1)).as("total"),
        count(col("df")).as("seen"))
      .head()
    val total = joined.getLong(0)
    if (total == 0L) 0.0 else 1.0 - joined.getLong(1).toDouble / total.toDouble
  }

  /** Probe the stored index with a batch: all (batch, corpus) pairs at
    * the INDEX's threshold. Reads dfreq (token-keyed join), postings
    * (candidate join), and sets (verify) — never the corpus documents.
    */
  def searchIndex(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      setCol: String,
      maxPostingsPerKey: Option[Int] = None
  ): DataFrame = {
    recoverIndex(spark, dir)
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (num, den) = (meta.getAs[Int]("num"), meta.getAs[Int]("den"))

    val exB = batch.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))
    val keyedB = exB
      .join(spark.read.parquet(s"$dir/dfreq"), Seq("tok"), "left")
      .select(
        col("id"),
        concat(lpad(coalesce(col("df"), lit(0L)).cast("string"), 10, "0"),
          col("tok")).as("key"))
    val asmB = keyedB
      .groupBy("id")
      .agg(
        sort_array(collect_list(col("key"))).as("keys"),
        count(lit(1)).cast("int").as("sz"))
    val prefB = prefixOf(asmB, num, den)

    // a pre-r14 index stores postings without `pos`; the positional
    // filter is pure pruning, so those indexes fall back to the plain
    // distinct-candidates path (same accept set, more verify work)
    val postingsRaw = spark.read.parquet(s"$dir/postings")
    val postings = guardPrefix(postingsRaw, "searchIndex/stored", maxPostingsPerKey)
    val prefGuarded = guardPrefix(prefB, "searchIndex/batch", maxPostingsPerKey)
    val cand =
      if (postingsRaw.columns.contains("pos"))
        candidatesOf(prefGuarded, postings, num, den)
      else
        prefGuarded.as("a")
          .join(
            postings.as("b"),
            col("a.key") === col("b.key") &&
              col("a.sz") * den >= col("b.sz") * num &&
              col("b.sz") * den >= col("a.sz") * num)
          .select(col("a.id").as("id_l"), col("b.id").as("id_r"))
          .distinct()

    val setsStored = spark.read.parquet(s"$dir/sets")
    cand
      .join(
        asmB.select(col("id").as("id_l"), col("keys").as("keys_l"), col("sz").as("sz_l")),
        "id_l")
      .join(
        setsStored.select(col("id").as("id_r"), col("keys").as("keys_r"), col("sz").as("sz_r")),
        "id_r")
      .select(
        col("id_l"), col("id_r"),
        size(array_intersect(col("keys_l"), col("keys_r"))).as("inter"),
        col("sz_l"), col("sz_r"))
      .withColumn("union_sz", (col("sz_l") + col("sz_r") - col("inter")).cast("int"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(
        col("id_l"), col("id_r"), col("inter"), col("union_sz"),
        (col("inter").cast("double") / col("union_sz").cast("double")).as("jaccard"))
  }

  /** Two-table variant: every (left, right) pair with Jaccard >= num/den —
    * the EXACT decontamination join (which benchmark document near-matches
    * which corpus document), where the shingle-overlap stats in
    * [[graft.text]] measure contamination without pairing documents. The
    * global token order (df asc, token asc) is computed over the UNION of
    * both sides, so the prefix theorem holds across tables; candidates
    * join left-prefix x right-prefix on the shared key.
    *
    * Output: (id_l, id_r, inter, union_sz, jaccard).
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      setCol: String,
      num: Int,
      den: Int,
      maxPostingsPerKey: Option[Int] = None
  ): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")

    val exL = left.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))
    val exR = right.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))
    val dfreq = exL.unionByName(exR).groupBy("tok").agg(count(lit(1)).as("df"))

    // recompute-narrow beats materialize-wide here too — see selfJoin's
    // measured note
    def assemble(ex: DataFrame) = ex
      .join(dfreq, "tok")
      .select(
        col("id"),
        concat(lpad(col("df").cast("string"), 10, "0"), col("tok")).as("key"))
      .groupBy("id")
      .agg(
        sort_array(collect_list(col("key"))).as("keys"),
        count(lit(1)).cast("int").as("sz"))

    val aL = assemble(exL)
    val aR = assemble(exR)
    // candidate pairs: shared prefix key + two-sided length filter +
    // the positional overlap bound (candidatesOf) — all reject-only
    val cand = candidatesOf(
      guardPrefix(prefixOf(aL, num, den), "join/left", maxPostingsPerKey),
      guardPrefix(prefixOf(aR, num, den), "join/right", maxPostingsPerKey),
      num, den)

    cand
      .join(
        aL.select(col("id").as("id_l"), col("keys").as("keys_l"), col("sz").as("sz_l")),
        "id_l")
      .join(
        aR.select(col("id").as("id_r"), col("keys").as("keys_r"), col("sz").as("sz_r")),
        "id_r")
      .select(
        col("id_l"), col("id_r"),
        size(array_intersect(col("keys_l"), col("keys_r"))).as("inter"),
        col("sz_l"), col("sz_r"))
      .withColumn("union_sz", (col("sz_l") + col("sz_r") - col("inter")).cast("int"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(
        col("id_l"), col("id_r"), col("inter"), col("union_sz"),
        (col("inter").cast("double") / col("union_sz").cast("double")).as("jaccard"))
  }

  /** Self-join `sets` (columns: `idCol`, `setCol: array<string>`, distinct
    * elements) returning pairs with Jaccard >= num/den.
    *
    * Output: (id_a, id_b, inter, union_sz, jaccard) with id_a < id_b,
    * `inter`/`union_sz` as ints, `jaccard` the exact double ratio.
    */
  /** Candidate-skew guard (the [[Dedup.capBuckets]] concern, adapted to
    * an EXACT operator): a degenerate corpus — thousands of
    * near-identical documents, or a handful of universal shingles —
    * makes some prefix key land in a huge share of prefixes, and the
    * candidate join under that key goes quadratic. capBuckets silently
    * drops members because LSH is already approximate; here silent
    * dropping would break the exactness contract, so the guard REFUSES
    * LOUDLY instead: every prefix row is joined with its key's posting
    * count (one key-sized aggregate + one prefix-keyed shuffle — only
    * when a cap is supplied; `None` leaves the plan untouched) and a
    * row whose key exceeds the cap raises in-plan, naming the key and
    * the count, before the quadratic join can OOM an executor. Below
    * the cap, results are bit-identical to the unguarded run.
    * [[prefixSkewReport]] is the observability half: run it to SEE the
    * skew and pick a cap (or pre-dedup the degenerate docs) before
    * enabling the guard in production.
    */
  private def guardPrefix(
      pref: DataFrame,
      side: String,
      maxPostingsPerKey: Option[Int]
  ): DataFrame =
    maxPostingsPerKey.fold(pref) { cap =>
      require(cap > 0, s"setsim skew guard: cap must be positive, got $cap")
      val cnt = pref.groupBy(col("key")).agg(count(lit(1)).as("_kc"))
      pref.join(cnt, "key")
        .withColumn("_guard",
          when(col("_kc") > cap,
            raise_error(concat(
              lit(s"setsim skew guard ($side): prefix key "), col("key"),
              lit(" lands in "), col("_kc").cast("string"),
              lit(s" prefixes (cap $cap) — the candidate join under it is " +
                "quadratic; pre-dedup the degenerate near-identical " +
                "documents or raise the cap"))))
            .otherwise(lit(true)))
        .filter(col("_guard"))
        .drop("_kc", "_guard")
    }

  /** Per-prefix-key skew report over a candidate self-join's inputs:
    * `(key, n_postings, est_pairs)` for the `topN` hottest prefix keys —
    * `est_pairs = n·(n−1)/2` is the candidate-pair mass the key would
    * feed the join. The audit to run when sizing
    * `maxPostingsPerKey`; prefix-sized aggregation, never all-pairs.
    */
  def prefixSkewReport(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      num: Int,
      den: Int,
      topN: Int = 20
  ): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")
    val ex = sets.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    val assembled = ex
      .join(dfreq, "tok")
      .select(col("id"),
        concat(lpad(col("df").cast("string"), 10, "0"), col("tok")).as("key"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("key"))).as("keys"),
        count(lit(1)).cast("int").as("sz"))
    val prefixLen =
      (col("sz") - expr(s"(($num * sz + ${den - 1}) div $den)") + lit(1)).cast("int")
    assembled
      .select(explode(slice(col("keys"), lit(1), prefixLen)).as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_postings"))
      .withColumn("est_pairs", col("n_postings") * (col("n_postings") - 1) / 2)
      .orderBy(col("n_postings").desc, col("key"))
      .limit(topN)
  }

  def selfJoin(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      num: Int,
      den: Int,
      maxPostingsPerKey: Option[Int] = None
  ): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")

    val ex = sets.select(col(idCol).as("id"), explode(col(setCol)).as("tok"))

    // document frequency per token: map-side combined, one token shuffle
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))

    // rarest-first order as ONE sortable string key: df zero-padded to a
    // fixed width so lexicographic string order == (df asc, token asc).
    // 10 digits holds any df below 10^10 rows.
    val keyed = ex
      .join(dfreq, "tok")
      .select(
        col("id"),
        concat(lpad(col("df").cast("string"), 10, "0"), col("tok")).as("key")
      )

    // MEASURED NON-TRADE: this frame feeds three consumers (prefix
    // explode + both verify legs) and the self-join plan re-derives the
    // scan + shingling + df join + assembly once per consumer (4 corpus
    // passes, no exchange reuse across dedup'd legs). Materializing it
    // once (localCheckpoint) was tried and is 4x SLOWER at sf0.1
    // (3.5 s -> 14.7 s): the assembled key ARRAYS carry the whole
    // shingle set as strings, and serializing that dwarfs re-running
    // narrow codegen'd compute. Recompute-narrow beats materialize-wide
    // here — the inverse of the pagerank edge-list call, which
    // checkpointed a SLIM k*|V| frame. For repeated probing, the stored
    // index ([[writeIndex]]/[[searchIndex]]) is the right amortization.
    val assembled = keyed
      .groupBy("id")
      .agg(
        sort_array(collect_list(col("key"))).as("keys"),
        count(lit(1)).cast("int").as("sz")
      )

    // prefix length p = s - ceil(num*s/den) + 1, all-integer inside
    // prefixOf; candidate pairs: shared prefix token + two-sided length
    // filter (jaccard >= num/den forces den*min >= num*max) + the
    // positional overlap bound (candidatesOf) — all reject-only
    val pref = guardPrefix(prefixOf(assembled, num, den),
      "selfJoin", maxPostingsPerKey)
    val cand = candidatesOf(pref, pref, num, den,
      extraCond = col("a.id") < col("b.id"))
      .select(col("id_l").as("id_a"), col("id_r").as("id_b"))

    // exact verify: integer threshold test, no float tau
    val withA = assembled.select(col("id").as("id_a"), col("keys").as("keys_a"), col("sz").as("sz_a"))
    val withB = assembled.select(col("id").as("id_b"), col("keys").as("keys_b"), col("sz").as("sz_b"))
    cand
      .join(withA, "id_a")
      .join(withB, "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        size(array_intersect(col("keys_a"), col("keys_b"))).as("inter"),
        col("sz_a"),
        col("sz_b")
      )
      .withColumn("union_sz", (col("sz_a") + col("sz_b") - col("inter")).cast("int"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(
        col("id_a"),
        col("id_b"),
        col("inter"),
        col("union_sz"),
        (col("inter").cast("double") / col("union_sz").cast("double")).as("jaccard")
      )
  }
}
