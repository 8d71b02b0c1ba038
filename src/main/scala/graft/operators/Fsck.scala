package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store consistency auditor — the `fsck` for the incremental state
  * directory. Every maintained store now commits under a crash protocol
  * ([[PartitionSwap]], the retire/promote swaps) and several carry
  * REDUNDANT state by design (BM25 stats derivable from the docs leg,
  * prefix postings derivable from the sets leg, every serving leg keyed
  * by corpus membership). This module turns that redundancy into
  * mechanical invariants an operator can check BEFORE serving — the
  * difference between "the crash protocol should have worked" and "the
  * store is provably consistent right now".
  *
  * Checks are read-only and scale-shaped: marker hygiene is pure
  * filesystem metadata; membership checks are anti-join COUNTS over the
  * id projections (column-pruned scans, no data movement beyond the
  * aggregate); the stats check recomputes one row from the docs leg.
  * Nothing corpus-sized shuffles, nothing is rewritten.
  */
object Fsck {

  final case class Check(component: String, check: String, ok: Boolean, detail: String)

  private def exists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Commit-protocol hygiene for one store root: a pending marker, a
    * `.retired` sibling, a leftover stage dir or any swap-debris sibling
    * ([[PartitionSwap.debrisOwner]]) mean a crashed commit nobody has
    * recovered yet — serving such a store skips the rollback the
    * protocol prescribes. (Stores recover on their own load paths; fsck
    * reports the debt without mutating anything.)
    */
  def markerHygiene(spark: SparkSession, dir: String, label: String): Seq[Check] = {
    val live = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val siblings =
      if (fs.exists(live.getParent)) fs.listStatus(live.getParent).map(_.getPath.getName).toSeq
      else Seq.empty
    val (retired, staged) = siblings
      .filter(n => PartitionSwap.debrisOwner(n).contains(live.getName))
      .partition(_ == PartitionSwap.retiredOf(live.getName))
    Seq(
      Check(label, "no_pending_marker",
        !exists(spark, s"$dir/_batches/_pending"),
        s"$dir/_batches/_pending"),
      Check(label, "no_retired_tree",
        !exists(spark, s"$live.retired") && retired.isEmpty,
        s"$live.retired" + retired.map(n => s", $n").mkString),
      Check(label, "no_stage_tree",
        !exists(spark, s"$live.merge-stage") &&
          !exists(spark, s"$live/.swap-stage") && staged.isEmpty,
        ("merge-stage/.swap-stage" +: staged).mkString("/")))
  }

  /** BM25 search-index invariants, checkable because the docs leg makes
    * the corpus stats REDUNDANT:
    *   - `stats_exact`: the stored one-row stats are value-identical to
    *     a recompute from `docs/` (the erase/append exactness contract);
    *   - `postings_subset_docs`: every posting row's doc is a member of
    *     the docs leg (an erase that purged docs but not postings — or
    *     vice versa — breaks this);
    *   - `docs_unique`: one membership row per document;
    *   - `dl_consistent`: every posting's carried `dl` equals its doc's
    *     membership `dl` (postings and docs legs agree on lengths).
    */
  def searchIndex(spark: SparkSession, dir: String): Seq[Check] = {
    val docs = spark.read.parquet(s"$dir/docs")
    val postings = spark.read.parquet(s"$dir/postings")
    val idCol = docs.columns.filterNot(_ == "dl").head

    val stored = spark.read.parquet(s"$dir/stats").head()
    // one docs-leg pass: stats recompute + uniqueness
    val dAgg = docs.agg(
      count(lit(1)).cast("double").as("n"),
      coalesce(sum(col("dl")), lit(0L)).cast("double").as("tot"),
      (count(lit(1)) - count_distinct(col(idCol))).as("dups")).head()
    val n = dAgg.getAs[Double]("n")
    val tot = dAgg.getAs[Double]("tot")
    val avg = if (n > 0.0) tot / n else 0.0
    val statsOk = stored.getAs[Double]("_n_docs") == n &&
      stored.getAs[Double]("_tot_tokens") == tot &&
      stored.getAs[Double]("_avgdl") == avg
    val dupDocs = dAgg.getAs[Long]("dups")

    // one postings⋈docs pass: membership AND dl agreement
    val j = postings.select(col(idCol), col("dl").as("_p_dl"))
      .join(docs.withColumnRenamed("dl", "_d_dl"), Seq(idCol), "left")
      .agg(
        sum(when(col("_d_dl").isNull, 1L).otherwise(0L)).as("orphans"),
        sum(when(col("_d_dl").isNotNull && col("_p_dl") =!= col("_d_dl"), 1L)
          .otherwise(0L)).as("dl_bad")).head()
    val orphanPostings = Option(j.getAs[Long]("orphans")).getOrElse(0L)
    val dlMismatch = Option(j.getAs[Long]("dl_bad")).getOrElse(0L)

    markerHygiene(spark, dir, "search") ++ Seq(
      Check("search", "stats_exact", statsOk,
        s"stored=(${stored.mkString(",")}) recomputed=($n,$tot,$avg)"),
      Check("search", "postings_subset_docs", orphanPostings == 0L,
        s"$orphanPostings orphan posting rows"),
      Check("search", "docs_unique", dupDocs == 0L, s"$dupDocs duplicated ids"),
      Check("search", "dl_consistent", dlMismatch == 0L,
        s"$dlMismatch postings disagree with the docs leg on dl"))
  }

  /** SetSimJoin prefix-index invariants: every posting row's id has a
    * sets-leg row (`postings_subset_sets`), sets ids are unique, and
    * each id's posting count equals the prefix length its stored `sz`
    * implies under the index threshold (`prefix_count_exact`) — a
    * half-appended or half-erased epoch breaks one of these.
    */
  def exactIndex(spark: SparkSession, dir: String): Seq[Check] = {
    val sets = spark.read.parquet(s"$dir/sets")
    val postings = spark.read.parquet(s"$dir/postings")
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (num, den) = (meta.getAs[Int]("num"), meta.getAs[Int]("den"))

    val expectedPrefix =
      (col("sz") - expr(s"(($num * sz + ${den - 1}) div $den)") + lit(1))
        .cast("long")
    // one full-join pass: membership, uniqueness, and prefix exactness
    val agg = postings.groupBy(col("id")).agg(count(lit(1)).as("_np"))
      .join(sets.select(col("id"), expectedPrefix.as("_want")), Seq("id"), "full")
      .agg(
        sum(when(col("_want").isNull, 1L).otherwise(0L)).as("orphans"),
        sum(when(col("_want").isNotNull &&
          !(coalesce(col("_np"), lit(0L)) === col("_want")), 1L)
          .otherwise(0L)).as("prefix_bad")).head()
    val orphan = Option(agg.getAs[Long]("orphans")).getOrElse(0L)
    val prefixBad = Option(agg.getAs[Long]("prefix_bad")).getOrElse(0L)
    val sAgg = sets.agg(
      (count(lit(1)) - count_distinct(col("id"))).as("dups")).head()
    val dupSets = sAgg.getAs[Long]("dups")

    markerHygiene(spark, dir, "exact") ++ Seq(
      Check("exact", "postings_subset_sets", orphan == 0L,
        s"$orphan orphan posting rows"),
      Check("exact", "sets_unique", dupSets == 0L, s"$dupSets duplicated ids"),
      Check("exact", "prefix_count_exact", prefixBad == 0L,
        s"$prefixBad ids whose posting count disagrees with sz at $num/$den"))
  }

  /** MinHash band-index invariants: every document carries EXACTLY
    * `num_bands` band rows (a half-appended or half-erased batch leaves
    * a partial signature that silently weakens near-dup recall) and
    * exactly one shingle-set row, and the two legs agree on membership.
    * One full-join pass plus a shingles-leg aggregate. An index whose
    * meta lacks the shingle-form marker (md5-digest shingle sets, which
    * every reader refuses: [[graft.dedup.Dedup.bandMeta]]) fails
    * `shingle_form` and is not audited further: it must be rebuilt.
    */
  def bandIndex(spark: SparkSession, dir: String): Seq[Check] = {
    val meta =
      try graft.dedup.Dedup.bandMeta(spark, dir)
      catch {
        case e: IllegalArgumentException =>
          return markerHygiene(spark, dir, "band") :+
            Check("band", "shingle_form", false, e.getMessage)
      }
    val idCol = meta.idCol
    val numBands = meta.numBands
    val bands = spark.read.parquet(s"$dir/bands")
    val shingles = spark.read.parquet(s"$dir/shingles")

    val agg = bands.groupBy(col(idCol)).agg(count(lit(1)).as("_nb"))
      .join(shingles.select(col(idCol), lit(1L).as("_s")), Seq(idCol), "full")
      .agg(
        sum(when(col("_s").isNull, 1L).otherwise(0L)).as("bands_only"),
        sum(when(col("_nb").isNull, 1L).otherwise(0L)).as("shingles_only"),
        sum(when(col("_nb").isNotNull && col("_nb") =!= numBands.toLong, 1L)
          .otherwise(0L)).as("partial_sigs")).head()
    def n(f: String) = Option(agg.getAs[Long](f)).getOrElse(0L)
    val dupShingles = shingles.agg(
      (count(lit(1)) - count_distinct(col(idCol))).as("dups")).head().getAs[Long]("dups")

    markerHygiene(spark, dir, "band") ++ Seq(
      Check("band", "shingle_form", true, graft.dedup.Dedup.ShingleForm),
      Check("band", "legs_agree", n("bands_only") == 0L && n("shingles_only") == 0L,
        s"${n("bands_only")} ids bands-only, ${n("shingles_only")} shingles-only"),
      Check("band", "signature_complete", n("partial_sigs") == 0L,
        s"${n("partial_sigs")} ids without exactly $numBands band rows"),
      Check("band", "shingles_unique", dupShingles == 0L,
        s"$dupShingles duplicated ids"))
  }

  /** Dense IVF / IVF-PQ index invariants ([[graft.similarity.Ivf]]
    * layout: `centroids/` + `assigned/` partitioned by cluster):
    *   - `assigned_subset_centroids`: every assignment references a
    *     stored centroid (a purge or rectify that rewrote one leg but
    *     not the other breaks this; EMPTY centroids are legal — erasure
    *     can drain a cluster);
    *   - `centroid_ids_unique` and `centroid_dims_consistent`;
    *   - `vec_dims_consistent`: every stored vector has one length —
    *     equal to the centroid dimension for a raw-embedding index
    *     (PQ `codes` are length-m and deliberately exempt);
    *   - `no_null_vectors`.
    * One pass over the assignments (per-cluster fused aggregate joined
    * against the centroid list), one over the small centroid matrix.
    */
  def denseIndex(spark: SparkSession, dir: String): Seq[Check] = {
    import org.apache.spark.sql.types.ArrayType
    val centroids = spark.read.parquet(s"$dir/centroids")
    val assigned = spark.read.parquet(s"$dir/assigned")
    val vecCol = assigned.schema.fields
      .find(f => f.dataType.isInstanceOf[ArrayType] && f.name != "centroid_id")
      .map(_.name)
      .getOrElse(sys.error(s"dense fsck: no vector column in $dir/assigned"))

    val cAgg = centroids.agg(
      (count(lit(1)) - count_distinct(col("centroid_id"))).as("dups"),
      count_distinct(size(col("centroid"))).as("cdims"),
      max(size(col("centroid"))).as("cdim")).head()
    val perCluster = assigned
      .groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("_n"),
        min(size(col(vecCol))).as("_lo"),
        max(size(col(vecCol))).as("_hi"),
        sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("_nulls"))
    val aAgg = perCluster
      .join(centroids.select(col("centroid_id"), lit(1).as("_c")),
        Seq("centroid_id"), "left")
      .agg(
        sum(when(col("_c").isNull, col("_n")).otherwise(0L)).as("orphans"),
        min(col("_lo")).as("lo"),
        max(col("_hi")).as("hi"),
        coalesce(sum(col("_nulls")), lit(0L)).as("nulls")).head()
    val orphans = Option(aAgg.getAs[Long]("orphans")).getOrElse(0L)
    val dimsOk = aAgg.isNullAt(1) ||
      (aAgg.getInt(1) == aAgg.getInt(2) &&
        (vecCol == "codes" || aAgg.getInt(2) == cAgg.getAs[Int]("cdim")))

    markerHygiene(spark, s"$dir/assigned", "dense") ++ Seq(
      Check("dense", "assigned_subset_centroids", orphans == 0L,
        s"$orphans assignments reference a missing centroid"),
      Check("dense", "centroid_ids_unique", cAgg.getAs[Long]("dups") == 0L,
        s"${cAgg.getAs[Long]("dups")} duplicated centroid ids"),
      Check("dense", "centroid_dims_consistent",
        cAgg.getAs[Long]("cdims") <= 1L,
        s"${cAgg.getAs[Long]("cdims")} distinct centroid dims"),
      Check("dense", "vec_dims_consistent", dimsOk,
        s"$vecCol sizes [${aAgg.get(1)}, ${aAgg.get(2)}] vs centroid dim " +
          s"${cAgg.getAs[Int]("cdim")}"),
      Check("dense", "no_null_vectors", aAgg.getAs[Long]("nulls") == 0L,
        s"${aAgg.getAs[Long]("nulls")} null vectors"))
  }

  /** Shard-directory invariants across every `batch=N` directory under
    * `root` — what [[Shards.rectifyByKey]] and the read-back audit REST
    * on: per-(batch, shard) positions are dense 0..n-1 with no
    * duplicates (one fused aggregate over ONE partitioned scan of the
    * whole batch tree — `batch`/`shard` come back as partition columns,
    * so the audit plan has a single scan relation however many batches
    * accumulated, never an N-leg union), and no batch directory has
    * in-flight swap debris ([[PartitionSwap.debrisOwner]] siblings a
    * crashed rewrite leaves). Because fsck must REPORT debt,
    * not repay it, the debris census runs on the RAW listing before the
    * data read (which deliberately skips debris and flat husks —
    * [[Shards.liveBatchDirs]] heals nothing here when debris is absent,
    * and a retired-only directory surfaces as debris rather than being
    * silently restored mid-audit).
    */
  def shards(spark: SparkSession, root: String): Seq[Check] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children = fs.listStatus(rootPath).map(_.getPath.getName)
    val debris = children.filter(PartitionSwap.debrisOwner(_).isDefined)
    val batchDirs = Shards.batchDirs(fs, rootPath)
    val badPositions =
      if (batchDirs.isEmpty) 0L
      else Shards.readBatches(spark, root, batchDirs.toSeq)
        .select(col("batch"), col("shard"), col("shard_pos"))
        .groupBy(col("batch"), col("shard"))
        .agg(
          count(lit(1)).as("_n"),
          count_distinct(col("shard_pos")).as("_nd"),
          min(col("shard_pos")).as("_lo"),
          max(col("shard_pos")).as("_hi"))
        .filter(col("_lo") =!= 0L || col("_hi") =!= col("_n") - 1 ||
          col("_nd") =!= col("_n"))
        .count()
    Seq(
      Check("shards", "positions_dense", badPositions == 0L,
        s"$badPositions (batch, shard) groups with non-contiguous positions"),
      Check("shards", "no_swap_debris", debris.isEmpty,
        if (debris.isEmpty) "clean" else debris.mkString(",")))
  }

  /** SCD-2 snapshot-store invariants ([[graft.pipeline.Snapshot]]
    * bucketed layout): every key has EXACTLY one current row
    * (`valid_to` null) and it is the LAST version, and superseded
    * versions chain exactly — each `valid_to` equals the next version's
    * `valid_from`, so validity intervals can neither overlap nor gap.
    * One keyed-window pass (keys are many, the window spreads), plus
    * marker hygiene for the merge stage and the pruned-read manifest's
    * dirty marker.
    */
  def snapshotStore(
      spark: SparkSession,
      dir: String,
      uniqueKey: String
  ): Seq[Check] = {
    import org.apache.spark.sql.expressions.Window
    val df = spark.read.parquet(dir)
    val w = Window.partitionBy(col(uniqueKey)).orderBy(col("valid_from").asc)
    val agg = df.select(col(uniqueKey), col("valid_from"), col("valid_to"))
      .withColumn("_nx", lead(col("valid_from"), 1).over(w))
      .agg(
        sum(when(col("valid_to").isNull && col("_nx").isNotNull, 1L)
          .otherwise(0L)).as("nonterm"),
        sum(when(col("valid_to").isNotNull && !(col("valid_to") <=> col("_nx")),
          1L).otherwise(0L)).as("breaks"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("curs"),
        count_distinct(col(uniqueKey)).as("keys")).head()
    def n(f: String) = Option(agg.getAs[Long](f)).getOrElse(0L)
    val stripped = dir.stripSuffix("/")
    Seq(
      Check("snapshot", "one_current_per_key",
        n("nonterm") == 0L && n("curs") == n("keys"),
        s"${n("curs")} current rows over ${n("keys")} keys, " +
          s"${n("nonterm")} non-terminal currents"),
      Check("snapshot", "validity_chained", n("breaks") == 0L,
        s"${n("breaks")} superseded versions whose valid_to misses the " +
          "next valid_from"),
      Check("snapshot", "no_stage_tree",
        !exists(spark, s"$stripped.merge-stage") &&
          !exists(spark, s"$stripped.erase-stage") &&
          !exists(spark, s"$stripped.expire-stage"),
        s"$stripped.{merge,erase,expire}-stage"),
      Check("snapshot", "manifest_clean",
        !exists(spark,
          s"$dir/${DataSkipping.ManifestSubdir}__dirty"),
        "dirty manifest marker (a crashed merge left pruned reads unsafe)"))
  }

  /** [[EventStatsStore]] invariants (day-partitioned hourly-count store):
    *   - `day_consistent`: every row's `day` partition value equals the
    *     UTC day its `hour` bucket falls in — the store's partition-
    *     pruning contract ([[EventStatsStore.score]] prunes on `day`
    *     derived from the hour horizon; a mismatched row would silently
    *     escape the baseline window);
    *   - `counts_positive`: no zero/negative counts (merge sums positive
    *     batches; erase DELETES rows reaching zero rather than storing
    *     them — a `n <= 0` row is a corrupted subtraction);
    *   - `rows_unique`: one row per (keys…, hour) — a torn merge that
    *     double-landed a day would duplicate instead of summing.
    * One fused aggregate over a RAW read (the store's own load path
    * would repay commit debt before fsck could report it), plus the
    * shared marker hygiene for the `.merge-stage` swap protocol.
    */
  def eventStats(spark: SparkSession, dir: String): Seq[Check] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an all-marker store (empty bootstrap batches) holds no day
    // partitions and nothing to scan — hygiene checks still apply
    val hasData = fs.exists(dirPath) &&
      fs.listStatus(dirPath).exists(_.getPath.getName.startsWith("day="))
    if (!hasData)
      return markerHygiene(spark, dir, "events") ++ Seq(
        Check("events", "day_consistent", ok = true, "empty store"),
        Check("events", "counts_positive", ok = true, "empty store"),
        Check("events", "rows_unique", ok = true, "empty store"))
    val df = spark.read.parquet(dir)
    val keyish = df.columns.filterNot(c => c == "n" || c == "day")
    val expectedDay = date_format(
      date_add(to_date(lit("1970-01-01")),
        floor(col("hour").cast("long") / 86400L).cast("int")),
      "yyyy-MM-dd")
    val agg = df.agg(
      sum(when(!(col("day").cast("string") <=> expectedDay), 1L)
        .otherwise(0L)).as("day_bad"),
      sum(when(col("n") <= 0L, 1L).otherwise(0L)).as("nonpos"),
      (count(lit(1)) -
        count_distinct(struct(keyish.map(col): _*))).as("dups")).head()
    def n(f: String) = Option(agg.getAs[Long](f)).getOrElse(0L)
    markerHygiene(spark, dir, "events") ++ Seq(
      Check("events", "day_consistent", n("day_bad") == 0L,
        s"${n("day_bad")} rows whose day partition disagrees with hour"),
      Check("events", "counts_positive", n("nonpos") == 0L,
        s"${n("nonpos")} rows with non-positive counts"),
      Check("events", "rows_unique", n("dups") == 0L,
        s"${n("dups")} duplicated (keys, hour) rows"))
  }

  /** Pending-sweep commit debt for a state directory: a durable facts or
    * keys capture outlives only a CRASHED sweep (completed sweeps delete
    * theirs), and serving a store with one pending skips the replay the
    * capture exists for. Read-only, the markerHygiene stance — the heal
    * is re-running THAT sweep, never deleting the capture it needs.
    * `.retention-keys` is the capture [[graft.cli.CurateCli.runRetention]]
    * resumes from (expired batch directories already dropped, erase
    * sweep not yet complete) — the round-9 audit blind spot.
    */
  def pendingSweepDebt(spark: SparkSession, outDir: String): Seq[Check] = {
    val facts = Seq(
      (s"$outDir/.rectify-facts", "rectify", "rectification"),
      (s"$outDir/.erase-facts", "erase", "erase sweep")).map {
      case (factsPath, component, sweepName) =>
        if (exists(spark, s"$factsPath/_SUCCESS")) {
          val b = spark.read.parquet(factsPath).agg(max(col("_batch"))).head()
          val batch = if (b.isNullAt(0)) "empty" else b.getLong(0).toString
          Check(component, "no_pending_sweep", ok = false,
            s"pending facts capture (batch $batch) — re-run the crashed " +
              s"$sweepName to completion")
        } else
          Check(component, "no_pending_sweep", ok = true,
            "no pending facts capture")
    }
    val retKeys = s"$outDir/.retention-keys"
    val retention =
      if (exists(spark, s"$retKeys/_SUCCESS")) {
        val nKeys = spark.read.parquet(retKeys).count()
        Check("retention", "no_pending_sweep", ok = false,
          s"pending retention keys ($nKeys expired ids, batch directories " +
            "already dropped) — re-run the retention verb to completion")
      } else
        Check("retention", "no_pending_sweep", ok = true,
          "no pending retention keys")
    facts :+ retention
  }

  /** Logical-erasure debt ([[DeletionVectors]]): pending vectors are
    * SERVING-SAFE — every masked read already subtracts them — but they
    * are still outstanding physical-purge work with a compliance clock
    * on it, so the auditor reports them the retention-debt way: fsck
    * green means the store is fully settled, and the heal is running
    * the erase-settle verb. A pending `.settle-keys` capture is a
    * CRASHED settle (snapshot taken, physical sweep or vector
    * retirement incomplete) — re-run that settle to completion.
    */
  def dvDebt(spark: SparkSession, outDir: String): Seq[Check] = {
    val (dirs, keys, _) = DeletionVectors.pending(spark, outDir)
    val debt =
      if (dirs == 0)
        Check("dv", "no_settle_debt", ok = true, "no pending deletion vectors")
      else
        Check("dv", "no_settle_debt", ok = false,
          s"$dirs pending vector(s) masking $keys ids — serving is " +
            "masked; run erase-settle to purge physically")
    val snap = s"$outDir/.settle-keys"
    val settle =
      if (exists(spark, s"$snap/_SUCCESS")) {
        val n = spark.read.parquet(snap).count()
        Check("dv", "no_pending_settle", ok = false,
          s"pending settle capture ($n ids, physical sweep or vector " +
            "retirement incomplete) — re-run erase-settle to completion")
      } else
        Check("dv", "no_pending_settle", ok = true,
          "no pending settle capture")
    // purpose-scoped masks are lawful standing state (they retire on
    // re-grant, not at settle) — reported as a census when present, ok
    // by definition, so the auditor can see what consent has masked
    val purposeMasks = DeletionVectors.pendingPurposeMasks(spark, outDir)
      .map { case (p, dirs, keys) =>
        Check("dv", s"purpose_mask_$p", ok = true,
          s"$dirs vector(s) masking $keys ids for purpose '$p' " +
            "(consent-scoped; retires on re-grant)")
      }
    Seq(debt, settle) ++ purposeMasks
  }

  /** Rights-metadata census (GDPR Art. 30): the admission log
    * (`.admissions/` — written by consent-gated admission, batch and
    * streaming) and the subject-resolution captures
    * (`.rights-resolved/` — the by-subject verbs' audit anchors) are
    * processing RECORDS: pseudonymous keys + purpose + stamp, no
    * content, deliberately OUTSIDE the erase/retention sweeps
    * (demonstrating that past processing was lawful requires the record
    * to outlive the data). They are still pseudonymous personal data
    * with their own retention clock, so the auditor must SEE them:
    * one census row per tree (dirs, rows, oldest admission stamp) —
    * informational, ok by definition; their expiry is the operator's
    * `records-expire` verb ([[graft.cli.CurateCli.runRecordsExpire]]),
    * per-directory O(1), never a row rewrite.
    */
  /** Every admission-log tree under one state directory, as
    * (origin, root) pairs: the state root's own `.admissions/` (the
    * batch pipeline's log) plus each serving-index leg's
    * (`search/`, `exact/`, `index/`, `dense/` — the STREAMING sinks
    * write their epochs under the INDEX directory,
    * [[graft.streaming.StreamingPipeline]]'s `gateAdmission`, which in
    * the CLI layout is a leg of the state root). This is the ONE
    * discovery the census, the `consent-audit` verb, the
    * `records-expire` verb, and the Art. 15 admission disclosure all
    * share — before it, a streaming deployment's admission records
    * lived one directory below where every state-level audit looked:
    * never censused, never expired, and invisible to
    * `consent-audit <state>`. Fixed leg list (the layout's own
    * vocabulary), so discovery is a handful of metadata probes — never
    * a recursive walk of a corpus-scale tree.
    */
  def admissionRoots(
      spark: SparkSession,
      outDir: String
  ): Seq[(String, String)] =
    (("state", s"$outDir/.admissions") +:
      Seq("search", "exact", "index", "dense")
        .map(leg => (leg, s"$outDir/$leg/.admissions")))
      .filter { case (_, root) => exists(spark, root) }

  def recordsCensus(spark: SparkSession, outDir: String): Seq[Check] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Check]
    admissionRoots(spark, outDir).foreach { case (origin, admRoot) =>
      val fs = new org.apache.hadoop.fs.Path(admRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(admRoot))
        .count(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      // a fully-expired tree is an empty root — censused without a read
      // (schema inference over zero files would crash the audit)
      val (n, oldest) =
        if (dirs == 0) (0L, "none")
        else {
          val row = spark.read.parquet(admRoot)
            .agg(count(lit(1)).as("n"), min(col("admitted_at")).as("oldest"))
            .head()
          (row.getLong(0),
            if (row.isNullAt(1)) "none" else row.getLong(1).toString)
        }
      // the state root keeps its round-12 check name; index-leg trees
      // (stream-written) census under an origin-suffixed name so the
      // report says WHERE the records live
      val name =
        if (origin == "state") "admissions_census"
        else s"admissions_census_$origin"
      out += Check("records", name, ok = true,
        s"$dirs admission batch dir(s), $n row(s), oldest " +
          s"stamp $oldest" +
          " (Art. 30 processing record; expire with records-expire)")
    }
    val resRoot = s"$outDir/.rights-resolved"
    if (exists(spark, resRoot)) {
      val fs = new org.apache.hadoop.fs.Path(resRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val reqDirs = fs.listStatus(new org.apache.hadoop.fs.Path(resRoot))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("req="))
      val n =
        if (reqDirs.isEmpty) 0L
        else spark.read.parquet(reqDirs.map(_.getPath.toString).toIndexedSeq: _*)
          .count()
      out += Check("records", "rights_resolved_census", ok = true,
        s"${reqDirs.length} resolve capture(s), $n resolved key row(s) " +
          "(rights-request audit anchors; expire with records-expire)")
    }
    out.toSeq
  }

  /** Consent-registry census (the registry is its own directory, next
    * to — not under — the state root, so [[state]] cannot see it; the
    * fsck verb takes it as `--consent <dir>`):
    *
    *   - `version_bulk`: current vs SUPERSEDED version counts and the
    *     oldest superseded `valid_to`. Superseded versions are the
    *     Art. 7(1) demonstrability record, but past the controller's
    *     record-retention period they are retention debt with a
    *     mechanism (`consent-expire`) — the same stance-needs-census
    *     rule the admission log got in round 12. Informational (ok by
    *     definition): how much history is lawful is the controller's
    *     retention schedule, not an invariant.
    *   - `dead_letter`: quarantined invalid-purpose events from the
    *     streaming sink ([[graft.streaming.StreamingPipeline
    *     .consentSink]]). These are consent indications that never
    *     reached the registry — rows here mean an operator triage is
    *     OWED, so any row fails the check.
    */
  def consentCensus(spark: SparkSession, consentDir: String): Seq[Check] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Check]
    if (graft.policy.Consent.storeExists(spark, consentDir)) {
      val row = graft.pipeline.Snapshot.loadStore(spark, consentDir)
        .agg(
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("cur"),
          sum(when(col("valid_to").isNotNull, 1L).otherwise(0L)).as("sup"),
          min(col("valid_to")).as("oldest"))
        .head()
      val oldest = if (row.isNullAt(2)) "none" else row.getLong(2).toString
      out += Check("consent", "version_bulk", ok = true,
        s"${row.getLong(0)} current, ${row.getLong(1)} superseded " +
          s"version(s), oldest superseded valid_to $oldest " +
          "(Art. 7(1) record; expire with consent-expire)")
    }
    // sibling of the store root (the bootstrap overwrite owns the root)
    val dlRoot = s"${consentDir.stripSuffix("/")}.dead-letter"
    if (exists(spark, dlRoot)) {
      val fs = new org.apache.hadoop.fs.Path(dlRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dlRoot))
        .count(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      val n = if (dirs == 0) 0L else spark.read.parquet(dlRoot).count()
      out += Check("consent", "dead_letter", ok = n == 0L,
        s"$dirs quarantine batch dir(s), $n event(s) that never reached " +
          "the registry — triage with dead-letter-resubmit (corrected " +
          "purposes reach the registry) or dead-letter-purge")
    }
    out.toSeq
  }

  /** DP-ledger census (the budget accountant is durable state the
    * auditor must see — the same stance-needs-census rule the admission
    * log, the registry history, and the dead-letter tree got):
    *
    *   - `spend_<dataset>`: composed spend per dataset (releases,
    *     basic-composition eps/delta, the advanced bound at the default
    *     slack). Informational — whether the spend is lawful is the
    *     release policy's budget, which is passed per-release and a
    *     policy LOWERED after releases is an operator decision, not a
    *     store invariant.
    *   - `torn_charges`: `charge=` directories without `_SUCCESS` —
    *     crashed releases that never committed. Invisible to every read
    *     (the guard is the crash-safety design) and re-landed by an
    *     identical retry, so debris is harmless — but an auditor should
    *     see a count that keeps growing. Informational.
    */
  def ledgerCensus(spark: SparkSession, ledgerDir: String): Seq[Check] = {
    val root = new org.apache.hadoop.fs.Path(
      s"${ledgerDir.stripSuffix("/")}/ledger")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val chargeDirs = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("charge="))
    val torn = chargeDirs.count(st =>
      !fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    val out = scala.collection.mutable.ArrayBuffer.empty[Check]
    graft.policy.PrivacyLedger.spentByDataset(spark, ledgerDir)
      .orderBy("dataset").collect()  // bounded: one row per dataset
      .foreach { r =>
        out += Check("ledger", s"spend_${r.getString(0)}", ok = true,
          f"${r.getLong(1)} release(s), basic eps ${r.getDouble(2)}%.4f / " +
            f"delta ${r.getDouble(3)}%.2e, advanced eps " +
            f"${r.getDouble(4)}%.4f (budget is the release policy's)")
      }
    out += Check("ledger", "torn_charges", ok = true,
      s"$torn uncommitted charge dir(s) (crash debris; invisible to " +
        "reads, re-landed by an identical retry)")
    out.toSeq
  }

  /** Writer-lease debt ([[Lease]]): no lease (or this process's own, or
    * a young foreign one — a writer may legitimately be running while
    * fsck reads) is fine; a FOREIGN lease older than the TTL is a dead
    * writer's leftover — mutating verbs refuse until it is broken, so it
    * is operational debt the auditor must surface.
    */
  def leaseDebt(
      spark: SparkSession,
      outDir: String,
      ttlMs: Long = Lease.DefaultTtlMs
  ): Seq[Check] = Lease.read(spark, outDir) match {
    case None =>
      Seq(Check("lease", "no_stale_lease", ok = true, "no writer lease held"))
    case Some(i) =>
      val age = System.currentTimeMillis() - i.stampMs
      if (i.holder == Lease.processId || age <= ttlMs)
        Seq(Check("lease", "no_stale_lease", ok = true,
          s"live '${i.verb}' lease (held $age ms) — a writer is running"))
      else
        Seq(Check("lease", "no_stale_lease", ok = false,
          s"stale '${i.verb}' lease held $age ms by ${i.holder} — the " +
            "writer is presumed dead; run break-lease to recover"))
  }

  /** A serving leg's ids must be a subset of the corpus — an erasure
    * that purged the corpus but missed a leg (or a crashed append that
    * landed a leg before the corpus) surfaces as orphans.
    */
  def membership(
      spark: SparkSession,
      corpusIds: DataFrame,
      legPath: String,
      legIdCol: String,
      label: String
  ): Check = {
    val orphans = spark.read.parquet(legPath)
      .select(col(legIdCol).as("doc_id")).distinct()
      .join(corpusIds, Seq("doc_id"), "left_anti").count()
    Check(label, "ids_subset_corpus", orphans == 0L, s"$orphans orphan ids")
  }

  /** Full state-directory audit over every leg that exists (the
    * [[graft.cli.CurateCli]] layout). Returns every check; the CLI exits
    * nonzero when any fails.
    */
  def state(spark: SparkSession, outDir: String): Seq[Check] = {
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
    val corpusDir = s"$outDir/corpus"
    checks ++= markerHygiene(spark, corpusDir, "corpus")
    checks ++= pendingSweepDebt(spark, outDir)
    checks ++= dvDebt(spark, outDir)
    checks ++= leaseDebt(spark, outDir)
    checks ++= recordsCensus(spark, outDir)
    val corpusIds =
      if (exists(spark, corpusDir))
        Some(spark.read.parquet(corpusDir).select(col("doc_id")).distinct())
      else None
    if (exists(spark, s"$outDir/search/stats"))
      checks ++= searchIndex(spark, s"$outDir/search")
    if (exists(spark, s"$outDir/exact/meta"))
      checks ++= exactIndex(spark, s"$outDir/exact")
    if (exists(spark, s"$outDir/index/meta"))
      checks ++= bandIndex(spark, s"$outDir/index")
    if (exists(spark, s"$outDir/dense/centroids"))
      checks ++= denseIndex(spark, s"$outDir/dense")
    if (exists(spark, s"$outDir/shards"))
      checks ++= shards(spark, s"$outDir/shards")
    // hourly-count store (the streaming/anomaly baseline leg, by the
    // `events/` convention) — the last audited swap-protocol store
    if (exists(spark, s"$outDir/events"))
      checks ++= eventStats(spark, s"$outDir/events")
    // profile ledger: the staleness counter must PARSE (a corrupt ledger
    // would crash every sweep's honesty accounting) and the store's legs
    // must be complete — hdr lands before hll by design, so hll without
    // hdr is a crashed bootstrap nobody recovered
    if (graft.sketch.ProfileStore.exists(spark, s"$outDir/profile")) {
      val ledger = scala.util.Try(
        graft.sketch.ProfileStore.stalenessCount(spark, s"$outDir/profile"))
      checks += Check("profile", "ledger_parses",
        ledger.toOption.exists(_ >= 0L),
        ledger.fold(e => e.toString, c => s"staleness $c"))
      checks += Check("profile", "legs_complete",
        exists(spark, s"$outDir/profile/hdr"),
        "hll present without hdr — crashed bootstrap")
    }
    corpusIds.foreach { ids =>
      Seq(
        (s"$outDir/search/docs", "doc_id", "search"),
        (s"$outDir/index/bands", "doc_id", "band"),
        (s"$outDir/dense/assigned", "doc_id", "dense"),
        (s"$outDir/exact/sets", "id", "exact"))
        .foreach { case (p, idc, label) =>
          if (exists(spark, p)) checks += membership(spark, ids, p, idc, label)
        }
      // agg leg: total cnt must equal the corpus row count (per-source
      // token stats aggregate EVERY corpus row exactly once). Hygiene
      // FIRST, and a RAW read — AggStore.load would helpfully run
      // recovery, and fsck must report commit debt, not repay it
      if (exists(spark, s"$outDir/agg")) {
        checks ++= markerHygiene(spark, s"$outDir/agg", "agg")
        val total = spark.read.parquet(s"$outDir/agg")
          .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
        val corpusN = ids.count()
        checks += Check("agg", "cnt_equals_corpus", total == corpusN,
          s"agg cnt total $total vs corpus $corpusN")
      }
    }
    checks.toSeq
  }
}
