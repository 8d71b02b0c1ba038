package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD-2 snapshots — the reference *configures* a timestamp-strategy
  * snapshot (`strategy: timestamp, unique_key: record_id, updated_at:
  * updated_at`, dbt_project.yml:161-173) but ships no snapshot model; this
  * implements the declared semantics so the config surface is usable
  * (additive, not parity — SURVEY.md §2.6).
  *
  * dbt timestamp-strategy semantics: a row version is superseded when a new
  * row with the same unique key arrives with a strictly newer `updated_at`;
  * superseded versions get `valid_to` set, current versions keep
  * `valid_to = NULL`.
  *
  * Implemented as a join-free union + window pass (one shuffle keyed by the
  * unique key) — the Spark-native shape of a merge/upsert; on real
  * deployments the same function runs over Delta-style storage, here it
  * returns the new snapshot table for the caller to pin via [[Materialize]].
  */
object Snapshot {

  /** Apply new rows to an existing snapshot (may be empty). Both inputs
    * must carry `uniqueKey` and `updatedAt` columns; `snapshot` additionally
    * carries valid_from/valid_to from a prior application.
    *
    * `sameTsTiebreak`: by default a same-key-same-`updatedAt` redelivery
    * keeps ONE arbitrary version (`dropDuplicates` — redeliveries are
    * byte-identical by contract, so any choice is the same row). A caller
    * whose key space can carry genuinely CONFLICTING rows at one
    * timestamp (e.g. a consent grant and withdrawal racing across batch
    * boundaries) passes an ordering; the FIRST row under it wins,
    * deterministically and independent of arrival order.
    */
  def applyTimestampStrategy(
      snapshot: DataFrame,
      newRows: DataFrame,
      uniqueKey: String,
      updatedAt: String,
      sameTsTiebreak: Seq[Column] = Seq.empty
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val dataCols = newRows.columns.toSeq
    val withValidity = newRows
      .select(dataCols.map(col): _*)
      .withColumn("valid_from", col(updatedAt))
      .withColumn("valid_to", lit(null).cast(newRows.schema(updatedAt).dataType))

    // ONE exchange for the whole pass (r13 optimization round, guide
    // §2.4): hash-partitioning by the unique key satisfies the clustered
    // distribution of BOTH the same-ts dedup (keyed by (key, ts) — a
    // superset of the partitioning) and the supersede window (keyed by
    // key), so the explicit repartition replaces the two exchanges
    // Catalyst would otherwise insert back to back ((key, ts) for the
    // dedup, then (key) for the window); the dedup's sort order is a
    // prefix-extension of the window's, so the second sort folds away
    // too. Row-identical by construction — both operations only require
    // co-location of each key's rows.
    val unioned = snapshot.select(withValidity.columns.map(col): _*)
      .unionByName(withValidity)
      .repartition(col(uniqueKey))
    // same key + same updated_at re-delivered -> keep one version
    val all =
      if (sameTsTiebreak.isEmpty) unioned.dropDuplicates(uniqueKey, updatedAt)
      else {
        val w = Window.partitionBy(col(uniqueKey), col(updatedAt))
          .orderBy(sameTsTiebreak: _*)
        unioned.withColumn("_ts_rk", row_number().over(w))
          .filter(col("_ts_rk") === 1).drop("_ts_rk")
      }

    val byKey = Window.partitionBy(col(uniqueKey)).orderBy(col(updatedAt))
    all
      .withColumn("_next_from", lead(col(updatedAt), 1).over(byKey))
      .withColumn("valid_to", col("_next_from"))
      .drop("_next_from")
  }

  /** Bucketed variant of [[applyTimestampStrategy]] (r14, guide §2.4):
    * both inputs already carry the store's `bucket` column — a pure
    * function of the unique key, so hash-partitioning by `bucket` also
    * co-locates every key's full history — and the result comes out
    * partitioned by bucket and sorted (bucket, key, ts), which is
    * exactly the layout the bucket-partitioned store write needs. ONE
    * exchange therefore serves the same-ts dedup (grouped by
    * (bucket, key, ts) ⊇ {bucket}), the supersede window (clustered by
    * (bucket, key) ⊇ {bucket}) AND the write; the write's
    * sortWithinPartitions(bucket, key) is a prefix of the window's
    * (bucket, key, ts) sort and folds away. The non-bucketed path
    * needed three: (key) for dedup+window, then (bucket) for the write,
    * whose sort re-ran from scratch. Row-identical: every operation
    * here only requires each key's rows co-located, and bucket adds no
    * grouping power beyond the key it is derived from.
    */
  private def applyTimestampStrategyBucketed(
      snapshot: DataFrame,
      newRows: DataFrame,
      nPartitions: Int,
      uniqueKey: String,
      updatedAt: String,
      sameTsTiebreak: Seq[Column]
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val dataCols = newRows.columns.toSeq
    val withValidity = newRows
      .select(dataCols.map(col): _*)
      .withColumn("valid_from", col(updatedAt))
      .withColumn("valid_to", lit(null).cast(newRows.schema(updatedAt).dataType))

    val unioned = snapshot.select(withValidity.columns.map(col): _*)
      .unionByName(withValidity)
      .repartition(nPartitions, col("bucket"))
    val deduped =
      if (sameTsTiebreak.isEmpty)
        unioned.dropDuplicates("bucket", uniqueKey, updatedAt)
      else {
        val w = Window
          .partitionBy(col("bucket"), col(uniqueKey), col(updatedAt))
          .orderBy(sameTsTiebreak: _*)
        unioned.withColumn("_ts_rk", row_number().over(w))
          .filter(col("_ts_rk") === 1).drop("_ts_rk")
      }

    val byKey = Window.partitionBy(col("bucket"), col(uniqueKey))
      .orderBy(col(updatedAt))
    deduped
      .withColumn("_next_from", lead(col(updatedAt), 1).over(byKey))
      .withColumn("valid_to", col("_next_from"))
      .drop("_next_from")
  }

  /** Start a snapshot from scratch. */
  def initial(newRows: DataFrame, uniqueKey: String, updatedAt: String): DataFrame =
    applyTimestampStrategy(
      newRows.limit(0)
        .withColumn("valid_from", col(updatedAt))
        .withColumn("valid_to", lit(null).cast(newRows.schema(updatedAt).dataType)),
      newRows,
      uniqueKey,
      updatedAt
    )

  /** Write a snapshot as a bucketed store: `<dir>/bucket=<b>/...` with
    * `bucket` = [[graft.operators.StableHash.bucket]] of the unique key,
    * so every key's full version history lives in exactly ONE partition
    * directory. That is what makes [[mergeStore]] incremental: a batch
    * prunes the read AND the rewrite to the buckets it hashes into, and
    * history in every other bucket is never read, shuffled, or written.
    * [[applyTimestampStrategy]] alone re-windows the whole accumulated
    * history per batch — correct, but a full-history shuffle per daily
    * merge at 100 TB. Size `buckets` so one bucket is a healthy rewrite
    * unit (hundreds of MB of history).
    */
  /** See class doc. Rows are sorted by (`bucket`, key) within each write
    * task, so with `maxRecordsPerFile > 0` a bucket splits into several
    * KEY-CONTIGUOUS files — the layout a key-ranged
    * [[graft.operators.DataSkipping.prunedReadSelf]] can skip on. The
    * write also emits a per-file min/max manifest over the key at
    * `<dir>/_stats` ([[graft.operators.DataSkipping.ManifestSubdir]]),
    * kept incrementally fresh by [[mergeStore]].
    */
  def writeStore(
      snapshot: DataFrame, uniqueKey: String, dir: String, buckets: Int,
      maxRecordsPerFile: Long = 0L): Unit = {
    require(buckets > 0, s"snapshot store: buckets must be positive, got $buckets")
    require(!snapshot.columns.contains("bucket"),
      "snapshot store: input must not already have a bucket column")
    snapshot
      .withColumn("bucket",
        graft.operators.StableHash.bucket(col(uniqueKey), buckets))
      // all of a bucket's rows meet in one task; collisions only co-locate
      // buckets, partitionBy still splits their files
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(uniqueKey))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket").parquet(dir)
    graft.operators.DataSkipping.writeManifest(
      snapshot.sparkSession, dir, Seq(uniqueKey),
      s"$dir/${graft.operators.DataSkipping.ManifestSubdir}")
  }

  /** Fused bootstrap: [[initial]] + [[writeStore]] in ONE exchange (r14,
    * guide §2.4). The two-call form exchanges by key for the SCD-2 pass
    * and again by bucket for the store layout; since bucket is derived
    * from the key, the bucketed pass serves both. Store content is
    * row-identical to `writeStore(initial(rows, key, ts), key, dir, b)`.
    */
  def initStore(
      rows: DataFrame,
      uniqueKey: String,
      updatedAt: String,
      dir: String,
      buckets: Int,
      maxRecordsPerFile: Long = 0L,
      sameTsTiebreak: Seq[Column] = Seq.empty
  ): Unit = {
    require(buckets > 0, s"snapshot store: buckets must be positive, got $buckets")
    require(!rows.columns.contains("bucket"),
      "snapshot store: input must not already have a bucket column")
    val withB = rows.withColumn("bucket",
      graft.operators.StableHash.bucket(col(uniqueKey), buckets))
    val empty = withB.limit(0)
    val snap = applyTimestampStrategyBucketed(
      empty
        .withColumn("valid_from", col(updatedAt))
        .withColumn("valid_to", lit(null).cast(rows.schema(updatedAt).dataType)),
      withB, buckets, uniqueKey, updatedAt, sameTsTiebreak)
    snap
      .sortWithinPartitions(col("bucket"), col(uniqueKey))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket").parquet(dir)
    graft.operators.DataSkipping.writeManifest(
      rows.sparkSession, dir, Seq(uniqueKey),
      s"$dir/${graft.operators.DataSkipping.ManifestSubdir}")
  }

  /** Read a stored snapshot (the `bucket` partition column rides along). */
  def loadStore(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Key-ranged read through the store's own `_stats` manifest: opens
    * only the files whose key span overlaps `box` (see [[writeStore]] —
    * with `maxRecordsPerFile` set, bucket files are key-contiguous and a
    * narrow key range skips most of the history). Falls out of
    * [[graft.operators.DataSkipping.prunedReadSelf]]; results are
    * identical to filtering [[loadStore]], minus the IO.
    */
  def prunedLoad(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      box: Seq[graft.operators.ColRange],
      maxFiles: Int = 100000
  ): DataFrame = {
    // a crashed merge may have left the manifest stale (dirty marker) —
    // a pruned read through a stale manifest would silently return wrong
    // rows, so trust is restored before the first file decision; the
    // marker's content names the stat key to rebuild with
    val dirty = new org.apache.hadoop.fs.Path(dirtyMarker(dir))
    val fs = dirty.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dirty)) {
      val in = fs.open(dirty)
      val key = try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim
      } finally in.close()
      require(key.nonEmpty,
        s"snapshot store $dir: dirty manifest marker carries no stat key")
      healManifest(spark, dir, key)
    }
    graft.operators.DataSkipping.prunedReadSelf(spark, dir, box, maxFiles)
  }

  /** Merge a batch into a stored snapshot, touching ONLY the buckets the
    * batch hashes into: collect the batch's bucket set (bounded by
    * `buckets`), read the store pruned to those partitions, re-run the
    * timestamp strategy on that slice, and swap exactly those bucket
    * directories. Because the supersede window is per-key and buckets
    * partition keys, the result is row-identical to
    * [[applyTimestampStrategy]] over the FULL store (spec-pinned) — at a
    * fraction of the IO once history dwarfs the daily batch.
    *
    * The merged slice is staged to a sibling directory (Spark refuses to
    * overwrite a path its own plan reads; staging also keeps the commit
    * independent of any cached lineage over `dir` — the
    * CurateCli.runIncremental convention) and then PROMOTED BY RENAME
    * per touched bucket ([[commitStagedBuckets]]): the staged slice
    * holds every surviving row of every touched bucket, so replacing the
    * live directories wholesale is exactly what the previous
    * dynamic-partition-overwrite commit did — minus a full second write
    * and read of the slice (the round-13 fewer-passes optimization; the
    * crash window is the same non-atomic-across-buckets replacement
    * either way, covered by the dirty marker + idempotent-replay
    * contract). A crash before the first rename leaves the store
    * untouched.
    */
  def mergeStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      newRows: DataFrame,
      uniqueKey: String,
      updatedAt: String,
      buckets: Int,
      maxRecordsPerFile: Long = 0L,
      sameTsTiebreak: Seq[Column] = Seq.empty
  ): Unit = {
    require(buckets > 0, s"snapshot store: buckets must be positive, got $buckets")
    require(!newRows.columns.contains("bucket"),
      "snapshot store: batch must not already have a bucket column")
    // persisted: the touched-bucket collect AND the staged rewrite both
    // read the batch — uncached, the second action re-ran the caller's
    // whole event derivation (r13 optimization round)
    val withB = newRows.withColumn("bucket",
      graft.operators.StableHash.bucket(col(uniqueKey), buckets))
      .persist()
    try {
      val touched = withB.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      if (touched.nonEmpty) {
        val slice = spark.read.parquet(dir)
          .filter(col("bucket").isin(touched.toSeq: _*))
        // bucketed SCD-2 pass (r14): one exchange serves dedup, window
        // and the bucket-partitioned staged write; the write's sort is a
        // prefix of the window's and folds away (was: (key) exchange +
        // (bucket) exchange + a second full sort of the slice)
        val merged = applyTimestampStrategyBucketed(
          slice, withB, touched.length, uniqueKey, updatedAt, sameTsTiebreak)
        val stage = dir.stripSuffix("/") + ".merge-stage"
        merged
          .sortWithinPartitions(col("bucket"), col(uniqueKey))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .partitionBy("bucket").parquet(stage)
        commitStagedBuckets(spark, dir, stage, uniqueKey, touched.toSeq)
      }
    } finally withB.unpersist()
  }

  /** Shared commit of a staged bucket rewrite (merge / erase / expire):
    * dirty marker first, then each touched live `bucket=<b>` directory is
    * replaced by its staged counterpart VIA RENAME (deleted outright when
    * the rewrite emptied the bucket — an erase that removed a bucket's
    * every row stages nothing for it), then the manifest refreshes and
    * the marker clears. One filesystem pass, zero Spark jobs beyond the
    * manifest re-stat: the previous protocol re-read the staged slice and
    * wrote it a second time through dynamic partition overwrite, whose
    * job commit performs the same per-partition delete+rename this does
    * directly. Crash behavior is unchanged: the replacement is
    * non-atomic across buckets under BOTH protocols, the dirty marker
    * keeps pruned reads honest through the window, and the callers'
    * replay contracts (idempotent merge / erase) converge the data.
    */
  private def commitStagedBuckets(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      stage: String,
      uniqueKey: String,
      touched: Seq[Int]
  ): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dirty marker BEFORE the swap: from here until the manifest refresh
    // completes, `_stats` may be stale (listing files the renames are
    // about to delete) — readers heal through healManifest if a crash
    // strands this window. The marker carries the stat key, so a reader
    // can heal even when the crash also took the manifest directory.
    val marker = fs.create(new org.apache.hadoop.fs.Path(dirtyMarker(dir)), true)
    marker.write(uniqueKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    marker.close()
    touched.foreach { b =>
      val live = new org.apache.hadoop.fs.Path(s"$dir/bucket=$b")
      val staged = new org.apache.hadoop.fs.Path(s"$stage/bucket=$b")
      fs.delete(live, true)
      if (fs.exists(staged))
        require(fs.rename(staged, live),
          s"snapshot store: staged bucket promote $staged -> $live failed")
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    refreshManifest(spark, dir, uniqueKey, touched)
    fs.delete(new org.apache.hadoop.fs.Path(dirtyMarker(dir)), false)
  }

  /** Right-to-erasure propagation (GDPR Art. 17) through the bucketed
    * store: remove every row whose `uniqueKey` appears in `keys`,
    * touching ONLY the buckets those keys hash into — collect the
    * (bounded) touched-bucket set, anti-join the slice, stage, dynamic-
    * partition-overwrite, refresh the manifest. Untouched history is
    * never read or written, so an erasure request over a 100 TB store
    * costs a few bucket rewrites, not a full-store pass — and the same
    * dirty-marker crash protocol as [[mergeStore]] keeps pruned reads
    * honest throughout.
    *
    * Returns the number of rows erased. The masking pipeline
    * pseudonymizes; THIS is the deletion half of the reference's
    * compliance story (its dbt models can only rebuild-from-scratch).
    */
  def eraseKeys(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      keys: DataFrame,
      uniqueKey: String,
      buckets: Int
  ): Long = {
    require(buckets > 0, s"snapshot store: buckets must be positive, got $buckets")
    val keyed = keys
      .select(col(uniqueKey))
      .distinct()
      .withColumn("bucket",
        graft.operators.StableHash.bucket(col(uniqueKey), buckets))
    val touched = keyed.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return 0L

    val slice = spark.read.parquet(dir)
      .filter(col("bucket").isin(touched.toSeq: _*))
    // the erased-row count is the slice's overlap with the keys — ONE
    // semi-join count instead of the previous before-count plus staged-
    // footer-count pair (two extra passes for the same difference; r13
    // optimization round)
    val erased = slice
      .join(keyed.select(col(uniqueKey)), Seq(uniqueKey), "left_semi")
      .count()
    val kept = slice.join(
      keyed.select(col(uniqueKey)), Seq(uniqueKey), "left_anti")
    val stage = dir.stripSuffix("/") + ".erase-stage"
    kept
      .repartition(touched.length, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(uniqueKey))
      .write.mode("overwrite")
      .partitionBy("bucket").parquet(stage)
    // rename-promote: a bucket whose EVERY row was erased stages no
    // directory and its live one is simply deleted — the explicit
    // emptied-bucket sweep the old dynamic-overwrite commit needed is
    // the protocol's default here
    commitStagedBuckets(spark, dir, stage, uniqueKey, touched.toSeq)
    erased
  }

  /** Record retention for the store's VERSION HISTORY (GDPR Art.
    * 5(1)(e) applied to the audit trail itself): drop every SUPERSEDED
    * version whose `valid_to` is before `cutoff` — current versions
    * (`valid_to` null) are never touched, so every key's present
    * verdict and every supersede relation among surviving versions is
    * unchanged; only history older than the controller's
    * record-retention period leaves. [[asOf]] reads earlier than the
    * cutoff lose those versions by design — that is what record
    * retention MEANS — which is why `cutoff` must be a pinned stamp,
    * not a rolling clock.
    *
    * Scale shape, the [[eraseKeys]] protocol: find the buckets that
    * actually hold expired versions (one column-pruned scan), rewrite
    * ONLY those buckets through the stage + dirty-marker + dynamic-
    * overwrite swap, refresh the manifest. `cutoff` compares against
    * the store's own `valid_to` type (a long epoch stamp in the stores
    * this serves — the consent registry). Returns the number of
    * versions dropped.
    */
  def expireSuperseded(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      uniqueKey: String,
      cutoff: Long,
      buckets: Int
  ): Long = {
    require(buckets > 0, s"snapshot store: buckets must be positive, got $buckets")
    val expired =
      col("valid_to").isNotNull && col("valid_to").cast("long") < cutoff
    // ONE column-pruned scan finds the touched buckets AND counts the
    // expired versions per bucket — the dropped total IS that sum, so
    // the previous before-count and staged-footer-count jobs (two more
    // passes over the slice) are redundant by definition (r13
    // optimization round)
    val touchedCounts = spark.read.parquet(dir)
      .filter(expired)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val touched = touchedCounts.map(_._1).toSeq
    if (touched.isEmpty) return 0L
    val dropped = touchedCounts.map(_._2).sum

    val slice = spark.read.parquet(dir)
      .filter(col("bucket").isin(touched: _*))
    val kept = slice.filter(!expired)
    val stage = dir.stripSuffix("/") + ".expire-stage"
    kept
      .repartition(touched.length, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(uniqueKey))
      .write.mode("overwrite")
      .partitionBy("bucket").parquet(stage)
    commitStagedBuckets(spark, dir, stage, uniqueKey, touched)
    dropped
  }

  private def dirtyMarker(dir: String): String =
    s"$dir/${graft.operators.DataSkipping.ManifestSubdir}__dirty"

  /** Restore manifest trust after a crash: if a merge died between its
    * data commit and its manifest refresh (dirty marker present), or the
    * manifest is missing/partial, rebuild it from the data — one
    * projected scan, after which pruned reads are exact again. No-op on a
    * healthy store.
    */
  def healManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      uniqueKey: String
  ): Unit = {
    import graft.operators.DataSkipping
    val manifestDir = s"$dir/${DataSkipping.ManifestSubdir}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirty = new org.apache.hadoop.fs.Path(dirtyMarker(dir))
    if (fs.exists(dirty) || !fs.exists(new org.apache.hadoop.fs.Path(manifestDir))) {
      graft.operators.PartitionSwap.prepare(spark, manifestDir) // heal, clear debris
      fs.delete(new org.apache.hadoop.fs.Path(manifestDir), true)
      DataSkipping.writeManifest(spark, dir, Seq(uniqueKey), manifestDir)
      fs.delete(dirty, false)
    }
  }

  /** Keep the store's `_stats` manifest exact after a [[mergeStore]]
    * commit: dynamic partition overwrite replaced every file under the
    * touched bucket directories, so their manifest rows are dropped and
    * the touched slice is re-statted (a projected scan of ONLY those
    * buckets). Untouched buckets keep their rows — no re-scan. A store
    * written before manifests existed bootstraps one here. The manifest
    * must stay COMPLETE (a pruned read trusts it to list every file), so
    * the refresh is all-or-nothing via [[graft.operators.PartitionSwap.replace]].
    */
  private def refreshManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      uniqueKey: String,
      touched: Seq[Int]
  ): Unit = {
    import graft.operators.{DataSkipping, PartitionSwap}
    val manifestDir = s"$dir/${DataSkipping.ManifestSubdir}"
    val fs = new org.apache.hadoop.fs.Path(manifestDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(manifestDir))) {
      DataSkipping.writeManifest(spark, dir, Seq(uniqueKey), manifestDir)
    } else {
      val untouchedRows = DataSkipping.loadManifest(spark, manifestDir)
        .filter(!regexp_extract(col("file"), "bucket=(\\d+)", 1)
          .cast("int").isin(touched: _*))
      val touchedStats = DataSkipping.statsOf(
        spark.read.parquet(dir).filter(col("bucket").isin(touched: _*)),
        Seq(uniqueKey))
      val stage = PartitionSwap.prepare(spark, manifestDir)
      untouchedRows.unionByName(touchedStats)
        .coalesce(1)
        .write.mode("overwrite").parquet(stage)
      // rename swap, not overwrite-in-place: a reader racing the refresh
      // must see the old manifest or the new one, never a half-written
      // directory (prunedRead trusts the manifest to list EVERY file).
      // Any crash inside this window leaves the dirty marker set, and
      // healManifest rebuilds from data.
      PartitionSwap.replace(spark, manifestDir, stage)
    }
  }

  /** Current (non-superseded) versions. */
  def current(snapshot: DataFrame): DataFrame =
    snapshot.filter(col("valid_to").isNull)

  /** Versions valid at a point in time. */
  def asOf(snapshot: DataFrame, ts: Column): DataFrame =
    snapshot.filter(
      col("valid_from") <= ts &&
        (col("valid_to").isNull || col("valid_to") > ts)
    )
}
