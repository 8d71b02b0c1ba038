package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate — the generic
  * summary-table member of the persistence family (hourly counts:
  * [[EventStatsStore]]; sketches: [[graft.sketch.ProfileStore]]; SCD-2
  * records: [[graft.pipeline.Snapshot]]; serving indexes: BM25/IVF/
  * band/exact). A 100 TB fact table's dashboard aggregate must not
  * rescan history per refresh: this store keeps one row per group with
  * the ALGEBRAIC state (cnt, sum, min, max — avg serves as sum/cnt),
  * and each batch folds in by combining same-group states:
  *
  *   cnt += cnt_b;  sum += sum_b;  min = least(min, min_b);
  *   max = greatest(max, max_b)
  *
  * Every operation is associative and commutative, so the maintained
  * store is VALUE-IDENTICAL to a one-shot groupBy over the concatenated
  * history — the q_agg_store oracle, and the same lossless-merge
  * contract the sketch profile holds approximately, held exactly here.
  * (Non-algebraic aggregates — medians, distincts — belong to the
  * sketch store, which is why both exist.)
  *
  * Layout: parquet partitioned by `bucket` = [[StableHash.bucket]] of
  * the group key, so a batch touches only the buckets its groups hash
  * into — the [[graft.pipeline.Snapshot]] bucketed-store shape. One
  * body, [[rewrite]], rewrites just those directories under ONE
  * [[PartitionSwap]] commit for a merge, an erasure, or a rectification
  * (old facts out and corrected states in, together). Count/sum merges
  * are NOT idempotent, so batch-id markers make replays no-ops (the
  * foreachBatch exactly-once recipe).
  *
  * At scale: the store is |groups| rows; a batch merge reads its
  * touched buckets (|groups|-bounded), aggregates the batch with
  * map-side combine, and shuffles only group-sized frames.
  */
object AggStore {

  private def stageDir(dir: String) = dir.stripSuffix("/") + ".merge-stage"

  /** Batch-local algebraic state: one row per group. `valueCol` must be
    * an exact-arithmetic type for bit-identity with a one-shot rebuild
    * (integers/longs/decimals; double sums are order-sensitive).
    */
  def aggregate(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(valueCol).as("cnt"),
        sum(valueCol).as("sum"),
        min(valueCol).as("min"),
        max(valueCol).as("max"))

  private def withBucket(states: DataFrame, groupCols: Seq[String], buckets: Int) =
    states.withColumn("bucket",
      StableHash.bucket(concat_ws("", groupCols.map(col): _*), buckets))

  private def writeBuckets(states: DataFrame, parts: Int, groupCols: Seq[String], dir: String) =
    states.repartition(parts, col("bucket"))
      .sortWithinPartitions(col("bucket") +: groupCols.map(col): _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Pin the stored state schema. Spark widens decimal sums per
    * aggregation (decimal(18,2) -> 28,2 at the batch aggregate -> 38,2
    * at the first merge), so without a canonical type the touched
    * buckets would drift to a different parquet decimal width than the
    * untouched ones and the store becomes unreadable as one tree
    * (AggStoreSpec's crash test caught this as a
    * PARQUET_COLUMN_DATA_TYPE_MISMATCH). Decimal sums therefore always
    * store at precision 38 with the input's scale; counts at long;
    * min/max keep their stable input types.
    */
  private def canonical(states: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pinned = states.schema("sum").dataType match {
      case d: DecimalType =>
        states.withColumn("sum", col("sum").cast(DecimalType(38, d.scale)))
      case _ => states
    }
    pinned.withColumn("cnt", col("cnt").cast("long"))
  }

  /** Bootstrap the store from a batch's states ([[aggregate]]). */
  def write(
      states: DataFrame,
      groupCols: Seq[String],
      dir: String,
      buckets: Int
  ): Unit = {
    require(buckets > 0, s"agg store: buckets must be positive, got $buckets")
    require(!states.columns.contains("bucket"),
      "agg store: input must not already have a bucket column")
    writeBuckets(withBucket(canonical(states), groupCols, buckets), buckets, groupCols, dir)
  }

  def load(spark: SparkSession, dir: String): DataFrame = {
    PartitionSwap.recover(spark, dir, ".merge-stage", "bucket=")
    spark.read.parquet(dir)
  }

  /** Merge one batch of group states: same-group rows combine
    * algebraically; only the touched buckets are read and rewritten
    * ([[rewrite]]). The first non-empty batch bootstraps the store.
    * Replays of an applied `batchId` are no-ops.
    */
  def merge(
      spark: SparkSession,
      dir: String,
      batchStates: DataFrame,
      groupCols: Seq[String],
      buckets: Int,
      batchId: Long
  ): Unit = {
    val _ = rewrite(spark, dir, groupCols, buckets, batchId, None, Some(batchStates))
  }

  /** Serve the aggregate: per group (cnt, sum, min, max, avg) — avg
    * derived at read so the stored state stays purely mergeable.
    */
  def serve(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir)
      .drop("bucket")
      .withColumn("avg", col("sum") / col("cnt"))

  /** Right-to-erasure through the maintained aggregate (GDPR Art. 17 /
    * the reference's per-column `retention_days` obligation,
    * `/root/reference/dbt_project/models/staging/schema.yml:57-64`,
    * reaching the LAST maintained artifact that silently remembers
    * erased subjects): remove the erased facts' contribution so the
    * served store equals a one-shot groupBy over the retained history.
    *
    *   - `cnt` and `sum` are group aggregates: they subtract EXACTLY
    *     from the erased rows' own states (the merge law run in
    *     reverse), no rescan needed;
    *   - `min`/`max` are NOT subtractable (removing the minimum says
    *     nothing about the runner-up), so the touched groups rebuild
    *     from `retainedFacts` — and since that rescan yields cnt/sum
    *     too, the subtraction doubles as an exactness CROSS-CHECK: a
    *     mismatch means the caller's erased/retained frames disagree
    *     with the maintained history, and the sweep aborts rather than
    *     serve silently-wrong state. Without `retainedFacts` the store
    *     keeps cnt/sum exact and charges the staleness ledger for every
    *     group whose stored extreme was touched (the
    *     [[graft.sketch.ProfileStore]] honesty convention: what cannot
    *     be subtracted is accounted, not faked).
    *
    * Scale shape: `erasedFacts` is request-sized; only its buckets are
    * rewritten ([[rewrite]]; a bucket whose last group empties is DELETED
    * by the same commit), and the rebuild scans `retainedFacts` semi-joined
    * to the touched groups. Returns the stored group rows affected.
    */
  def erase(
      spark: SparkSession,
      dir: String,
      erasedFacts: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      buckets: Int,
      batchId: Long,
      retainedFacts: Option[DataFrame] = None
  ): Long =
    rewrite(spark, dir, groupCols, buckets, batchId,
      Some(Removed(erasedFacts, valueCol, retainedFacts)), None)

  /** Facts leaving the store; `retained` is the history without them ([[erase]]). */
  private[graft] final case class Removed(facts: DataFrame, valueCol: Column, retained: Option[DataFrame])

  /** The one touched-bucket rewrite: [[merge]] passes added states,
    * [[erase]] removed facts, the rectify sweep both (old facts out,
    * corrected states in). It reads the touched buckets once, subtracts
    * and audits the removed cnt/sum, rebuilds or charges their min/max
    * ([[erase]]), folds the added states in by the merge law, and lands
    * the stage with ONE [[PartitionSwap.commit]] under `batchId`: the
    * store is wholly before or wholly after the call. `beforeStep` is
    * the commit's fault-injection hook.
    */
  private[graft] def rewrite(
      spark: SparkSession,
      dir: String,
      groupCols: Seq[String],
      buckets: Int,
      batchId: Long,
      removed: Option[Removed],
      added: Option[DataFrame],
      beforeStep: Int => Unit = _ => ()
  ): Long = {
    require(buckets > 0, s"agg store: buckets must be positive, got $buckets")
    require(added.forall(!_.columns.contains("bucket")),
      "agg store: batch must not already have a bucket column")
    PartitionSwap.recover(spark, dir, ".merge-stage", "bucket=")
    if (PartitionSwap.alreadyApplied(spark, dir, batchId)) return 0L
    val stage = stageDir(dir)
    def commit(entries: Seq[String]): Unit =
      PartitionSwap.commit(spark, dir, stage, entries, batchId, beforeStep)

    // merge's bootstrap keys on DATA presence, not directory existence: an
    // empty first batch leaves only markers behind (a partitionBy write of
    // zero rows emits NO files, and loading it would die on schema
    // inference), so the first NON-empty batch must still bootstrap
    if (removed.isEmpty && PartitionSwap.listEntries(spark, dir, "bucket=").isEmpty) {
      // bootstrap THROUGH the stage + commit protocol, not a direct
      // overwrite of the live tree: a crash mid-bootstrap would leave a
      // partial set of live bucket= directories, the replay would find
      // data, and the replayed batch would MERGE into its own partial
      // data. Staged, a crash before the pending marker leaves
      // the live tree empty (replay re-bootstraps); after it, recover's
      // entry-list rollback deletes the newly-promoted buckets.
      added.filterNot(_.isEmpty) match {
        case Some(states) =>
          write(states, groupCols, stage, buckets)
          commit(PartitionSwap.listEntries(spark, stage, "bucket="))
        case None => PartitionSwap.markApplied(spark, dir, batchId)
      }
      return 0L
    }

    // the removed facts' states: request-sized and cached, since the
    // touched list, the audit, the rebuild and the stage all read them
    val eStates = removed.map(r => withBucket(
      canonical(aggregate(r.facts, groupCols, r.valueCol)), groupCols, buckets)
      .select(
        (groupCols.map(col) :+ col("bucket")) ++ Seq(
          col("cnt").as("_cnt_e"), col("sum").as("_sum_e"),
          col("min").as("_min_e"), col("max").as("_max_e")): _*)
      .cache())
    val addStates = added.map(a => withBucket(canonical(a), groupCols, buckets))
    val touched = (eStates ++ addStates).map(_.select(col("bucket")))
      .reduceOption(_ union _)
      .fold(Array.empty[Int])(_.distinct().collect().map(_.getInt(0)).sorted)
    if (touched.isEmpty) {
      eStates.foreach(_.unpersist())
      PartitionSwap.markApplied(spark, dir, batchId)
      return 0L
    }

    val slice = spark.read.parquet(dir)
      .filter(col("bucket").isin(touched.toSeq: _*))
    var affected = 0L
    var cachedRebuilt: Option[DataFrame] = None
    val kept = (removed zip eStates).fold(slice) { case (r, e) =>
      val joined = slice.join(broadcast(e), groupCols :+ "bucket", "left")
      val zeroSum = lit(0).cast(joined.schema("sum").dataType)
      val subtracted = joined
        .withColumn("cnt", col("cnt") - coalesce(col("_cnt_e"), lit(0L)))
        .withColumn("sum", col("sum") - coalesce(col("_sum_e"), zeroSum))

      // one audit pass over the (bucket-sized) subtracted slice: how many
      // stored groups the request touches, and whether any would go negative
      val audit = subtracted.agg(
        sum(when(col("_cnt_e").isNotNull, 1L).otherwise(0L)).as("_affected"),
        sum(when(col("cnt") < 0L, 1L).otherwise(0L)).as("_neg")).head()
      affected = Option(audit.getAs[Long]("_affected")).getOrElse(0L)
      val negatives = Option(audit.getAs[Long]("_neg")).getOrElse(0L)
      require(negatives == 0L,
        s"agg store erase: $negatives groups would go negative — the erased " +
          "facts are not a subset of the maintained history")

      r.retained match {
        case Some(retained) =>
          val touchedGroups = e.select(groupCols.map(col): _*).distinct()
          // cached: request-sized, and both the cross-check and the staged
          // write read it — the retained-facts scan must run ONCE
          val rebuilt = withBucket(
            canonical(aggregate(
              retained.join(broadcast(touchedGroups), groupCols, "left_semi"),
              groupCols, r.valueCol)),
            groupCols, buckets)
            .cache()
          cachedRebuilt = Some(rebuilt)
          // exactness cross-check: the subtracted cnt/sum must equal the
          // rebuilt ones group-for-group (groups fully erased appear in
          // neither). Request-sized on both sides.
          val mismatches = subtracted
            .filter(col("_cnt_e").isNotNull)
            .select(groupCols.map(col) :+ col("cnt").as("_c") :+ col("sum").as("_s"): _*)
            .join(rebuilt, groupCols, "full")
            // null-safe: a fully-erased group is absent from the rebuild
            // and must have subtracted down to exactly (0, 0)
            .filter(!(coalesce(col("_c"), lit(0L)) <=> coalesce(col("cnt"), lit(0L)) &&
              coalesce(col("_s"), zeroSum) <=> coalesce(col("sum"), zeroSum)))
            .count()
          require(mismatches == 0L,
            s"agg store erase: $mismatches touched groups disagree between " +
              "cnt/sum subtraction and the retained-facts rebuild — erased " +
              "and retained frames are inconsistent with the maintained history")
          subtracted
            .filter(col("_cnt_e").isNull)
            .select(slice.columns.map(col): _*)
            .unionByName(rebuilt.select(slice.columns.map(col): _*))
        case None =>
          // cnt/sum exact; min/max kept, staleness charged for groups
          // whose stored extreme belonged to an erased row
          val stale = joined
            .filter(col("_cnt_e").isNotNull)
            .filter(col("min") === col("_min_e") || col("max") === col("_max_e"))
            .count()
          chargeStaleness(spark, dir, stale)
          subtracted
            .filter(col("cnt") > 0L)
            .select(slice.columns.map(col): _*)
      }
    }
    // the added states fold in by the merge law
    val merged = addStates.fold(kept)(a =>
      kept.unionByName(a)
        .groupBy((groupCols :+ "bucket").map(col): _*)
        .agg(
          sum(col("cnt")).as("cnt"),
          sum(col("sum")).as("sum"),
          min(col("min")).as("min"),
          max(col("max")).as("max")))

    writeBuckets(canonical(merged), touched.length, groupCols, stage)
    eStates.foreach(_.unpersist())
    cachedRebuilt.foreach(_.unpersist())
    commit(touched.toSeq.map(b => s"bucket=$b"))
    affected
  }

  private def stalenessPath(dir: String) = s"$dir/_staleness"

  /** Groups whose stored min/max may no longer reflect the retained
    * history (erasures ran without `retainedFacts`). 0 means every
    * served extreme is exact.
    */
  def stalenessCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(stalenessPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      } finally in.close()
    }
  }

  private def chargeStaleness(spark: SparkSession, dir: String, add: Long): Unit =
    if (add > 0L) {
      val p = new org.apache.hadoop.fs.Path(stalenessPath(dir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val next = stalenessCount(spark, dir) + add
      val out = fs.create(p, true)
      out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }

  /** Clear the staleness ledger after a caller-driven rebuild (e.g. a
    * fresh [[write]] from the retained history).
    */
  def clearStaleness(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(stalenessPath(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }
}
