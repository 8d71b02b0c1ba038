package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-erasure propagation (GDPR Art. 17) into persisted SERVING
  * stores — the derived-artifact half of the compliance story.
  * [[graft.pipeline.Snapshot.eraseKeys]] purges the bucketed RECORD
  * store; this module purges the doc-keyed rows of the serving indexes
  * built over the corpus (BM25 postings, SetSimJoin sets/postings, IVF
  * assignments — which also carry PQ codes — and the MinHash band
  * index), because erasure that leaves a subject's documents recoverable
  * from a postings index is not erasure. The reference's per-column
  * `retention_days` meta
  * (`/root/reference/dbt_project/models/staging/schema.yml:57-64`)
  * declares the obligation; its dbt models can only rebuild from
  * scratch — here every store erases in place.
  *
  * Mechanics shared by every leg: the erasure key set is REQUEST-sized
  * (a few ids to a few thousand), the store is corpus-sized — so the
  * purge is a broadcast LEFT ANTI join streamed through a narrow
  * scan→filter→write with NO shuffle, and the store is read exactly
  * ONCE: the audit counts (rows seen / rows kept, whose difference is
  * the erased-row report number) ride the SAME scan as `observe`
  * metrics instead of a separate pre-count pass, so a batched
  * multi-subject sweep at 100 TB costs one linear pass per store. Each
  * input file rewrites to its own output file, so whatever clustering
  * the store relies on (term-sorted BM25 postings, key-sorted prefix
  * postings, centroid-partitioned IVF rows, band-partitioned band rows)
  * survives the rewrite untouched.
  *
  * Crash safety: every single-directory rewrite promotes through
  * [[PartitionSwap.replace]]: a crash leaves the old store live or
  * retired (restored by [[PartitionSwap.recoverDir]] and by the next
  * rewrite's prepare), never half-rewritten. When the staged rewrite
  * turns out to have erased NOTHING, the stage is discarded and the live
  * files are left byte-identical (a no-match sweep must not rewrite the
  * store).
  */
object Erasure {

  /** Observed-count accessor with an exactness fallback: AQE's
    * empty-relation propagation can replace an all-filtered-out subtree
    * — its `CollectMetrics` (observe) nodes included — so a sweep that
    * empties a store ENTIRELY may complete with no observed metrics at
    * all (partial and no-match sweeps keep theirs: their stages carry
    * rows). When the metrics row is gone, fall back to counting
    * directly — one extra bounded job on that rare total-erasure path,
    * never on the hot one.
    */
  private[graft] def observedOr(o: Observation, fallback: => Long): Long =
    try {
      // the action already completed when this is called, so the future
      // resolves immediately on the healthy path; the bounded wait only
      // guards the wiped-metrics path where nothing may ever arrive
      val row = scala.concurrent.Await.result(
        o.future, scala.concurrent.duration.Duration(10, "s"))
      row.getAs[Long]("n")
    } catch { case scala.util.control.NonFatal(_) => fallback }

  /** Row count of a staged directory that may hold no parquet at all
    * (a partitionBy write of zero rows emits no files).
    */
  private[graft] def stagedCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !hasParquetFile(fs, p)) 0L
    else spark.read.parquet(dir).count()
  }

  /** Single-pass erase core: stage `shape(kept)` ([[PartitionSwap.prepare]]
    * first heals a torn swap of `live`) with observe metrics counting rows
    * seen and rows kept on the same scan, then either discard the stage
    * (nothing matched — live files stay byte-identical) or swap it in.
    * `shape` lets stores append their own re-shaping (e.g. [[Shards]]
    * re-closing `shard_pos`) and choose the write layout via `writeTo`.
    * Returns rows erased.
    */
  def eraseWith(
      spark: SparkSession,
      live: String,
      keys: DataFrame,
      idCol: String,
      shape: DataFrame => DataFrame,
      writeTo: (DataFrame, String) => Unit
  ): Long = {
    val k = keys.select(col(idCol)).distinct()
    val tmp = new org.apache.hadoop.fs.Path(PartitionSwap.prepare(spark, live))
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val seen = Observation()
    val keptObs = Observation()
    val kept = spark.read.parquet(live)
      .observe(seen, count(lit(1)).as("n"))
      .join(broadcast(k), Seq(idCol), "left_anti")
      .observe(keptObs, count(lit(1)).as("n"))
    val shaped = shape(kept)
    writeTo(shaped, tmp.toString)
    val hit = observedOr(seen, spark.read.parquet(live).count()) -
      observedOr(keptObs, stagedCount(spark, tmp.toString))
    if (hit == 0L) {
      // no-match sweep: the staged copy is discarded, live stays
      // byte-identical — the audit still reports an exact 0
      fs.delete(tmp, true)
      return 0L
    }
    // a fully-erased store must stay READABLE: a FLAT write of an empty
    // frame emits a schema-bearing file, but a partitionBy write of zero
    // rows emits NO files at all — re-stage flat in that case so the
    // swapped store loads as zero rows instead of dying on schema
    // inference (and so a hive-partitioned leg CAN complete a total
    // erasure rather than aborting its sweep forever). Guard by FILE
    // LISTING, not a spark.read (which fires a footer job per swept leg).
    if (!hasParquetFile(fs, tmp)) {
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shaped.schema)
        .write.mode("overwrite").parquet(tmp.toString)
      require(hasParquetFile(fs, tmp),
        s"erasure staged ZERO parquet files for $live — the swapped store " +
          "would be unreadable; this Spark version no longer writes " +
          "schema-bearing empty files")
    }
    PartitionSwap.replace(spark, live, tmp.toString)
    hit
  }

  private def hasParquetFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path
  ): Boolean = {
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext)
      found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** Remove every row whose `idCol` appears in `keys` from the parquet
    * tree at `live` (flat, or hive-partitioned when `partitionCols` is
    * set — the rewrite re-declares the same partitioning so the layout
    * survives; a TOTAL erasure of a partitioned leg degrades to a flat
    * schema-bearing empty file, see [[eraseWith]]). No-op (and no swap)
    * when no key matches, so sweeping a store that never contained the
    * subject leaves its files byte-identical. One scan of the store
    * total. Returns the number of rows erased.
    */
  def eraseByKey(
      spark: SparkSession,
      live: String,
      keys: DataFrame,
      idCol: String,
      partitionCols: Seq[String] = Nil
  ): Long =
    eraseWith(spark, live, keys, idCol, identity, (kept, tmp) => {
      val w = kept.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
    })

  /** One leg of a multi-leg store erase: directory name under the store
    * root, the key column inside it, and its hive partitioning (if any).
    */
  final case class Leg(name: String, idCol: String, partitionCols: Seq[String] = Nil)

  /** Erase the keys from EVERY leg of a multi-leg store ATOMICALLY: each
    * leg's kept rows stage under `<root>/.swap-stage/<leg>` (one scan
    * per leg, counts via observe — the [[eraseWith]] recipe), then all
    * legs promote in ONE [[PartitionSwap]] commit whose pending marker
    * lists them. A crash anywhere leaves the store fully pre-erase or
    * fully post-erase — never one leg purged and its sibling not, which
    * is an INCONSISTENT index ([[Fsck]]'s `legs_agree`/membership checks
    * exist to catch exactly that state). No-op with live files
    * byte-identical when no leg matched. Callers must run
    * `PartitionSwap.recover(root, "/.swap-stage", "")` on their load
    * path. Returns rows erased per leg, in `legs` order.
    */
  def eraseLegs(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      legs: Seq[Leg]
  ): Seq[Long] = eraseLegs(spark, root, keys, legs, _ => ())

  /** [[eraseLegs]] with [[PartitionSwap]]'s fault-injection hook passed
    * through to the commit, so the store-level crash matrix
    * (IndexCommitCrashSpec) can kill the REAL multi-leg erase at every
    * commit step. Production callers use the no-hook overload.
    */
  private[graft] def eraseLegs(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      legs: Seq[Leg],
      beforeStep: Int => Unit
  ): Seq[Long] = {
    PartitionSwap.recover(spark, root, "/.swap-stage", "")
    val stage = s"$root/.swap-stage"
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stagePath, true)

    // r14 (guide §2.6): each leg stages under its own subtree from a
    // read-only scan — independent chains, overlapped; `removed` keeps
    // `legs` order and the single commit below stays the promotion point
    val removed = Par.run[Long](legs.map(leg => () => {
      val k = keys.select(col(leg.idCol)).distinct()
      val seen = Observation()
      val keptObs = Observation()
      val kept = spark.read.parquet(s"$root/${leg.name}")
        .observe(seen, count(lit(1)).as("n"))
        .join(broadcast(k), Seq(leg.idCol), "left_anti")
        .observe(keptObs, count(lit(1)).as("n"))
      val w = kept.write.mode("overwrite")
      (if (leg.partitionCols.nonEmpty) w.partitionBy(leg.partitionCols: _*) else w)
        .parquet(s"$stage/${leg.name}")
      val hit = observedOr(seen, spark.read.parquet(s"$root/${leg.name}").count()) -
        observedOr(keptObs, stagedCount(spark, s"$stage/${leg.name}"))
      if (hit > 0L && !hasParquetFile(fs, new org.apache.hadoop.fs.Path(s"$stage/${leg.name}"))) {
        // total erasure of a partitioned leg: re-stage flat so the
        // swapped leg stays readable (eraseWith's argument)
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], kept.schema)
          .write.mode("overwrite").parquet(s"$stage/${leg.name}")
      }
      hit
    }))
    if (removed.forall(_ == 0L)) {
      fs.delete(stagePath, true)
      return removed
    }
    PartitionSwap.commit(spark, root, stage, legs.map(_.name), System.nanoTime(),
      beforeStep)
    removed
  }
}
