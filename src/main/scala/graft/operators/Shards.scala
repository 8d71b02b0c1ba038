package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic training-shard writer — the last mile of a training-data
  * pipeline: turn a curated corpus into `n` reproducible parquet shards
  * with a stable within-shard row order, so a training job reading shard
  * files sees the SAME byte stream on every rebuild (resumable data
  * loading, reproducible runs, diffable reshards).
  *
  *   - shard assignment: [[StableHash]] md5 bucket of the id — engine- and
  *     Spark-version-stable, never `hash()`;
  *   - within-shard order: `orderCols` then the id as the unique
  *     tie-break, materialized as a dense 0-based `shard_pos`;
  *   - layout: `partitionBy("shard")` parquet, ONE file per shard (all of
  *     a shard's rows meet in one task via `repartition(n, shard)` before
  *     the sorted write).
  *
  * Scale shape: one shuffle keyed by shard (n partitions) + a per-shard
  * sort — the unavoidable cost of deterministic order. Size `n` so a
  * shard is a healthy parquet file (hundreds of MB): at 100 TB that is
  * n in the tens of thousands, and each task sorts only its ~file-sized
  * slice. The `shard_pos` window partitions by shard, so its sort is the
  * same per-shard sort the write needs — nothing global.
  */
object Shards {

  /** Live `batch=N` directories under a shards ROOT (the
    * [[graft.cli.CurateCli]] `shards/batch=N/shard=S` tree) that hold
    * data, in batch order. Driver METADATA only — one listing of the
    * root plus one per batch directory, no Spark jobs. Along the way:
    *   - heals a torn per-directory retire/promote swap (a crashed
    *     rewrite leaves `batch=N` absent with `batch=N__retired`
    *     holding the data) so a partitioned read never spans a
    *     half-swapped tree;
    *   - excludes in-flight swap debris ([[PartitionSwap.debrisOwner]]
    *     siblings with their live twin present);
    *   - excludes the FLAT schema-only directories a TOTAL erasure
    *     leaves behind (zero rows, no `shard=` children — mixing one
    *     into a multi-directory partitioned read trips Spark's
    *     conflicting-directory-structure detection, and it has nothing
    *     to probe anyway).
    */
  def liveBatchDirs(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    fs.listStatus(rootPath).map(_.getPath.getName)
      .flatMap(PartitionSwap.debrisOwner).distinct
      .foreach(live => PartitionSwap.recoverDir(spark, s"$root/$live"))
    batchDirs(fs, rootPath)
  }

  /** [[liveBatchDirs]] without the heal — the read-only listing fsck audits. */
  private[operators] def batchDirs(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
        PartitionSwap.debrisOwner(s.getPath.getName).isEmpty)
      .filter(s => fs.listStatus(s.getPath).exists(c =>
        c.isDirectory && c.getPath.getName.startsWith("shard=")))
      .map(_.getPath.getName)
      .sortBy(_.stripPrefix("batch=").toInt)
      .toSeq

  /** ONE partitioned read spanning the given batch directories: `batch`
    * and `shard` come back as partition columns, so a membership probe
    * or audit over N accumulated batches is a single scan relation —
    * never N sequential jobs or an N-leg union plan (the round-9
    * O(#batches) sweep-loop finding).
    */
  def readBatches(
      spark: SparkSession,
      root: String,
      batchDirs: Seq[String]
  ): DataFrame =
    spark.read.option("basePath", root)
      .parquet(batchDirs.map(n => s"$root/$n"): _*)

  /** The `batch=N` directory names holding at least one of `keys` — the
    * probe that makes a subject sweep's shard-leg job count scale with
    * directories MATCHED (request-sized) instead of directories
    * ACCUMULATED (a year of daily epochs). One partitioned scan +
    * broadcast semi-join, aggregated to ≤ |batches| rows on the driver.
    */
  def touchedBatchDirs(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      idCol: String
  ): Seq[String] = {
    val dirs = liveBatchDirs(spark, root)
    if (dirs.isEmpty) return Seq.empty
    val hit = readBatches(spark, root, dirs)
      .select(col(idCol), col("batch"))
      .join(broadcast(keys.select(col(idCol)).distinct()), Seq(idCol), "left_semi")
      .select(col("batch").cast("string")).distinct()
      .collect().map(r => s"batch=${r.getString(0)}").toSet
    dirs.filter(hit.contains)
  }

  /** Input plus `shard` (md5 bucket of `idCol` in [0, n)) and `shard_pos`
    * (dense 0-based ordinal within the shard by `orderCols`, id tie-break).
    */
  def assign(
      df: DataFrame,
      idCol: String,
      n: Int,
      orderCols: Seq[String] = Nil
  ): DataFrame = {
    require(n > 0, s"shards: n must be positive, got $n")
    val reserved = Seq("shard", "shard_pos")
    require(
      !reserved.exists(df.columns.contains),
      s"shards: input must not already have ${reserved.mkString("/")} columns")
    val ord = ordering(idCol, orderCols)
    df.withColumn("shard", StableHash.bucket(col(idCol), n))
      .withColumn(
        "shard_pos",
        (row_number().over(
          Window.partitionBy(col("shard")).orderBy(ord: _*)) - 1).cast("long"))
  }

  private def ordering(idCol: String, orderCols: Seq[String]): Seq[Column] =
    (orderCols :+ idCol).distinct.map(col(_).asc)

  /** Write the sharded corpus: `<dir>/shard=<s>/part-*.parquet`, one file
    * per shard, rows in deterministic (`orderCols`, id) order. Re-running
    * over the same input produces identical shard membership and order.
    *
    * The write also emits a per-file stats manifest at `<dir>/_stats`
    * over (`orderCols`, id) — one extra projected scan of the fresh
    * files, aggregated to |files| rows — so selective downstream reads
    * can go through [[DataSkipping.prunedReadSelf]] instead of opening
    * every shard. Effectiveness follows the layout: files are sorted by
    * (`orderCols`, id), so leading `orderCols` ranges prune well; the
    * hash-assigned id only prunes when a shard holds a narrow id slice.
    */
  def write(
      df: DataFrame,
      idCol: String,
      dir: String,
      n: Int,
      orderCols: Seq[String] = Nil
  ): Unit = {
    val ord = col("shard").asc +: ordering(idCol, orderCols)
    assign(df, idCol, n, orderCols)
      // all rows of a shard into one task; hash collisions only co-locate
      // several shards in a task, and partitionBy still splits their files
      .repartition(n, col("shard"))
      .sortWithinPartitions(ord: _*)
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(dir)
    DataSkipping.writeManifest(
      df.sparkSession, dir, (orderCols :+ idCol).distinct,
      s"$dir/${DataSkipping.ManifestSubdir}")
  }

  /** Box-pruned read of a written shard directory via its own `_stats`
    * manifest — opens only the shard files whose stat ranges overlap.
    */
  def prunedRead(
      spark: SparkSession,
      dir: String,
      box: Seq[ColRange],
      maxFiles: Int = 100000
  ): DataFrame =
    DataSkipping.prunedReadSelf(spark, dir, box, maxFiles)

  /** Right-to-erasure through a written shard directory: remove the
    * erased ids and RECLOSE the dense `shard_pos` ordinals (row_number
    * over the surviving rows in their old order), so the erased
    * directory is row-identical to a from-scratch [[write]] of the
    * retained corpus with the same `orderCols` — shard membership is an
    * id hash (unchanged for survivors) and filtering preserves the
    * (`orderCols`, id) order `shard_pos` encoded. The read-back audit
    * contract (dense 0-based contiguous positions, one file per shard)
    * therefore keeps holding after erasure. Whole-directory
    * retire/promote swap + manifest rebuild; `orderCols` must match the
    * original write's so the refreshed `_stats` stat columns line up.
    * Returns rows erased.
    */
  def eraseByKey(
      spark: SparkSession,
      dir: String,
      keys: DataFrame,
      idCol: String,
      orderCols: Seq[String] = Nil
  ): Long = {
    // single pass over the shard directory: the audit count rides the
    // rewrite scan as observe metrics (Erasure.eraseWith), the position
    // re-close is the store-specific `shape`
    val hit = Erasure.eraseWith(spark, dir, keys, idCol,
      shape = kept => {
        val w = Window.partitionBy(col("shard")).orderBy(col("shard_pos").asc)
        kept
          .withColumn("shard_pos", (row_number().over(w) - 1).cast("long"))
          .repartition(col("shard"))
          .sortWithinPartitions(col("shard").asc, col("shard_pos").asc)
      },
      writeTo = (shaped, tmp) =>
        shaped.write.mode("overwrite").partitionBy("shard").parquet(tmp))
    if (hit == 0L) return 0L
    DataSkipping.writeManifest(
      spark, dir, (orderCols :+ idCol).distinct,
      s"$dir/${DataSkipping.ManifestSubdir}")
    hit
  }

  /** Right-to-rectification (GDPR Art. 16) through a written shard
    * directory: replace the corrected columns on the subject's rows IN
    * PLACE — `shard` is an id hash and `shard_pos` encodes the
    * (`orderCols`, id) order, and rectification changes neither the ids
    * nor the order keys, so membership and every position survive
    * exactly: the rectified directory is row-identical to a from-scratch
    * [[write]] of the corrected corpus, and the read-back audit
    * (dense positions, per-shard `content_hash` over (pos, id)) keeps
    * holding without re-closing anything. One pass
    * ([[Rectify.updateByKey]] broadcast-left-join rewrite), whole-
    * directory retire/promote swap, manifest refresh (file stats
    * change). Returns rows rectified.
    */
  def rectifyByKey(
      spark: SparkSession,
      dir: String,
      corrected: DataFrame,
      idCol: String,
      orderCols: Seq[String] = Nil
  ): Long = {
    // the in-place contract above RESTS on the corrected columns leaving
    // the order keys and the layout columns alone — a corrected frame
    // carrying one would silently leave shard_pos inconsistent with the
    // declared (orderCols, id) order while the (pos, id) content-hash
    // audit still passed. Enforce it instead of documenting it.
    val touched = corrected.columns
      .intersect(orderCols ++ Seq("shard", "shard_pos"))
    require(touched.isEmpty,
      s"shards rectify: corrected frame must not carry order/layout " +
        s"column(s) ${touched.mkString(", ")} — changing an order key is a " +
        "retire+re-admit, not an in-place rectification")
    val hit = Rectify.updateByKey(spark, dir, corrected, idCol,
      shape = _
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard").asc, col("shard_pos").asc),
      writeTo = (shaped, tmp) =>
        shaped.write.mode("overwrite").partitionBy("shard").parquet(tmp))
    if (hit == 0L) return 0L
    DataSkipping.writeManifest(
      spark, dir, (orderCols :+ idCol).distinct,
      s"$dir/${DataSkipping.ManifestSubdir}")
    hit
  }

  /** Per-shard manifest of a written shard directory: (shard, n_rows,
    * n_files, bytes, content_hash) — the bookkeeping record a training job
    * reads to resume/verify a data epoch without re-reading the corpus.
    * `content_hash` is ORDER-SENSITIVE with BOUNDED aggregation state: each
    * row contributes md5Long("<shard_pos>:<id>") and the shard digest is
    * their sum — the position inside the hash makes any reorder, loss,
    * duplicate or membership change shift the sum, while the commutative
    * fold keeps per-group state at one long (a collect_list of a
    * hundreds-of-MB shard would OOM the executor).
    */
  def manifest(spark: SparkSession, dir: String, idCol: String): DataFrame = {
    val back = spark.read.parquet(dir)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_bytes", col("_metadata.file_size"))
    val rows = back
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(StableHash.md5Long(
          concat_ws(":", col("shard_pos"), col(idCol)))).as("content_hash"))
    val files = back
      .groupBy(col("shard"), col("_file"))
      .agg(max(col("_bytes")).as("_fb"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_files"), sum(col("_fb")).as("bytes"))
    rows.join(files, "shard")
      .select(col("shard"), col("n_rows"), col("n_files"), col("bytes"),
        col("content_hash"))
  }

  /** Read a written shard directory back with the per-shard FILE count
    * attached to every row — the audit surface for [[write]]'s layout
    * guarantee: `files_in_shard` must be 1 everywhere, `shard_pos` must
    * replay the (orderCols, id) row_number, and membership must equal
    * [[assign]] on the source. The file census is `_metadata.file_path`
    * (no extra scan) aggregated to |shards| rows and broadcast back.
    */
  def readBackAudit(spark: SparkSession, dir: String): DataFrame = {
    val back = spark.read.parquet(dir)
      .withColumn("_file", col("_metadata.file_path"))
    val files = back
      .groupBy(col("shard"))
      .agg(countDistinct(col("_file")).as("files_in_shard"))
    back.join(broadcast(files), "shard").drop("_file")
  }
}
