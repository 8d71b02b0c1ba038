package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted corpus profile: an [[Hll]] distinct sketch plus an
  * [[HdrHistogram]] length histogram — and, when a source column is
  * supplied, a per-source [[Kmv]] bottom-k sketch whose pairwise
  * intersection estimates answer "how much do my sources duplicate each
  * other?" without a corpus read — maintained INCREMENTALLY — each
  * batch is sketched once (narrow pass over the batch only) and merged
  * into the store; the accumulated corpus is never re-read. Because both
  * merges are lossless (union+max / union+sum), the stored profile is at
  * every point IDENTICAL to the sketch of the full corpus — the
  * `q_hll_merged` invariant operationalized — so profile telemetry
  * (distinct-document estimates, token-length quantiles) costs one tiny
  * read no matter how many petabytes landed.
  *
  * Durability: each sketch leg (`hll`, `hdr`, `kmv`) promotes through
  * [[graft.operators.PartitionSwap]]'s single-directory replace; run its
  * `recoverDir` on each leg before [[exists]] routes a batch
  * (CurateCli.runIncremental does). Sketch files are a few KB, so the
  * rewrite-per-append is free.
  */
object ProfileStore {

  /** Bottom-k size of the optional per-source KMV overlap sketch. */
  val KmvK: Int = 256

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  def exists(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(p(s"$dir/hll"))

  private def sketchBatch(
      batch: DataFrame,
      distinctCol: Column,
      lenCol: Column
  ): (DataFrame, DataFrame) =
    (Hll.sketch(batch, distinctCol),
      HdrHistogram.sketch(batch, lenCol.cast("double")))

  /** Bootstrap: profile of the first batch. Writes hdr BEFORE hll —
    * [[exists]] keys on the hll dir, so the store only reads as present
    * once BOTH halves landed; the reverse order would let a crash between
    * the two writes strand a store that `exists` routes to [[append]],
    * which then fails forever on the missing hdr path.
    */
  def write(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      distinctCol: Column,
      lenCol: Column,
      sourceCol: Option[String] = None
  ): Unit = {
    val (hll, hdr) = sketchBatch(batch, distinctCol, lenCol)
    // kmv lands before hdr/hll for the same crash reason hdr precedes hll
    sourceCol.foreach { src =>
      Kmv.sketch(batch, distinctCol, Seq(src), KmvK)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/kmv")
    }
    hdr.coalesce(1).write.mode("overwrite").parquet(s"$dir/hdr")
    hll.coalesce(1).write.mode("overwrite").parquet(s"$dir/hll")
  }

  /** Merges one batch into the stored profile. The merged sketch is fully
    * materialized into the staging dir BEFORE the live dir moves, so a
    * crash at any point leaves either the old profile live or recoverable
    * (`recoverDir`); the merge plan is never asked to read a path that is
    * being replaced under it.
    */
  def append(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      distinctCol: Column,
      lenCol: Column,
      sourceCol: Option[String] = None
  ): Unit = {
    val fs = fsOf(spark, dir)
    val (hllB, hdrB) = sketchBatch(batch, distinctCol, lenCol)
    import graft.operators.PartitionSwap
    def swapIn(live: String, merge: DataFrame => DataFrame): Unit = {
      val next = PartitionSwap.prepare(spark, live)
      merge(spark.read.parquet(live)).coalesce(1).write.mode("overwrite").parquet(next)
      PartitionSwap.replace(spark, live, next)
    }
    swapIn(s"$dir/hll", stored => Hll.merge(stored.unionAll(hllB)))
    swapIn(s"$dir/hdr", stored => HdrHistogram.merge(stored.unionAll(hdrB)))
    sourceCol.foreach { src =>
      val kmvB = Kmv.sketch(batch, distinctCol, Seq(src), KmvK)
      if (!fs.exists(p(s"$dir/kmv")))
        // store predates the overlap option: bootstrap from this batch
        // forward (the HLL/HDR halves are unaffected)
        kmvB.coalesce(1).write.mode("overwrite").parquet(s"$dir/kmv")
      else
        swapIn(s"$dir/kmv", stored => Kmv.merge(stored.unionAll(kmvB), Seq(src), KmvK))
    }
  }

  /** Erasure/TTL staleness ledger. Sketch merges are append-only — HLL
    * registers, HDR buckets, and KMV bottom-k values CANNOT subtract — so
    * after rows are erased ([[graft.operators.Erasure]]) or expired
    * ([[graft.operators.Ttl]]) the stored profile still counts them,
    * silently and forever. The honest fix is bookkeeping + rebuild: every
    * purge records its row count here ([[recordErasure]]), the audit
    * ([[stalenessCount]] / [[isStale]]) surfaces how far the profile has
    * drifted from the retained corpus, and [[rebuild]] re-sketches the
    * retained data in one shot and zeroes the ledger — after which the
    * store is again data-identical to a fresh one-shot profile (the
    * CurateCli `--erase` sweep runs exactly this when the count crosses
    * its budget).
    */
  private def stalenessPath(dir: String) = s"$dir/_staleness"

  /** Add `nErased` purged rows to the ledger (no-op for 0). */
  def recordErasure(spark: SparkSession, dir: String, nErased: Long): Unit = {
    if (nErased <= 0L) return
    val fs = fsOf(spark, dir)
    val total = stalenessCount(spark, dir) + nErased
    val out = fs.create(p(stalenessPath(dir)), true)
    out.write(total.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Rows purged from the profiled data since the last build/rebuild. */
  def stalenessCount(spark: SparkSession, dir: String): Long = {
    val fs = fsOf(spark, dir)
    val sp = p(stalenessPath(dir))
    if (!fs.exists(sp)) 0L
    else {
      val in = fs.open(sp)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      } finally in.close()
    }
  }

  /** True when more rows were purged since the last rebuild than the
    * caller's drift budget tolerates.
    */
  def isStale(spark: SparkSession, dir: String, budget: Long): Boolean =
    stalenessCount(spark, dir) > budget

  /** Re-sketch the RETAINED corpus in one shot and zero the ledger — the
    * only way a sketch store forgets. Sweeps amortize this: batch
    * erasures, rebuild once past the budget.
    */
  def rebuild(
      spark: SparkSession,
      dir: String,
      retained: DataFrame,
      distinctCol: Column,
      lenCol: Column,
      sourceCol: Option[String] = None
  ): Unit = {
    write(spark, dir, retained, distinctCol, lenCol, sourceCol)
    fsOf(spark, dir).delete(p(stalenessPath(dir)), false)
  }

  /** Distinct estimate of the profiled column over everything appended. */
  def distinctEstimate(spark: SparkSession, dir: String): Double =
    Hll.estimate(spark.read.parquet(s"$dir/hll")).head().getDouble(0)

  /** Length quantiles over everything appended: rows `(q, est)`. */
  def lengthQuantiles(
      spark: SparkSession,
      dir: String,
      qs: Seq[Double]
  ): DataFrame =
    HdrHistogram.quantiles(spark.read.parquet(s"$dir/hdr"), qs)

  /** Pairwise source-overlap estimates over everything appended, from the
    * stored KMV sketch alone (store written/appended with `sourceCol`).
    * Because KMV merge is exact, this equals the estimate a one-shot
    * sketch of the full accumulated corpus would give — cross-source
    * duplication telemetry with zero corpus reads.
    */
  def sourceOverlapEstimates(
      spark: SparkSession,
      dir: String,
      sourceCol: String = "source"
  ): DataFrame =
    Kmv.pairwiseOverlap(spark.read.parquet(s"$dir/kmv"), sourceCol, KmvK)
}
