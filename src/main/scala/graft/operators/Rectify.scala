package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-rectification (GDPR Art. 16) through persisted stores — the
  * third member of the data-subject-rights family: [[graft.cli.CurateCli]]
  * `access` answers Art. 15, `erase` answers Art. 17, and this module's
  * `rectify` sweep answers Art. 16 by REPLACING a subject's stored content
  * in place, in the corpus and in every serving artifact derived from it.
  * The reference's obligation surface
  * (`/root/reference/dbt_project/models/staging/schema.yml` PII meta,
  * `/root/reference/dbt_project/models/marts/schema.yml` publication gate)
  * only re-runs its models from corrected sources; here every store
  * rectifies in place, because rectification that leaves the OLD text
  * retrievable from a postings index (or ranking through stale token
  * stats) has not rectified anything.
  *
  * Contract: rectification is replace-only — corrected rows whose id is
  * absent from a store update nothing there (insertion is admission,
  * i.e. the ingest pipeline's job, with its dedup gate and quality gate;
  * a rectify sweep must not smuggle new documents past them). Matched
  * rows have the corrected columns replaced and every derived column
  * recomputed by the caller exactly as the original write derived it.
  *
  * Mechanics mirror [[Erasure]]: the corrected set is REQUEST-sized, the
  * store is corpus-sized, so the update is a broadcast LEFT OUTER join
  * streamed through one narrow scan→project→write pass per store — the
  * matched-row count rides the same scan as an `observe` metric, and a
  * no-match sweep leaves the live files byte-identical. Replays converge:
  * re-applying the same corrected rows replaces equal content with equal
  * content (the multi-leg index rectifies additionally carry a batch id,
  * so their replays are exact no-ops).
  */
object Rectify {

  /** Replace, on every live row whose `idCol` matches, the columns that
    * `corrected` carries besides `idCol` — all of which must exist in the
    * store — leaving unmatched rows and uncarried columns untouched. One
    * scan of the store: the matched-row count rides the rewrite as an
    * observe metric; zero matches discards the stage without touching the
    * live files. The rewrite is a broadcast left join + projection —
    * narrow, no shuffle, so whatever file clustering the store relies on
    * survives unless `shape` re-declares it. Crash-safe via the
    * single-directory swap ([[PartitionSwap.prepare]] heals a torn one
    * before the read, [[PartitionSwap.replace]] promotes). Returns rows
    * updated.
    *
    * `corrected` must be unique per id (a request-sized frame — the
    * uniqueness probe is two bounded counts): duplicate corrected rows
    * would multiply store rows through the join.
    */
  def updateByKey(
      spark: SparkSession,
      live: String,
      corrected: DataFrame,
      idCol: String,
      shape: DataFrame => DataFrame = identity,
      writeTo: (DataFrame, String) => Unit =
        (df, tmp) => df.write.mode("overwrite").parquet(tmp)
  ): Long = {
    // a crashed run's mid-swap state (live retired, promote not landed)
    // heals here, so DIRECT callers are covered too — the store-level
    // rectifies run their own recovery first, and this replay is a no-op
    val tmp = new org.apache.hadoop.fs.Path(PartitionSwap.prepare(spark, live))
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val replaceCols = corrected.columns.filterNot(_ == idCol).toSeq
    require(replaceCols.nonEmpty,
      s"rectify: corrected frame carries only '$idCol' — nothing to replace")
    val nCorrected = corrected.count()
    require(corrected.select(col(idCol)).distinct().count() == nCorrected,
      s"rectify: corrected frame has duplicate '$idCol' rows — each id must " +
        "carry exactly one corrected value set")

    val liveDf = spark.read.parquet(live)
    val liveCols = liveDf.columns.toSeq
    require(liveCols.contains(idCol),
      s"rectify: store $live has no '$idCol' column")
    val missing = replaceCols.filterNot(liveCols.contains)
    require(missing.isEmpty,
      s"rectify: store $live has no column(s) ${missing.mkString(", ")}")

    val c = corrected.select(
      col(idCol) +: replaceCols.map(n => col(n).as(s"_r_$n")) :+
        lit(1).as("_r_hit"): _*)

    val hitObs = Observation()
    val updated = liveDf
      .join(broadcast(c), Seq(idCol), "left")
      .observe(hitObs, count(col("_r_hit")).as("n"))
      .select(liveCols.map { n =>
        if (replaceCols.contains(n))
          when(col("_r_hit").isNotNull, col(s"_r_$n")).otherwise(col(n)).as(n)
        else col(n)
      }: _*)
    writeTo(shape(updated), tmp.toString)
    // observedOr: rectifying an EMPTY store completes with no observed
    // metrics (AQE empty-relation propagation, Erasure scaladoc); the
    // fallback semi-join count is bounded by the corrected frame
    val hit = Erasure.observedOr(hitObs,
      liveDf.join(broadcast(c.select(col(idCol))), Seq(idCol), "left_semi")
        .count())
    if (hit == 0L) {
      // no-match sweep: discard the stage, live files stay byte-identical
      fs.delete(tmp, true)
      return 0L
    }
    PartitionSwap.replace(spark, live, tmp.toString)
    hit
  }
}
