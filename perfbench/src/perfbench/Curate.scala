package perfbench

import org.apache.spark.sql.SparkSession

import graft.cli.CurateCli
import graft.cli.CurateCli.IncrementalSummary
import graft.dedup.Dedup
import graft.text.CorpusPipeline

/** The write path of `curate_rights`: daily batches through
  * `CurateCli.runIncremental` into an empty store, with the BM25 search
  * index and the aggregate store maintained. Day 0 bootstraps the store
  * and day 1 crosses the corpus compaction. The text gates, the dedup band
  * index, the BM25 append, the shard writes and the compaction do the
  * work; masking does none.
  */
object Curate {
  val NShards = 8
  val Days = 2

  /** Day 0 bootstraps the store without compacting it; every later day
    * compacts at one corpus file more than day 0 left, so day 1 crosses the
    * compaction whatever number of files a batch appends on this machine.
    * (The CLI's default of 16 is not crossed by two batches on few cores.)
    */
  def compactAt(day: Int, day0Files: Int): Int =
    if (day == 0) Int.MaxValue else day0Files + 1

  def corpusFiles(state: String): Int =
    Option(new java.io.File(s"$state/corpus").listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  def perBatch(tiny: Boolean): Int = if (tiny) 400 else 1000

  final case class Batch(path: String, mix: BatchMix, sha256: String)

  /** Generates the daily batches under `dir` (one parquet directory each)
    * and the owner mapping (`subject_id`, `doc_id`) of their documents.
    */
  def generate(spark: SparkSession, seed: Long, dir: String, perBatch: Int): Seq[Batch] = {
    import spark.implicits._
    val days = Gen.documents(seed, Days, perBatch, firstId = 0L)
    days.flatMap(_._1).map(d => (d.doc_id / Rights.DocsPerSubject, d.doc_id))
      .toDF("subject_id", "doc_id").coalesce(1).write.mode("overwrite").parquet(s"$dir/mapping")
    days.zipWithIndex.map { case ((docs, mix), b) =>
      Gen.writeDocs(spark, docs, s"$dir/day$b")
      Batch(s"$dir/day$b", mix, Gen.hashDocs(docs))
    }
  }

  /** Runs every batch into `state` and returns each one's summary and
    * latency. Each batch is one operation, checked against its mix: the
    * gates keep every fresh document and drop every off-language and
    * low-quality one; the corpus dedup finds every verbatim copy of an
    * earlier batch's document and flags nothing but copies; the last day
    * compacts the corpus.
    */
  def days(ctx: Ctx, batches: Seq[Batch], state: String, cycle: Int)
      : Seq[(Option[IncrementalSummary], Double)] = {
    var day0Files = 0
    batches.zipWithIndex.map { case (b, d) =>
      val m = b.mix
      val t0 = System.nanoTime()
      val s = ctx.op(s"curate ${b.path} cycle $cycle") {
        ctx.tracer.span("cli.incremental") {
          CurateCli.runIncremental(ctx.spark, b.path, state, NShards,
            compactAt = compactAt(d, day0Files), searchIndex = true, aggStats = true)
        }
      } { s => Seq(
        (s.auditOk, s"batch ${s.batch} failed its shard audit"),
        (s.nIn == m.total, s"batch read ${s.nIn} of ${m.total} rows"),
        (s.nKept >= m.fresh && s.nKept <= m.total - m.offLanguage - m.lowQuality,
          s"the gates kept ${s.nKept} rows of a batch built as $m"),
        (s.nDupOfCorpus >= m.distinctExactOfEarlier && s.nDupOfCorpus <= m.copiesOfEarlier,
          s"${s.nDupOfCorpus} duplicates of the corpus in a batch built as $m"),
        (s.corpusCompacted == (d == batches.size - 1),
          s"day $d compacted=${s.corpusCompacted} (compactAt ${compactAt(d, day0Files)})"))
      }
      val secs = ctx.secs(t0)
      if (d == 0) {
        day0Files = corpusFiles(state)
        if (cycle == 0) ctx.property("curate.day0_corpus_files", day0Files, "count")
      }
      (s, secs)
    }
  }

  /** The text gates alone, per batch, into the `noop` sink: separates them
    * from store and index upkeep (traced cycles only, outside the cycle).
    */
  def textPrepare(ctx: Ctx, batches: Seq[Batch]): Unit =
    batches.foreach { b =>
      ctx.tracer.span("text.prepare", outsideCycle = true) {
        CorpusPipeline.prepare(ctx.spark.read.parquet(b.path)).write.format("noop")
          .mode("overwrite").save()
      }
    }

  /** The corpus dedup alone, per batch: the batch's raw text against the
    * store's band index into the `noop` sink (traced cycles only, outside
    * the cycle), to separate the dedup layer from the rest of a batch.
    */
  def dedupProbe(ctx: Ctx, batches: Seq[Batch], state: String): Unit =
    batches.foreach { b =>
      ctx.tracer.span("dedup.against_corpus", outsideCycle = true) {
        Dedup.dedupAgainstCorpus(Dedup.loadBandIndex(ctx.spark, s"$state/index"),
          ctx.spark.read.parquet(b.path), "text").write.format("noop").mode("overwrite").save()
      }
    }

  /** Input properties: measured dedup and gate shares, and the shares the
    * generator built the batches with.
    */
  def properties(ctx: Ctx, sums: Seq[IncrementalSummary], batches: Seq[Batch], cycles: Int): Unit = {
    val nIn = sums.map(_.nIn).sum.toDouble
    val nKept = sums.map(_.nKept).sum.toDouble
    ctx.compactions = sums.count(_.corpusCompacted) / math.max(cycles, 1)
    ctx.property("curate.dup_of_corpus_frac", sums.map(_.nDupOfCorpus).sum / nKept)
    ctx.property("curate.fresh_frac", sums.map(_.nFresh).sum / nKept)
    ctx.property("curate.kept_frac", nKept / nIn)
    ctx.property("curate.compactions_per_cycle", ctx.compactions.toDouble, "count")
    val mixes = batches.map(_.mix)
    val n = mixes.map(_.total).sum.toDouble
    ctx.property("curate.generated.near_dup_frac", mixes.map(_.nearDup).sum / n)
    ctx.property("curate.generated.exact_dup_frac", mixes.map(_.exactDup).sum / n)
    ctx.property("curate.generated.off_language_frac", mixes.map(_.offLanguage).sum / n)
    ctx.property("curate.generated.low_quality_frac", mixes.map(_.lowQuality).sum / n)
  }
}
