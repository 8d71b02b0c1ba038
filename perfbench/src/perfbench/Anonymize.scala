package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline
import graft.policy.{EngineConfig, PolicyCatalog}
import graft.validate.Validate

/** `anonymize_batch`: the `PipelineCli` flow on generated services rows.
  * staging -> anonymize -> enrich -> mart parquet, then the compliance
  * gate (`assertNoPiiInMart`, `piiScan`, `qualityMetrics`,
  * `kAnonymityViolations`, `piiReport`) and the Mondrian geo release.
  * The masking, pipeline and validate layers do the work; no store verb
  * runs.
  */
object Anonymize {
  private val cfg = EngineConfig()
  /** Measured rounds of the traced layer probes. */
  private val ProbeRounds = 5

  final case class Flow(martS: Double, gateS: Double, geoS: Double, totalS: Double,
      nPii: Long, nScan: Long, nK: Long, quality: org.apache.spark.sql.Row,
      geoGroups: Option[Long])

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer => t}
    val rows = if (ctx.args.tiny) 20000L else 40000L
    val seed = ctx.args.seed
    val input = ctx.dir("anonymize/services_csv")
    val out = ctx.dir("anonymize/out")

    // set-up: input generation; the flow then runs cold, as each
    // PipelineCli invocation does
    val hashes = (0 until 3).map(i => ctx.setup(Gen.services(spark, seed, rows, s"$input.$i")))
    ctx.op("generator determinism")(hashes)(hs => Seq(
      (hs.distinct.size == 1, s"one seed gave ${hs.distinct.size} different inputs")))
    Seq(s"$input.0", s"$input.1").foreach(Files2.delete)
    val csv = s"$input.2"
    ctx.say(s"input anonymize.services_csv rows=$rows sha256=${hashes.last}")

    val expected = Gen.expectedMartRows(seed, rows)
    profile(ctx, spark.read.option("header", "true").csv(csv))

    def flow(cycle: Int): Option[Flow] = ctx.op(s"anonymize flow $cycle") {
      val t0 = System.nanoTime()
      val Seq(staged, anon, enriched, mart) = t.span("pipeline.mart_write")(publish(spark, csv, out))
      val martS = ctx.secs(t0)
      val martBack = spark.read.parquet(s"$out/mart_services_open_data")
      val nPii = t.span("validate.assert_no_pii")(Validate.assertNoPiiInMart(martBack).count())
      val nScan = t.span("validate.pii_scan")(Validate.piiScan(martBack).count())
      val quality = t.span("validate.quality_metrics")(Validate.qualityMetrics(enriched).head())
      val nK = t.span("validate.k_anonymity")(Validate
        .kAnonymityViolations(enriched, "organization_category", cfg.kAnonymityMin).count())
      t.span("validate.pii_report")(Validate.piiReport(spark, PolicyCatalog.reference)
        .coalesce(1).write.mode("overwrite").json(s"$out/pii_report"))
      val gateS = ctx.secs(t0) - martS
      val geo = t.span("pipeline.geo_release") {
        Pipeline.geoRelease(staged, cfg.kAnonymityMin).map { g =>
          g.write.mode("overwrite").parquet(s"$out/geo_release")
          spark.read.parquet(s"$out/geo_release").count()
        }
      }
      val totalS = ctx.secs(t0)
      if (t.active) layerPrefixes(ctx, staged, anon, enriched, mart)
      Flow(martS, gateS, totalS - martS - gateS, totalS, nPii, nScan, nK, quality, geo)
    } { f =>
      val nMart = spark.read.parquet(s"$out/mart_services_open_data").count()
      Seq(
        (f.nPii == 0, s"${f.nPii} PII violations in the mart"),
        (f.nScan == 0, s"${f.nScan} PII regex hits in the mart"),
        (f.nK == 0, s"${f.nK} k-anonymity violations"),
        (f.quality.getAs[Long]("emails_improperly_anonymized") == 0,
          s"improperly anonymized emails: ${f.quality}"),
        (f.quality.getAs[Long]("phones_improperly_masked") == 0,
          s"improperly masked phones: ${f.quality}"),
        (nMart == expected, s"mart has $nMart rows, the generator predicts $expected"),
        (f.geoGroups.exists(_ > 0), "the geo release published no group"))
    }

    val flows = scala.collection.mutable.ArrayBuffer.empty[Flow]
    ctx.measure { i =>
      val f = flow(i)
      f.foreach(flows += _)
      f.fold(0.0)(_.totalS)
    }
    require(flows.nonEmpty, "no anonymize flow completed")
    val martS = Stats.median(flows.map(_.martS).toSeq)
    val totalS = Stats.median(flows.map(_.totalS).toSeq)
    val n = flows.size
    Outcome(
      latencyS = martS,
      latencyMaxS = Stats.median(flows.map(f => Seq(f.martS, f.gateS, f.geoS).max).toSeq),
      itemsPerS = rows / totalS,
      storeMb = Files2.sizeBytes(out) / 1e6,
      named = Seq(
        Metric("anonymize.mart_s", martS, "s", n),
        Metric("anonymize.rows_per_s", rows / totalS, "1/s", n),
        Metric("anonymize.gate_s", Stats.median(flows.map(_.gateS).toSeq), "s", n),
        Metric("anonymize.geo_release_s", Stats.median(flows.map(_.geoS).toSeq), "s", n)))
  }

  /** The publication: raw CSV -> staging -> anonymize -> enrich -> mart
    * parquet under `out`. Returns the four layers' frames.
    */
  private def publish(spark: SparkSession, csv: String, out: String): Seq[DataFrame] = {
    val raw = spark.read.option("header", "true").csv(csv)
    val staged = Pipeline.staging(raw)
    val anon = Pipeline.anonymize(staged, PolicyCatalog.reference, cfg)
    val enriched = Pipeline.enrich(anon, cfg.gpsPrecision)
    val mart = Pipeline.mart(enriched, cfg)
    mart.write.mode("overwrite").parquet(s"$out/mart_services_open_data")
    Seq(staged, anon, enriched, mart)
  }

  /** Null-or-empty shares of the PII columns the masks must handle, as
    * the pipeline reads them (the CSV reader turns empty strings into nulls).
    */
  private def profile(ctx: Ctx, raw: DataFrame): Unit = {
    val pii = Seq("contact_email", "contact_phone", "street_address", "latitude", "longitude")
    val r = raw.agg(count(lit(1)).as("n"), pii.map(c =>
      sum(when(col(c).isNull || col(c) === "", 1).otherwise(0)).as(c)): _*).head()
    val n = r.getLong(0).toDouble
    pii.foreach(c => ctx.property(s"anonymize.$c.null_or_empty_frac", r.getAs[Long](c) / n))
  }

  /** The four pipeline layers run as one fused codegen stage, so each
    * layer's share is the difference between consecutive prefixes, each
    * run into the `noop` sink (traced cycles only, outside the timed flow).
    * One prefix at a time is a few hundred milliseconds, so the prefixes run
    * `ProbeRounds` times, interleaved and warm, and each layer's wall and
    * task time is the difference of the prefixes' medians.
    */
  private def layerPrefixes(ctx: Ctx, prefixes: DataFrame*): Unit = {
    val t = ctx.tracer
    val names = Seq("staging", "anonymize", "enrich", "mart")
    val rounds = (0 to ProbeRounds).map { _ =>
      names.zip(prefixes).map { case (n, df) =>
        t.span(s"probe.$n", outsideCycle = true)(df.write.format("noop").mode("overwrite").save())
        t.spans.last
      }
    }.tail // the first round warms the prefixes
    t.drain()
    var prevS = 0.0
    var prev = new Counters
    names.indices.foreach { i =>
      val ps = rounds.map(_(i))
      val c = t.own(ps.head) - new Counters
      c.taskMs = Stats.median(ps.map(t.own(_).taskMs.toDouble)).toLong
      val wallS = Stats.median(ps.map(_.wallS))
      t.derivedSpan(s"pipeline.${names(i)}", wallS - prevS, c - prev)
      prevS = wallS
      prev = c
    }
  }
}
