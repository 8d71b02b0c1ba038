package graft.cli

import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline
import graft.policy.{EngineConfig, PolicyCatalog}
import graft.validate.Validate

/** End-to-end pipeline CLI — the Spark equivalent of the reference's
  * `make run` + `make validate` flow (reference: Makefile:53-61 +
  * src/dbt_gdpr_anonymizer/scripts/validate_anonymization.py:311-370):
  * seed CSV -> staging -> anonymized -> enriched -> mart, then the
  * compliance gate (PII scan + quality metrics + k-anonymity), exiting
  * non-zero on any violation.
  *
  * Usage: PipelineCli <input.csv> <outputDir> [saltKey]
  *                    [--retention-asof YYYY-MM-DD]
  *
  * `--retention-asof` additionally enforces the policy's per-column
  * `retention_days` windows on the staged rows as of the given audit
  * date ([[graft.policy.ColumnRetention]] — storage limitation, GDPR
  * Art. 5.1.e: PII cells older than their declared window are
  * suppressed BEFORE anonymization, and `retention_report/` records the
  * per-column expiry counts). Off by default: the reference declares
  * the windows but its own pipeline does not execute them, so parity
  * behavior stays the default.
  */
object PipelineCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineCli <input.csv> <outputDir> [saltKey] " +
        "[--retention-asof YYYY-MM-DD]")
    val Array(input, outDir) = args.take(2)
    val retentionAsOf = args.indexOf("--retention-asof") match {
      case -1 => None
      case i =>
        require(args.length > i + 1,
          "--retention-asof requires a YYYY-MM-DD date")
        Some(args(i + 1))
    }
    val positional = args.drop(2).takeWhile(!_.startsWith("--"))
    val cfg =
      if (positional.nonEmpty) EngineConfig(saltKey = positional.head)
      else EngineConfig()

    val spark = graft.Session("graft-pipeline")

    // Seed semantics: all-varchar CSV (dbt seed with column_types overrides,
    // dbt_project.yml:125-137); staging does the typing casts.
    val raw = spark.read.option("header", "true").csv(input)

    val stagedAll = Pipeline.staging(raw)
    // storage limitation, opt-in: suppress PII cells older than their
    // declared retention window BEFORE anonymization (an expired cell
    // must not even reach the masker), and record the audit counts
    val staged = retentionAsOf match {
      case Some(asOf) =>
        import graft.policy.ColumnRetention
        ColumnRetention
          .expiryReport(stagedAll, "stg_services_publics",
            PolicyCatalog.reference, "last_updated", to_date(lit(asOf)))
          .coalesce(1)
          .write.mode("overwrite").json(s"$outDir/retention_report")
        println(s"[pipeline] retention enforced as of $asOf " +
          s"(report at $outDir/retention_report)")
        val released = ColumnRetention.expire(stagedAll, "stg_services_publics",
          PolicyCatalog.reference, "last_updated", to_date(lit(asOf)))
        // plan-level tripwire (zero jobs): every value-bearing path from
        // a governed column must cross its declared window on THIS run's
        // actual plan — true by construction today, and the check is what
        // keeps a future pipeline edit from silently routing a raw staged
        // column around the guard
        val windows = PolicyCatalog.reference.models("stg_services_publics")
          .collect { case (c, p) if p.pii && p.retentionDays.isDefined =>
            c -> p.retentionDays.get }.toMap
        require(graft.plans.Lineage.retentionEnforced(released, windows),
          "retention enforcement did not reach every governed column's " +
            "path — the pipeline routes a raw staged column around the guard")
        released
      case None => stagedAll
    }
    val anon     = Pipeline.anonymize(staged, PolicyCatalog.reference, cfg)
    val enriched = Pipeline.enrich(anon, cfg.gpsPrecision)
    val mart     = Pipeline.mart(enriched, cfg)

    mart.write.mode("overwrite").parquet(s"$outDir/mart_services_open_data")
    val martBack = spark.read.parquet(s"$outDir/mart_services_open_data")

    println(s"[pipeline] staged=${staged.count()} mart=${martBack.count()}")
    martBack
      .select("service_id", "contact_email", "contact_phone", "latitude",
        "longitude", "geohash", "region", "data_quality_level")
      .show(10, truncate = false)

    // Compliance gate (validate_anonymization.py:253-364)
    val piiViolations  = Validate.assertNoPiiInMart(martBack).cache()
    val scanHits       = Validate.piiScan(martBack).cache()
    val quality        = Validate.qualityMetrics(enriched).head()
    val kViol          = Validate
      .kAnonymityViolations(enriched, "organization_category", cfg.kAnonymityMin)
      .cache()

    println(s"[validate] quality: $quality")
    val nPii  = piiViolations.count()
    val nScan = scanHits.count()
    val nK    = kViol.count()
    if (nPii > 0) { println(s"[validate] PII violations: $nPii"); piiViolations.show(5, false) }
    if (nScan > 0) { println(s"[validate] regex scan hits: $nScan"); scanHits.show(5, false) }
    if (nK > 0) { println(s"[validate] k-anonymity violations (k=${cfg.kAnonymityMin}): $nK"); kViol.show(5, false) }

    val report = Validate.piiReport(spark, PolicyCatalog.reference)
    report.coalesce(1).write.mode("overwrite").json(s"$outDir/pii_report")

    // k-anonymous geographic release (Pipeline.geoRelease): adaptive
    // Mondrian envelopes from the precise staged coordinates, same k
    // floor as the gate; n_rows >= k holds by construction (MondrianSpec
    // pins it), so the release needs no extra gate leg
    Pipeline.geoRelease(staged, cfg.kAnonymityMin) match {
      case Some(geo) =>
        geo.write.mode("overwrite").parquet(s"$outDir/geo_release")
        println(s"[pipeline] geo_release groups=" +
          spark.read.parquet(s"$outDir/geo_release").count())
      case None =>
        println(s"[pipeline] geo_release skipped: fewer than " +
          s"${cfg.kAnonymityMin} located services")
    }

    spark.stop()
    if (nPii + nScan > 0 || nK > 0) {
      println("[validate] FAILED — PII or k-anonymity violations detected")
      sys.exit(1)
    } else println("[validate] PASSED — mart is GDPR-compliant")
  }
}
