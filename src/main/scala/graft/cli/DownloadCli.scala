package graft.cli

import java.nio.file.Paths

import graft.ingest.{HttpLoader, Ingest}

/** Dataset download CLI — the engine twin of the reference's `make download`
  * (reference: src/dbt_gdpr_anonymizer/scripts/download_data.py:151-199):
  * fetch the JSONL feed over HTTP (30 s timeout, 3 retries, `DATAGOUV_*`
  * env overrides), parse it with the distributed PERMISSIVE reader, print
  * the summary aggregates, and write the all-varchar seed CSV.
  *
  * Usage: DownloadCli <dataUrl|-> <outDir> [sampleN]
  *   dataUrl  explicit JSONL URL, or "-" to resolve the first resource of
  *            the configured dataset via the metadata API
  *   sampleN  optional deterministic sample size (random_state analogue)
  */
object DownloadCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DownloadCli <dataUrl|-> <outDir> [sampleN]")
    val outDir = args(1)
    val cfg = HttpLoader.configFromEnv()

    val url =
      if (args(0) == "-")
        HttpLoader
          .firstResourceUrl(HttpLoader.fetchDatasetInfo(cfg))
          .getOrElse(sys.error(s"dataset ${cfg.datasetId} has no resources"))
      else args(0)

    val staged = HttpLoader.downloadTo(url, Paths.get(outDir, "raw", "services.jsonl"), cfg)

    val spark = graft.Session("graft-download")

    val (good, corrupt) = Ingest.readJsonl(spark, staged.toString)
    val sampled = args.lift(2).map(_.toInt) match {
      case Some(n) => Ingest.deterministicSample(good, n)
      case None    => good
    }
    Ingest.writeCsv(sampled, s"$outDir/seed_csv")
    println(s"[download] corrupt_records=$corrupt")
    Ingest.summarize(sampled).show(truncate = false)
    spark.stop()
  }
}
