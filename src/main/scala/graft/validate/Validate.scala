package graft.validate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.policy.PolicyCatalog
import graft.sketch.BottomK

/** The compliance / audit query suite — Spark re-expression of the
  * reference's Python validator, singular dbt test, and PII report
  * (reference: src/dbt_gdpr_anonymizer/scripts/validate_anonymization.py,
  * dbt_project/tests/assert_no_pii_in_marts.sql,
  * dbt_project/macros/privacy/generate_pii_report.sql).
  */
object Validate {

  /** The three PII detection regexes (validate_anonymization.py:23-35).
    * Java regex supports the negative lookaheads directly (SURVEY.md §2.4).
    */
  val EmailPattern =
    "\\b[A-Za-z0-9._%+-]+@(?!anonymized\\.gouv\\.fr)[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b"
  val PhonePattern =
    "\\+33\\s*[1-9]\\s*\\d{2}\\s*\\d{2}\\s*\\d{2}\\s*\\d{2}(?!\\s*XX)"
  val AddressPattern =
    "(?i)\\d+\\s+(?:rue|avenue|boulevard|place|impasse)\\s+[\\w\\s]+"

  /** PII scan over one table (validate_anonymization.py:60-139): for each
    * string column, sample distinct non-null values and regex-test them.
    * Returns rows (column_name, value, pattern) for each hit.
    *
    * One global aggregation over the table, whatever its width: each
    * string column — cast to the default `StringType`, so collated columns
    * scan too — feeds one [[graft.sketch.BottomKValues]] aggregate that
    * keeps the at most `sampleSize` distinct non-null values with the
    * smallest `(xxhash64(value), value)` (a deterministic sample, ties
    * broken by the value's UTF-8 bytes). Each task forwards one buffer row
    * of at most `sampleSize` values per column; no `distinct` and no
    * window runs over the table. The one result row is exploded to
    * `(column_name, value)` and the three regexes run over it (first
    * match wins), so the regex work stays bounded regardless of table
    * size. A column with at most `sampleSize` distinct values is scanned
    * exhaustively.
    */
  def piiScan(df: DataFrame, sampleSize: Int = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // `case _: StringType`, not `== StringType`: a collated string type
    // (e.g. UTF8_LCASE) is a StringType but not equal to the default one
    val stringCols = df.schema.fields.collect { case StructField(n, _: StringType, _, _) => n }.toSeq
    if (stringCols.isEmpty)
      return Seq.empty[(String, String, String)].toDF("column_name", "value", "pattern")
    val patterns = Seq(
      "email"   -> EmailPattern,
      "phone"   -> PhonePattern,
      "address" -> AddressPattern
    )
    val samples = stringCols.zipWithIndex.map { case (c, i) =>
      val v = col(c).cast(StringType)
      BottomK.values(xxhash64(v), v, sampleSize).as(s"_s$i")
    }
    val hits = patterns.map { case (name, p) => when(col("value").rlike(p), name) }
    df.agg(samples.head, samples.tail: _*)
      .select(explode(array(stringCols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column_name"), col(s"_s$i").as("values"))
      }: _*)).as("_kv"))
      .select(col("_kv.column_name"), explode(col("_kv.values")).as("value"))
      .withColumn("pattern", coalesce(hits: _*))
      .filter(col("pattern").isNotNull)
      .select(col("column_name"), col("value"), col("pattern"))
  }

  /** Catalog-wide PII scan — the Spark analogue of the reference's
    * information_schema walk (validate_anonymization.py:43-92): list tables
    * matching `tablePattern` in the current catalog, scan every string
    * column of each. Returns (table_name, column_name, value, pattern) hits.
    */
  def piiScanCatalog(
      spark: SparkSession,
      tablePattern: String = "*",
      sampleSize: Int = 100
  ): DataFrame = {
    import spark.implicits._
    val tables = spark.catalog.listTables()
      .collect()
      .map(_.name)
      .filter(n => tablePattern == "*" || n.matches(tablePattern.replace("*", ".*")))
      .toSeq
    val perTable = tables.map { t =>
      piiScan(spark.table(t), sampleSize)
        .select(lit(t).as("table_name"), col("column_name"), col("value"), col("pattern"))
    }
    perTable.reduceOption(_.unionAll(_)).getOrElse {
      Seq.empty[(String, String, String, String)]
        .toDF("table_name", "column_name", "value", "pattern")
    }
  }

  /** Anonymization-quality conditional aggregates over the enriched layer
    * (validate_anonymization.py:152-211): one row with the email / phone /
    * coordinate counters. Single map-side-combinable aggregation — one
    * shuffle of one row per partition at any scale.
    */
  def qualityMetrics(enriched: DataFrame): DataFrame = {
    val email = col("contact_email_anon")
    val phone = col("contact_phone_anon")
    val lat   = col("latitude_anon")
    val lon   = col("longitude_anon")
    val emailOk = email.like("%@anonymized.gouv.fr")
    val phoneOk = phone.like("%XX XX XX XX")
    val coordOk =
      (lat * 100 === floor(lat * 100)) && (lon * 100 === floor(lon * 100))
    enriched.agg(
      count(when(email.isNotNull, 1)).as("total_emails"),
      sum(when(email.isNotNull && emailOk, 1).otherwise(0)).as("emails_properly_anonymized"),
      sum(when(email.isNotNull && !emailOk, 1).otherwise(0)).as("emails_improperly_anonymized"),
      count(when(phone.isNotNull, 1)).as("total_phones"),
      sum(when(phone.isNotNull && phoneOk, 1).otherwise(0)).as("phones_properly_masked"),
      sum(when(phone.isNotNull && !phoneOk, 1).otherwise(0)).as("phones_improperly_masked"),
      count(when(lat.isNotNull && lon.isNotNull, 1)).as("total_coords"),
      sum(when(lat.isNotNull && lon.isNotNull && coordOk, 1).otherwise(0)).as("coords_properly_rounded")
    )
  }

  /** k-anonymity check (validate_anonymization.py:216-243): quasi-identifier
    * groups smaller than k. Partial aggregation + single shuffle on the
    * grouping key; output is tiny (one row per violating group).
    */
  def kAnonymityViolations(
      df: DataFrame,
      quasiIdentifier: String,
      k: Int = 5
  ): DataFrame =
    df.groupBy(col(quasiIdentifier))
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
      .orderBy(col("group_size").asc)

  /** The singular end-to-end PII test
    * (tests/assert_no_pii_in_marts.sql:18-70): three violation scans over the
    * mart, UNION ALL'd; the mart is compliant iff the result is empty.
    */
  def assertNoPiiInMart(mart: DataFrame): DataFrame = {
    // Single pass: a UNION ALL of three filters would re-execute the whole
    // (narrow, regex-heavy) upstream pipeline once per violation class;
    // instead each row emits an array of at-most-3 violation structs that
    // is filtered and exploded — one scan regardless of how many checks.
    def violation(cond: Column, columnName: String, value: Column, issue: String) =
      when(cond, struct(
        lit("mart_services_open_data").as("table_name"),
        lit(columnName).as("column_name"),
        value.as("value"),
        lit(issue).as("issue_type")
      ))
    val checks = array(
      violation(
        col("contact_email").isNotNull &&
          !col("contact_email").like("%@anonymized.gouv.fr"),
        "contact_email", col("contact_email"), "Non-anonymized email detected"),
      violation(
        col("contact_phone").isNotNull && !col("contact_phone").like("%XX%"),
        "contact_phone", col("contact_phone"), "Non-masked phone number detected"),
      violation(
        col("latitude").isNotNull && col("longitude").isNotNull &&
          ((length(split_part(col("latitude").cast(StringType), lit("."), lit(2))) > 2) ||
            (length(split_part(col("longitude").cast(StringType), lit("."), lit(2))) > 2)),
        "latitude/longitude",
        concat(
          col("latitude").cast(StringType),
          lit(", "),
          col("longitude").cast(StringType)
        ),
        "GPS coordinates too precise")
    )
    mart
      .select(explode(filter(checks, v => v.isNotNull)).as("v"))
      .select(col("v.*"))
  }

  /** The PII inventory report (generate_pii_report.sql:20-93): one row per
    * PII-tagged column in the catalog, ordered by (model, column); the
    * reference's graph scan becomes catalog iteration — purely driver-side
    * metadata, materialized as a tiny DataFrame. The catalog returns the
    * rows in Spark's binary string order, so the frame is a local relation
    * and no sort job runs.
    */
  def piiReport(spark: SparkSession, catalog: PolicyCatalog): DataFrame = {
    import spark.implicits._
    val rows = catalog.piiColumns
    if (rows.nonEmpty)
      rows.toDF()
    else
      // Empty-catalog fallback row (generate_pii_report.sql:83-91).
      Seq(
        ("no_models_found", "n/a", "n/a", "n/a", "n/a", "n/a")
      ).toDF(
        "model_name",
        "column_name",
        "pii_type",
        "anonymization_method",
        "legal_basis",
        "sensitivity"
      )
  }

  // ---- Declarative (dbt-style schema) tests: each returns the violating
  // ---- rows; pass iff empty (SURVEY.md §2.3).

  /** dbt `unique` test (schema.yml:34-44). */
  def uniquenessViolations(df: DataFrame, key: String): DataFrame =
    df.filter(col(key).isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** dbt `not_null` test with optional `where` config (schema.yml:66-68). */
  def notNullViolations(
      df: DataFrame,
      column: String,
      where: Option[Column] = None
  ): DataFrame =
    where.fold(df)(df.filter).filter(col(column).isNull)

  /** dbt `accepted_values` test (schema.yml:173-195). */
  def acceptedValuesViolations(
      df: DataFrame,
      column: String,
      values: Seq[Any]
  ): DataFrame =
    df.filter(col(column).isNotNull && !col(column).isin(values: _*))

  /** dbt_utils `accepted_range` test (schema.yml:125-128,151-154). */
  def acceptedRangeViolations(
      df: DataFrame,
      column: String,
      min: Double,
      max: Double
  ): DataFrame =
    df.filter(col(column) < min || col(column) > max)

  /** dbt `store_failures` twin (dbt_project.yml:144-154): persist a test's
    * violating rows as a queryable table in the `test_results` schema, one
    * table per test, overwritten on each run — exactly the audit-trail
    * contract dbt provides. Returns the re-read persisted frame.
    */
  def storeFailures(violations: DataFrame, testName: String): DataFrame = {
    val spark = violations.sparkSession
    // quoted consistently below; backticks themselves can't be escaped
    // portably, and a dot would silently target another database
    require(
      !testName.contains("`") && !testName.contains("."),
      s"storeFailures: test name must not contain backticks or dots: $testName")
    spark.sql("CREATE DATABASE IF NOT EXISTS test_results")
    spark.sql(s"DROP TABLE IF EXISTS test_results.`$testName`")
    // with the default in-memory catalog a warehouse directory can outlive
    // the catalog entry (session restart); an orphaned location blocks CTAS,
    // so clear it — this is the "drop + recreate" the dbt config performs
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(testName, Some("test_results"))))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    graft.pipeline.Materialize.saveAsTable(violations, s"test_results.`$testName`")
  }

  // ---- PII discovery ------------------------------------------------------

  /** Lookahead-free address regex for [[piiDiscovery]] — unlike
    * [[AddressPattern]]'s siblings this must run on BOTH Java regex and
    * RE2-class engines (the discovery counts are oracle-compared), so no
    * negative lookaheads.
    */
  val DiscoveryAddressPattern =
    "(?i)\\d+\\s+(?:rue|avenue|boulevard|place|impasse)\\s+[\\w\\s]+"

  /** Generic PII discovery — the data-discovery flavor of the audit: for
    * each candidate column, EXACT counts of values that look like emails,
    * FR phone numbers, or street addresses (the redaction patterns, which
    * are lookahead-free and engine-portable, unlike [[piiScan]]'s
    * validation patterns).
    *
    * Where [[piiScan]] samples distinct values to flag columns cheaply,
    * this is the full-scan census you run before writing a masking policy.
    * One aggregation pass computes all columns' counts (map-side combined,
    * single-row result exploded to one row per column).
    */
  def piiDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "piiDiscovery needs at least one column")
    import graft.text.TextAnalysis
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"_n_$c"),
        count(when(col(c).rlike(TextAnalysis.RedactEmailPattern), 1)).as(s"_e_$c"),
        count(when(col(c).rlike(TextAnalysis.RedactPhonePattern), 1)).as(s"_p_$c"),
        count(when(col(c).rlike(DiscoveryAddressPattern), 1)).as(s"_a_$c")
      )
    }
    val rows = cols.map(c =>
      struct(
        lit(c).as("col_name"),
        col(s"_n_$c").as("n_nonnull"),
        col(s"_e_$c").as("n_email"),
        col(s"_p_$c").as("n_phone"),
        col(s"_a_$c").as("n_address")
      ))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(
        col("r.col_name"),
        col("r.n_nonnull"),
        col("r.n_email"),
        col("r.n_phone"),
        col("r.n_address")
      )
  }
}
