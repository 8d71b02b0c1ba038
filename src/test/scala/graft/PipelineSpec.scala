package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Pipeline
import graft.policy.{ColumnPolicy, EngineConfig, MaskMethod, PolicyCatalog}
import graft.validate.Validate

/** End-to-end pipeline tests on the reference CI fixture
  * (reference: .github/workflows/ci.yml:61-64; FIXTURES.md §1) plus edge rows
  * exercising every dispatcher branch (NULLs, empty strings, unknown org
  * types, >2-decimal coordinates).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq(
    "service_id", "service_name", "parent_organization", "organization_type",
    "contact_email", "contact_phone", "website", "street_address",
    "postal_code", "city", "commune", "latitude", "longitude", "insee_code",
    "last_updated"
  )

  /** Golden 2-row CI fixture + edge rows. latitude/longitude arrive as
    * strings (seed semantics: everything varchar until staging casts).
    */
  private def fixture: DataFrame =
    Seq(
      ("TEST001", "Service Test 1", "Ministère A", "ministere",
        "test1@example.fr", "+33 1 23 45 67 89", "https://example.fr",
        "10 rue de Paris", "75001", "Paris", "Paris", "48.8566", "2.3522",
        "75056", "2025-01-01"),
      ("TEST002", "Service Test 2", "Agence B", "etablissement-public",
        "test2@example.fr", "+33 2 98 76 54 32", "https://example2.fr",
        "20 rue de Marseille", "13001", "Marseille", "Marseille", "43.2965",
        "5.3698", "13055", "2025-01-02"),
      // NULL service_id -> dropped by staging filter
      (null, "Dropped", null, "ministere", null, null, null, null, null,
        null, null, null, null, null, "2025-01-03"),
      // empty-string email/phone -> NULL after masking; unknown org type
      ("TEST003", "Service Test 3", null, "unknown-slug", "", "",
        null, null, "59000", "Lille", null, "50.62925", "3.057256", "59350",
        "2025-01-04"),
      // no contacts at all -> completeness 0 -> filtered from mart
      ("TEST004", "Service Test 4", null, "institution", null, null, null,
        null, null, null, null, null, null, null, "2025-01-05")
    ).toDF(cols: _*)

  private val cfg     = EngineConfig()
  private def staged  = Pipeline.staging(fixture)
  private def anon    = Pipeline.anonymize(staged, PolicyCatalog.reference, cfg)
  private def enr     = Pipeline.enrich(anon)
  private def martDf  = Pipeline.mart(enr, cfg)

  test("staging filters NULL keys, casts, adds surrogate key + flags") {
    val s = staged.orderBy("service_id").collect()
    assert(s.length == 4) // NULL service_id row dropped
    val r = staged.filter($"service_id" === "TEST001").head()
    assert(r.getAs[String]("service_key").length == 32)
    assert(r.getAs[Double]("latitude") == 48.8566)
    assert(r.getAs[java.sql.Date]("last_updated").toString == "2025-01-01")
    assert(r.getAs[Int]("has_email") == 1 && r.getAs[Int]("has_coordinates") == 1)
    // empty string is NOT null -> has_email = 1 for TEST003 (reference CASE
    // checks IS NOT NULL only, stg_services_publics.sql:86-89)
    val t3 = staged.filter($"service_id" === "TEST003").head()
    assert(t3.getAs[Int]("has_email") == 1)
  }

  test("anonymize: every column renamed _anon; policy-driven masking applied") {
    val a = anon
    assert(a.columns.count(_.endsWith("_anon")) == staged.columns.length)
    val r = a.filter($"service_id_anon" === "TEST001").head()
    assert(r.getAs[String]("contact_email_anon").startsWith("user_"))
    assert(r.getAs[String]("contact_email_anon").endsWith("@anonymized.gouv.fr"))
    assert(r.getAs[String]("contact_phone_anon") == "+33 1  XX XX XX XX")
    assert(r.getAs[java.math.BigDecimal]("latitude_anon").toString == "48.86")
    // fail-open passthrough: street_address (aggregate_to_city has no
    // dispatcher branch) leaks verbatim, renamed (SURVEY.md §2.6)
    assert(r.getAs[String]("street_address_anon") == "10 rue de Paris")
    // empty-string guard: TEST003's empty email/phone -> NULL
    val t3 = a.filter($"service_id_anon" === "TEST003").head()
    assert(t3.isNullAt(t3.fieldIndex("contact_email_anon")))
    assert(t3.isNullAt(t3.fieldIndex("contact_phone_anon")))
  }

  test("enrich: category buckets, department, geohash, quality flags") {
    val r = enr.filter($"service_id_anon" === "TEST002").head()
    assert(r.getAs[String]("organization_category") == "operateurs")
    assert(r.getAs[String]("department_code_anon") == "13")
    assert(r.getAs[String]("geohash_anon") == "geo_43.30_5.37")
    assert(r.getAs[Int]("is_email_properly_anonymized") == 1)
    assert(r.getAs[Int]("is_phone_properly_anonymized") == 1)
    val t3 = enr.filter($"service_id_anon" === "TEST003").head()
    assert(t3.getAs[String]("organization_category") == "autres")
    assert(t3.getAs[Int]("is_email_properly_anonymized") == 0) // NULL email
  }

  test("mart: renames, labels, region, completeness, publication filter") {
    val m = martDf
    assert(m.count() == 3) // TEST004 has completeness 0 -> filtered
    val r = m.filter($"service_id" === "TEST001").head()
    assert(r.getAs[String]("organization_type_label") == "Ministère")
    assert(r.getAs[String]("region") == "Île-de-France")
    assert(r.getAs[Int]("data_completeness_score") == 4)
    assert(r.getAs[String]("data_quality_level") == "Complet")
    assert(r.getAs[String]("processing_pipeline") == "GDPR Anonymizer v1.0.0")
    val t3 = m.filter($"service_id" === "TEST003").head()
    // TEST003: empty email/phone masked to NULL but has_* flags were 1
    // (reference CASE checks IS NOT NULL only) -> email+phone+coords = 3
    assert(t3.getAs[String]("region") == "Hauts-de-France")
    assert(t3.getAs[Int]("data_completeness_score") == 3)
    assert(t3.getAs[String]("data_quality_level") == "Complet")
  }

  test("golden invariant: assert_no_pii_in_marts returns 0 rows") {
    assert(Validate.assertNoPiiInMart(martDf).count() == 0)
  }

  test("quality metrics count properly-anonymized contacts") {
    val q = Validate.qualityMetrics(enr).head()
    assert(q.getAs[Long]("total_emails") == 2)
    assert(q.getAs[Long]("emails_properly_anonymized") == 2)
    assert(q.getAs[Long]("phones_properly_masked") == 2)
    assert(q.getAs[Long]("coords_properly_rounded") == q.getAs[Long]("total_coords"))
  }

  test("pii scan flags raw fixture but not the mart") {
    val rawHits = Validate.piiScan(
      fixture.select($"contact_email", $"contact_phone", $"street_address")
    )
    assert(rawHits.count() > 0)
    val martHits = Validate.piiScan(
      martDf.select($"contact_email", $"contact_phone")
    )
    assert(martHits.count() == 0)
  }

  test("pii scan: at most sampleSize distinct values per column is an exhaustive scan") {
    // three string columns of <= 60 distinct values each, repeated over
    // 3,000 rows with nulls: the one-pass sample must keep every value,
    // so the hits equal the three regexes run over all distinct values
    // (first matching pattern wins, as in the scan)
    val rnd = new scala.util.Random(5)
    def pick(i: Int): String = i % 6 match {
      case 0 => s"agent$i@mairie-$i.fr"
      case 1 => s"+33 ${1 + i % 9} 23 45 67 ${10 + i % 90}"
      case 2 => s"${i + 1} rue des Lilas $i"
      case 3 => s"user_$i@anonymized.gouv.fr"
      case 4 => s"+33 ${1 + i % 9} XX XX XX XX"
      case _ => s"plain value $i"
    }
    val rows = (0 until 3000).map { _ =>
      def v(n: Int) = if (rnd.nextInt(10) == 0) null else pick(rnd.nextInt(n))
      (v(60), v(40), v(25), rnd.nextInt(100))
    }
    val df = rows.toDF("a", "b", "c", "n")
    val patterns = Seq("email" -> Validate.EmailPattern,
      "phone" -> Validate.PhonePattern, "address" -> Validate.AddressPattern)
      .map { case (name, p) => name -> java.util.regex.Pattern.compile(p) }
    val expected = Seq("a" -> rows.map(_._1), "b" -> rows.map(_._2), "c" -> rows.map(_._3))
      .flatMap { case (c, vs) =>
        vs.filter(_ != null).distinct.flatMap { v =>
          patterns.collectFirst { case (name, p) if p.matcher(v).find() => (c, v, name) }
        }
      }.toSet
    val got = Validate.piiScan(df).as[(String, String, String)].collect().toSet
    assert(expected.map(_._3) == Set("email", "phone", "address"))
    assert(got == expected)
    // a smaller sample is deterministic and bounded per column
    val small = Validate.piiScan(df, sampleSize = 7).as[(String, String, String)].collect()
    assert(small.toSet == Validate.piiScan(df, sampleSize = 7)
      .as[(String, String, String)].collect().toSet)
    assert(small.groupBy(_._1).values.forall(_.length <= 7))
    assert(small.toSet.subsetOf(expected))
  }

  test("pii scan reads collated string columns") {
    // a UTF8_LCASE column is a StringType but not `== StringType`
    val df = Seq(("raw@real-domain.fr", "x"), ("user_1@anonymized.gouv.fr", "y"))
      .toDF("contact_email", "note")
      .select(collate(col("contact_email"), "UTF8_LCASE").as("contact_email"), col("note"))
    assert(df.schema("contact_email").dataType != org.apache.spark.sql.types.StringType)
    val hits = Validate.piiScan(df).as[(String, String, String)].collect().toSeq
    assert(hits == Seq(("contact_email", "raw@real-domain.fr", "email")))
  }

  /** The scan before the bottom-k aggregate, kept as its reference: stack
    * every string cell, `distinct`, then rank each column's values by
    * `(xxhash64(value), value)` and keep the first `k`.
    */
  private def windowScan(df: DataFrame, k: Int): DataFrame = {
    val stringCols = df.schema.fields.collect { case StructField(n, _: StringType, _, _) => n }.toSeq
    val hits = Seq("email" -> Validate.EmailPattern, "phone" -> Validate.PhonePattern,
      "address" -> Validate.AddressPattern).map { case (name, p) => when(col("value").rlike(p), name) }
    df.select(explode(array(stringCols.map { c =>
        struct(lit(c).as("column_name"), col(c).cast("string").as("value"))
      }: _*)).as("_kv"))
      .select(col("_kv.column_name"), col("_kv.value"))
      .filter(col("value").isNotNull)
      .distinct()
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("column_name")).orderBy(xxhash64(col("value")), col("value"))))
      .filter(col("_r") <= k)
      .withColumn("pattern", coalesce(hits: _*))
      .filter(col("pattern").isNotNull)
      .select(col("column_name"), col("value"), col("pattern"))
  }

  /** 4,000 seeded rows over 12 partitions: per column more distinct values
    * than the largest k, a third of them PII, nulls, empty strings,
    * non-ASCII text (including a code point whose UTF-8 and UTF-16 orders
    * disagree) and a UTF8_LCASE column with case variants of one value.
    */
  private def scanFrame: DataFrame = {
    val rnd = new scala.util.Random(11)
    def pick(i: Int): String = i % 9 match {
      case 0 => s"agent$i@mairie-$i.fr"
      case 1 => s"+33 ${1 + i % 9} 23 45 67 ${10 + i % 90}"
      case 2 => s"${i + 1} rue de l'Église $i"
      case 3 => s"user_$i@anonymized.gouv.fr"
      case 4 => ""
      case 5 => s"café ☕ $i"
      case 6 => s"Ａ $i"
      case 7 => s"😀 $i"
      case _ => s"Agent${i - 8}@Mairie-${i - 8}.FR" // case 0's value, upper-cased
    }
    val rows = (0 until 4000).map { _ =>
      def v(n: Int) = if (rnd.nextInt(8) == 0) null else pick(rnd.nextInt(n))
      (v(900), v(300), v(450), rnd.nextInt(100))
    }
    rows.toDF("a", "b", "c", "n")
      .select(col("a"), col("b"), collate(col("c"), "UTF8_LCASE").as("c"), col("n"))
      .repartition(12)
  }

  test("pii scan: the bottom-k aggregate equals the distinct + row_number sample") {
    val df = scanFrame.cache()
    try {
      assert(df.rdd.getNumPartitions >= 8)
      for (k <- Seq(1, 7, 100)) {
        val got = Validate.piiScan(df, k).as[(String, String, String)].collect()
        val want = windowScan(df, k).as[(String, String, String)].collect()
        assert(got.length == got.toSet.size, s"k=$k: duplicate hits")
        assert(got.toSet == want.toSet, s"k=$k")
        if (k == 100) assert(want.map(_._3).toSet == Set("email", "phone", "address"))
        // the sample itself, before the regexes, in its order
        val sample = df.agg(
          graft.sketch.BottomK.values(xxhash64(col("a")), col("a"), k).as("s"))
          .head().getSeq[String](0)
        val ranked = df.select(col("a").as("value")).filter(col("value").isNotNull).distinct()
          .withColumn("_r", row_number().over(Window.orderBy(xxhash64(col("value")), col("value"))))
          .filter(col("_r") <= k).orderBy("_r").as[(String, Int)].collect().map(_._1).toSeq
        assert(sample == ranked, s"k=$k")
      }
    } finally df.unpersist()
  }

  test("bottom-k aggregate: with a constant hash it keeps the k binary-smallest values") {
    val df = scanFrame
    val utf8 = Ordering.fromLessThan[String] { (x, y) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)) < 0
    }
    val all = df.select(col("a")).as[String].collect().filter(_ != null).distinct.sorted(utf8)
    // the UTF-16 order differs from the binary one on this data
    assert(all.toSeq != all.sorted.toSeq)
    for (k <- Seq(1, 7, 100)) {
      val got = df.agg(graft.sketch.BottomK.values(lit(0L), col("a"), k)).head().getSeq[String](0)
      assert(got == all.take(k).toSeq, s"k=$k")
    }
  }

  test("pii scan: unchanged when the object hash aggregate falls back to sort") {
    val conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val df = scanFrame.cache()
    // grouped by column, the fallback serializes partial buffers and merges
    // them again in the same task; the global scan is checked under it too.
    // Returns the per-column samples and the tasks that fell back.
    def grouped(k: Int): (Map[String, Seq[String]], Long) = {
      val q = df
        .select(explode(array(Seq("a", "b", "c").map { c =>
          struct(lit(c).as("column_name"), col(c).cast("string").as("value"))
        }: _*)).as("_kv"))
        .groupBy(col("_kv.column_name").as("column_name"))
        .agg(graft.sketch.BottomK.values(xxhash64(col("_kv.value")), col("_kv.value"), k).as("s"))
      val out = q.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val aggs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(q.queryExecution.executedPlan) {
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        }
      assert(aggs.nonEmpty, q.queryExecution.executedPlan.toString)
      (out, aggs.map(_.metrics("numTasksFallBacked").value).sum)
    }
    def run() = Seq(1, 7, 100).map { k =>
      val (samples, fellBack) = grouped(k)
      (Validate.piiScan(df, k).as[(String, String, String)].collect().toSet, samples, fellBack)
    }
    try {
      val before = run()
      val prev = spark.conf.getOption(conf)
      spark.conf.set(conf, "1")
      val after =
        try run()
        finally prev match {
          case Some(v) => spark.conf.set(conf, v)
          case None => spark.conf.unset(conf)
        }
      assert(after.map(r => (r._1, r._2)) == before.map(r => (r._1, r._2)))
      assert(before.forall(_._2.size == 3))
      assert(before.forall(_._3 == 0L), before.map(_._3))
      assert(after.forall(_._3 > 0L), after.map(_._3))
    } finally df.unpersist()
  }

  test("policy catalog rejects unsecured PII columns (validate_pii_metadata)") {
    val ex = intercept[IllegalArgumentException] {
      PolicyCatalog(Map("m" -> Map("c" -> ColumnPolicy(pii = true))))
    }
    assert(ex.getMessage.contains("Unsecured PII columns"))
  }

  test("pii report lists the 5 reference PII columns ordered") {
    val rpt = Validate.piiReport(spark, PolicyCatalog.reference).collect()
    assert(rpt.length == 5)
    assert(rpt.map(_.getAs[String]("column_name")).toSeq ==
      Seq("contact_email", "contact_phone", "latitude", "longitude", "street_address"))
  }

  test("pii report rows come in Spark's binary order without a sort") {
    // U+FF21 sorts before U+1F600 in UTF-8 bytes and after it in UTF-16
    val pii = ColumnPolicy(pii = true, anonymizationMethod = Some(MaskMethod.Suppress))
    val cat = PolicyCatalog(Map(
      "m" -> Map("Ａ" -> pii, "😀" -> pii, "é" -> pii, "a" -> pii),
      "M" -> Map("x" -> pii)))
    val rpt = Validate.piiReport(spark, cat)
    def keys(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val got = keys(rpt)
    assert(got == keys(rpt.orderBy("model_name", "column_name")))
    assert(got != got.sorted)
    assert(!rpt.queryExecution.optimizedPlan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort]))
  }

  test("suppress method nulls the column; unknown method passes through") {
    val cat = PolicyCatalog(Map("stg_services_publics" -> Map(
      "contact_email" -> ColumnPolicy(pii = true,
        anonymizationMethod = Some(MaskMethod.Suppress)),
      "city" -> ColumnPolicy(pii = false,
        anonymizationMethod = Some(MaskMethod.Unknown("rot13")))
    )))
    val a = Pipeline.anonymize(staged, cat, cfg)
    val r = a.filter($"service_id_anon" === "TEST001").head()
    assert(r.isNullAt(r.fieldIndex("contact_email_anon")))
    assert(r.getAs[String]("city_anon") == "Paris")
  }

  test("retention-enforced pipeline: expired PII never reaches the masker") {
    import graft.policy.ColumnRetention
    // as of 2027-06-30, rows last_updated before 2025-06-30 are past the
    // 730-day windows: TEST001/TEST002 expire, TEST003 was updated
    // 2025-01-04 — also expired; use an asOf keeping only nothing?
    // Pick asOf 2026-12-31: cutoff 2025-01-01 — TEST001 (2025-01-01) is
    // exactly 729 days -> retained; all other dated rows retained too.
    // Then asOf 2027-06-30 expires every 2025 row before 2025-07-01.
    val expired = ColumnRetention.expire(staged, "stg_services_publics",
      PolicyCatalog.reference, "last_updated", to_date(lit("2027-06-30")))
    val anonExpired = Pipeline.anonymize(expired, PolicyCatalog.reference, cfg)
    val r1 = anonExpired.filter($"service_id_anon" === "TEST001").head()
    // the masker sees NULL, so the published _anon cell is NULL — the
    // expired email neither leaks nor survives as a pseudonym
    assert(r1.getAs[String]("contact_email_anon") == null)
    assert(r1.getAs[String]("contact_phone_anon") == null)
    assert(r1.isNullAt(r1.fieldIndex("latitude_anon")))
    // non-governed columns survive expiry into the anonymize step
    assert(r1.getAs[String]("service_name_anon") == "Service Test 1")
    // a fresh-enough asOf keeps everything: identical to the plain path
    // (modulo the current_timestamp audit columns every oracle drops)
    val kept = Pipeline.anonymize(
      ColumnRetention.expire(staged, "stg_services_publics",
        PolicyCatalog.reference, "last_updated", to_date(lit("2025-12-31"))),
      PolicyCatalog.reference, cfg)
      .drop("loaded_at_anon", "anonymized_at")
    assert(kept.collect().map(_.toString).sorted.toSeq ==
      anon.drop("loaded_at_anon", "anonymized_at")
        .collect().map(_.toString).sorted.toSeq)
  }

  test("geoRelease: adaptive k-anonymous envelopes from staged coordinates; under-k skips") {
    // the CI fixture has only 3 located services: below k=5 there is
    // nothing publishable and the release must decline, not emit a
    // root group violating the floor
    assert(Pipeline.geoRelease(staged, k = 5).isEmpty)
    // at k=2 the 3 located rows publish as one root group (3 < 2k keeps
    // it whole) with the true coordinate envelope
    val rel = Pipeline.geoRelease(staged, k = 2).get.collect()
    assert(rel.length == 1)
    val r = rel.head
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Double]("lat_lo") == 43.2965 && r.getAs[Double]("lat_hi") == 50.62925)
    assert(r.getAs[Double]("lon_lo") == 2.3522 && r.getAs[Double]("lon_hi") == 5.3698)
    assert(r.getAs[String]("group_id") == "TEST001")
  }

  test("store_failures persists violating rows to a queryable test_results table") {
    val dupes = Seq(("A", 1), ("A", 2), ("B", 3)).toDF("service_id", "x")
    val viol = Validate.uniquenessViolations(dupes, "service_id")
    val persisted = Validate.storeFailures(viol, "unique_service_id")
    assert(persisted.count() == 1)
    // the audit-trail contract: the table survives as a named catalog object
    val back = spark.table("test_results.unique_service_id").collect()
    assert(back.length == 1)
    assert(back.head.getAs[String]("service_id") == "A")
    assert(back.head.getAs[Long]("n") == 2L)
    // overwrite on re-run, not append
    assert(Validate.storeFailures(viol, "unique_service_id").count() == 1)
  }
}
