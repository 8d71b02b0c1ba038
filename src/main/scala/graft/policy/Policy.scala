package graft.policy

/** Control plane of the engine — the Spark-native replacement for the
  * reference's YAML metadata side-channel
  * (reference: dbt_project/models/staging/schema.yml:57-146) and project vars
  * (reference: dbt_project/dbt_project.yml:33-46).
  *
  * A `PolicyCatalog` is the single source of truth for which columns are PII
  * and how each must be masked; the masking compiler
  * ([[graft.masking.MaskModel]]) consumes it exactly like the reference's
  * `privacy__mask_model` macro consumes the dbt graph
  * (reference: dbt_project/macros/privacy/mask_model.sql:1-23).
  */

/** Anonymization method ADT — the dispatch keys of `privacy__mask_column`
  * (reference: dbt_project/macros/privacy/mask_columns.sql:7-29).
  *
  * `AggregateToCity` is declared in the reference metadata
  * (schema.yml:95-102) but the dispatcher has no branch for it, so it falls
  * into the fail-open passthrough; we model it as a distinct case that the
  * dispatcher deliberately routes to passthrough for bug-compatibility
  * (SURVEY.md §2.6).
  */
sealed trait MaskMethod { def name: String }
object MaskMethod {
  case object HashSha256      extends MaskMethod { val name = "hash_sha256" }
  case object MaskPartial     extends MaskMethod { val name = "mask_partial" }
  case object Round2Decimals  extends MaskMethod { val name = "round_2_decimals" }
  case object Suppress        extends MaskMethod { val name = "suppress" }
  case object AggregateToCity extends MaskMethod { val name = "aggregate_to_city" }
  /** Any unrecognized method string — fail-open passthrough, like the
    * reference's `{% else %}` branch (mask_columns.sql:23-29). */
  final case class Unknown(override val name: String) extends MaskMethod

  val known: Seq[MaskMethod] =
    Seq(HashSha256, MaskPartial, Round2Decimals, Suppress, AggregateToCity)

  def fromName(s: String): MaskMethod =
    known.find(_.name == s).getOrElse(Unknown(s))
}

/** PII classification (reference: schema.yml `pii_type` values). */
sealed trait PiiType { def name: String }
object PiiType {
  case object DirectIdentifier extends PiiType { val name = "direct_identifier" }
  case object QuasiIdentifier  extends PiiType { val name = "quasi_identifier" }
}

/** Per-column policy — mirror of one `meta:` block in the reference
  * (schema.yml:57-64 et al.). All fields beyond `pii`/`anonymizationMethod`
  * are governance metadata surfaced by the PII report
  * (reference: dbt_project/macros/privacy/generate_pii_report.sql:25-78).
  */
final case class ColumnPolicy(
    pii: Boolean,
    piiType: Option[PiiType] = None,
    anonymizationMethod: Option[MaskMethod] = None,
    legalBasis: Option[String] = None,
    retentionDays: Option[Int] = None,
    dataOwner: Option[String] = None,
    sensitivity: Option[String] = None,
    kAnonymityTarget: Option[Int] = None
)

/** Project-level configuration — the reference's dbt vars
  * (dbt_project.yml:33-46). Defaults are the reference's defaults.
  */
final case class EngineConfig(
    saltKey: String = "dev_salt_UNSAFE",
    kAnonymityMin: Int = 5,
    retentionDaysDefault: Int = 730,
    gpsPrecision: Int = 2,
    projectName: String = "GDPR Anonymizer",
    projectVersion: String = "1.0.0",
    dataOwner: String = "DPO",
    outputDomain: String = "anonymized.gouv.fr",
    /** Off by default: the reference declares `aggregate_to_city` but its
      * dispatcher has no branch for it, so parity behavior is fail-open
      * passthrough (SURVEY.md §2.6). Enabling implements the declared
      * intent: replace the column with the row's `city` value.
      */
    enableAggregateToCity: Boolean = false
)

/** One row of the PII inventory report (generate_pii_report.sql:61-78). */
final case class PiiInventoryRow(
    model_name: String,
    column_name: String,
    pii_type: String,
    anonymization_method: String,
    legal_basis: String,
    sensitivity: String
)

/** The catalog: model name -> (column name -> policy).
  *
  * Construction validates like the reference's compile-time guard
  * `validate_pii_metadata` (generate_pii_report.sql:147-176): any column
  * tagged `pii: true` without an `anonymization_method` aborts before any
  * job runs.
  */
final case class PolicyCatalog(models: Map[String, Map[String, ColumnPolicy]]) {
  {
    val unsecured = for {
      (model, cols)  <- models.toSeq
      (column, pol)  <- cols.toSeq
      if pol.pii && pol.anonymizationMethod.isEmpty
    } yield s"$model.$column"
    require(
      unsecured.isEmpty,
      s"Unsecured PII columns detected (pii: true without anonymization_method): ${unsecured.sorted.mkString(", ")}"
    )
  }

  def policiesFor(model: String): Map[String, ColumnPolicy] =
    models.getOrElse(model, Map.empty)

  /** All PII columns across the catalog — the "graph scan" of
    * generate_pii_report.sql:25-54, re-expressed as catalog iteration —
    * ordered by the UTF-8 bytes of (model, column), Spark's binary string
    * order.
    */
  def piiColumns: Seq[PiiInventoryRow] = {
    val utf8: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    (for {
      (model, cols) <- models.toSeq
      (column, pol) <- cols.toSeq
      if pol.pii
    } yield PiiInventoryRow(
      model_name = model,
      column_name = column,
      pii_type = pol.piiType.map(_.name).getOrElse("unspecified"),
      anonymization_method = pol.anonymizationMethod.map(_.name).getOrElse("none"),
      legal_basis = pol.legalBasis.getOrElse("not_documented"),
      sensitivity = pol.sensitivity.getOrElse("unspecified")
    )).sortBy(r => (bytes(r.model_name), bytes(r.column_name)))(Ordering.Tuple2(utf8, utf8))
  }

  /** Counts used by the reference's log-only summary
    * (generate_pii_report.sql:103-137). */
  def piiSummary: (Int, Int) = {
    val rows = piiColumns
    (rows.size, rows.map(_.model_name).distinct.size)
  }
}

object PolicyCatalog {

  /** Round-trip per-column policy through Spark's built-in per-column
    * metadata (`StructField.metadata`) — the native equivalent of carrying
    * the reference's `meta:` blocks on the schema itself, so a policy can
    * travel with a DataFrame through catalogs/parquet footers.
    */
  def toFieldMetadata(p: ColumnPolicy): org.apache.spark.sql.types.Metadata = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
    b.putBoolean("pii", p.pii)
    p.piiType.foreach(t => b.putString("pii_type", t.name))
    p.anonymizationMethod.foreach(m => b.putString("anonymization_method", m.name))
    p.legalBasis.foreach(b.putString("legal_basis", _))
    p.retentionDays.foreach(d => b.putLong("retention_days", d.toLong))
    p.dataOwner.foreach(b.putString("data_owner", _))
    p.sensitivity.foreach(b.putString("sensitivity", _))
    p.kAnonymityTarget.foreach(k => b.putLong("k_anonymity_target", k.toLong))
    b.build()
  }

  def fromFieldMetadata(m: org.apache.spark.sql.types.Metadata): ColumnPolicy =
    ColumnPolicy(
      pii = m.contains("pii") && m.getBoolean("pii"),
      piiType = if (m.contains("pii_type")) m.getString("pii_type") match {
        case "direct_identifier" => Some(PiiType.DirectIdentifier)
        case "quasi_identifier"  => Some(PiiType.QuasiIdentifier)
        case _                   => None
      } else None,
      anonymizationMethod =
        if (m.contains("anonymization_method"))
          Some(MaskMethod.fromName(m.getString("anonymization_method")))
        else None,
      legalBasis = if (m.contains("legal_basis")) Some(m.getString("legal_basis")) else None,
      retentionDays =
        if (m.contains("retention_days")) Some(m.getLong("retention_days").toInt) else None,
      dataOwner = if (m.contains("data_owner")) Some(m.getString("data_owner")) else None,
      sensitivity = if (m.contains("sensitivity")) Some(m.getString("sensitivity")) else None,
      kAnonymityTarget =
        if (m.contains("k_anonymity_target")) Some(m.getLong("k_anonymity_target").toInt)
        else None
    )

  /** Attach a model's policies onto a DataFrame's schema metadata. */
  def attach(df: org.apache.spark.sql.DataFrame, policies: Map[String, ColumnPolicy]): org.apache.spark.sql.DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      policies.get(f.name) match {
        case Some(p) =>
          org.apache.spark.sql.functions.col(f.name).as(f.name, toFieldMetadata(p))
        case None => org.apache.spark.sql.functions.col(f.name)
      }
    }: _*)

  /** Recover a policy map from a DataFrame's schema metadata. */
  def fromSchema(df: org.apache.spark.sql.DataFrame): Map[String, ColumnPolicy] =
    df.schema.fields.collect {
      case f if f.metadata.contains("pii") =>
        f.name -> fromFieldMetadata(f.metadata)
    }.toMap

  /** The reference project's policy, verbatim from
    * dbt_project/models/staging/schema.yml:57-146. */
  val reference: PolicyCatalog = PolicyCatalog(
    Map(
      "stg_services_publics" -> Map(
        "contact_email" -> ColumnPolicy(
          pii = true,
          piiType = Some(PiiType.DirectIdentifier),
          anonymizationMethod = Some(MaskMethod.HashSha256),
          legalBasis = Some("legitimate_interest"),
          retentionDays = Some(730),
          dataOwner = Some("DPO"),
          sensitivity = Some("high")
        ),
        "contact_phone" -> ColumnPolicy(
          pii = true,
          piiType = Some(PiiType.DirectIdentifier),
          anonymizationMethod = Some(MaskMethod.MaskPartial),
          legalBasis = Some("legitimate_interest"),
          retentionDays = Some(730),
          dataOwner = Some("DPO"),
          sensitivity = Some("high")
        ),
        "street_address" -> ColumnPolicy(
          pii = true,
          piiType = Some(PiiType.QuasiIdentifier),
          // Declared in metadata but unimplemented in the dispatcher —
          // falls through to passthrough (SURVEY.md §2.6).
          anonymizationMethod = Some(MaskMethod.AggregateToCity),
          legalBasis = Some("legitimate_interest"),
          retentionDays = Some(730),
          dataOwner = Some("DPO"),
          sensitivity = Some("medium")
        ),
        "latitude" -> ColumnPolicy(
          pii = true,
          piiType = Some(PiiType.QuasiIdentifier),
          anonymizationMethod = Some(MaskMethod.Round2Decimals),
          legalBasis = Some("legitimate_interest"),
          retentionDays = Some(730),
          dataOwner = Some("DPO"),
          sensitivity = Some("medium"),
          kAnonymityTarget = Some(5)
        ),
        "longitude" -> ColumnPolicy(
          pii = true,
          piiType = Some(PiiType.QuasiIdentifier),
          anonymizationMethod = Some(MaskMethod.Round2Decimals),
          legalBasis = Some("legitimate_interest"),
          retentionDays = Some(730),
          dataOwner = Some("DPO"),
          sensitivity = Some("medium"),
          kAnonymityTarget = Some(5)
        )
      )
    )
  )
}
