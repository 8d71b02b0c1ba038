package graft.masking

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Lower

/** The masking / privacy expression library — pure `Column` expressions,
  * one function per operator of the reference's macro library
  * (reference: the macros under dbt_project/macros/privacy/; SURVEY.md §2.1 #1-#12).
  *
  * Every function is NULL-safe and empty-string-safe exactly as the cited
  * macro, and is built only from `org.apache.spark.sql.functions` so the
  * whole library stays inside Catalyst constant-folding + whole-stage
  * codegen (no UDF serialization wall; scale note SURVEY.md §7.10).
  *
  * DuckDB-parity notes (SURVEY.md §7, empirically verified against DuckDB
  * 1.0.0):
  *   - DuckDB `sha256()` returns the lowercase-hex digest as VARCHAR and the
  *     reference wraps it in `to_hex` (mask_email.sql:37), hex-encoding the
  *     hex string *again*. Spark equivalent: `lower(hex(sha2(x, 256)))` —
  *     the kept 16 chars are then hex codes of ASCII `[0-9a-f]`, i.e. all
  *     digits.
  *   - DuckDB `cast(x as numeric)` is DECIMAL(18,3), so the reference's
  *     `round(cast(x as numeric), 2)` (mask_coordinates.sql:36) is a
  *     two-step decimal conversion; we reproduce it literally.
  *   - DuckDB `concat` skips NULL arguments (Spark's propagates), so the
  *     geohash uses `concat_ws` for bug-compatible `geo__` output on NULL
  *     coordinates.
  */
object Masking {

  /** DuckDB `numeric` = DECIMAL(18,3) (mask_coordinates.sql:36 parity). */
  private val DuckDbNumeric = DecimalType(18, 3)

  private def presentAndNonEmpty(c: Column): Column = c.isNotNull && c =!= ""

  /** #1 `privacy__mask_email` (mask_email.sql:30-54):
    * `'user_' || substr(to_hex(sha256(lower(trim(email)) || salt)), 1, 16)
    *  || '@domain'`, NULL on NULL/empty input.
    */
  def maskEmail(
      c: Column,
      salt: String,
      outputDomain: String = "anonymized.gouv.fr"
  ): Column =
    when(
      presentAndNonEmpty(c),
      concat(
        lit("user_"),
        substring(Lower.lower(hex(sha2(concat(Lower.lower(trim(c)), lit(salt)), 256))), 1, 16),
        lit("@" + outputDomain)
      )
    ).otherwise(lit(null).cast(StringType))

  /** #2 `is_valid_email` (mask_email.sql:71-77). */
  def isValidEmail(c: Column): Column =
    c.like("%@%.%") && !c.like("%@%.@%") && (length(c) >= 5)

  /** #3 `extract_email_domain` (mask_email.sql:94-108): lowercased substring
    * after the first `@`, NULL unless `is_valid_email`.
    */
  def extractEmailDomain(c: Column): Column =
    when(isValidEmail(c), Lower.lower(c.substr(instr(c, "@") + 1, length(c))))
      .otherwise(lit(null).cast(StringType))

  /** #4 `privacy__mask_phone` (mask_phone.sql:29-43): first `keepChars` chars
    * of the trimmed value + literal `' XX XX XX XX'`, NULL on NULL/empty.
    */
  def maskPhone(c: Column, keepChars: Int = 6): Column =
    when(
      presentAndNonEmpty(c),
      concat(substring(trim(c), 1, keepChars), lit(" XX XX XX XX"))
    ).otherwise(lit(null).cast(StringType))

  /** #5 `extract_country_code` (mask_phone.sql:66-80): for `+`-prefixed
    * numbers, the substring up to and including the first space (empty string
    * when there is no space — `position` returns 0, `substr(x,1,0)` = '').
    */
  def extractCountryCode(c: Column): Column =
    when(c.like("+%"), c.substr(lit(1), instr(c, " ")))
      .otherwise(lit(null).cast(StringType))

  /** #6 `normalize_phone` (mask_phone.sql:98-111): trim then strip
    * `' '`, `'-'`, `'.'`, `'('` — `translate` with empty replacement deletes,
    * exactly equivalent to the reference's 4 nested `replace`s.
    */
  def normalizePhone(c: Column): Column =
    translate(trim(c), " -.(", "")

  /** #7 `is_valid_phone` (mask_phone.sql:128-139). */
  def isValidPhone(c: Column): Column =
    (c.like("+%") || c.like("0%")) && (length(normalizePhone(c)) >= 10)

  /** #8 `privacy__mask_coordinates` (mask_coordinates.sql:34-38):
    * `round(cast(x as numeric), precision)`. Bug-compatible two-step decimal
    * conversion: double -> DECIMAL(18,3) -> round(p) -> DECIMAL(18,p).
    */
  def maskCoordinates(c: Column, precision: Int = 2): Column =
    round(c.cast(DuckDbNumeric), precision).cast(DecimalType(18, precision))

  /** #9 `are_valid_coordinates` (mask_coordinates.sql:58-65). */
  def areValidCoordinates(lat: Column, lon: Column): Column =
    lat.isNotNull && lon.isNotNull &&
      lat.between(-90, 90) && lon.between(-180, 180)

  /** #10 `haversine_distance` (mask_coordinates.sql:89-99): great-circle
    * distance in km.
    */
  def haversineDistance(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    lit(6371) * lit(2) * asin(
      sqrt(
        pow(sin(radians(lat2 - lat1) / 2), 2) +
          cos(radians(lat1)) * cos(radians(lat2)) *
          pow(sin(radians(lon2 - lon1) / 2), 2)
      )
    )

  /** #11 `create_geohash` (mask_coordinates.sql:124-133): NOT a real geohash —
    * `'geo_' || round(lat,p) || '_' || round(lon,p)` as a string. `concat_ws`
    * (which skips NULLs) reproduces DuckDB `concat`'s NULL-skipping, so NULL
    * coordinates yield `geo__` exactly like the reference on DuckDB.
    */
  def createGeohash(lat: Column, lon: Column, precision: Int = 2): Column =
    concat_ws(
      "",
      lit("geo_"),
      maskCoordinates(lat, precision).cast(StringType),
      lit("_"),
      maskCoordinates(lon, precision).cast(StringType)
    )

  /** #12 `privacy__mask_full_coordinates` (mask_coordinates.sql:152-157):
    * full suppression — NULLs aliased `<col>_masked`.
    */
  def maskFullCoordinates(
      latName: String,
      lonName: String,
      latType: DataType = DoubleType,
      lonType: DataType = DoubleType
  ): Seq[Column] = Seq(
    lit(null).cast(latType).as(latName + "_masked"),
    lit(null).cast(lonType).as(lonName + "_masked")
  )

  /** dbt_utils.generate_surrogate_key(['k']) (stg_services_publics.sql:81):
    * md5 of the string-cast key with dbt-utils' null sentinel.
    */
  def surrogateKey(cols: Seq[Column]): Column =
    md5(concat_ws("-", cols.map(c => coalesce(c.cast(StringType), lit("_dbt_utils_surrogate_key_null_"))): _*))
}
