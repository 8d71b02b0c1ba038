package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Lower

/** Blocked record linkage: probabilistic-style entity resolution over
  * structured records (Fellegi & Sunter, JASA 1969 — here with fixed field
  * weights rather than EM-learned ones, so both engines replay the score
  * deterministically).
  *
  * Shape at scale:
  *   - candidate pairs come from an equi-join on cheap BLOCKING keys, so
  *     the quadratic term is bounded per block, never corpus-wide (a
  *     skewed block is a salting candidate like any other hot join key);
  *   - per-pair scoring is pure codegen'd string/numeric arithmetic
  *     (levenshtein + ratios) — no UDFs, no driver round-trips;
  *   - output is a bounded top-k by (score, ids) — deterministic, and
  *     Spark plans it as TakeOrdered, never a full sort-materialize.
  *
  * The reference anonymizes customer-like records but offers no way to
  * find the SAME entity spelled twice (the thing that silently breaks
  * k-anonymity accounting: two spellings of one person look like two
  * people). This operator is that missing audit.
  */
object RecordLinkage {

  /** Lowercase + strip everything but `[a-z0-9 ]` — the canonical form
    * both the blocking keys and the edit-distance fields compare in.
    * (DuckDB twin: `regexp_replace(lower(x), '[^a-z0-9 ]', '', 'g')` —
    * the 'g' flag matters, DuckDB defaults to first-match-only while
    * Spark replaces all.)
    */
  def normalize(c: Column): Column =
    regexp_replace(Lower.lower(c), "[^a-z0-9 ]", "")

  /** Normalized-edit-distance similarity in [0,1]: `1 - lev/maxlen`,
    * 1.0 for two empty strings.
    */
  def editSim(a: Column, b: Column): Column = {
    val maxLen = greatest(length(a), length(b))
    when(maxLen === 0, lit(1.0))
      .otherwise(lit(1.0) - levenshtein(a, b).cast("double") / maxLen.cast("double"))
  }

  /** Candidate pairs + weighted field scores over one table.
    *
    * @param df        records
    * @param idCol     unique id (pairs are emitted with id_a < id_b)
    * @param blockCols blocking keys (candidate pairs must agree on ALL)
    * @param nameCol   primary string field (weight 0.5)
    * @param addrCol   secondary string field (weight 0.3)
    * @param balCol    numeric field; within `balTol` scores 1 (weight 0.2)
    */
  def link(
      df: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      nameCol: String,
      addrCol: String,
      balCol: String,
      balTol: Double
  ): DataFrame = {
    require(blockCols.nonEmpty, "record linkage requires at least one blocking key")
    val prepared = df.select(
      col(idCol).as("id"),
      struct(blockCols.map(col): _*).as("blk"),
      normalize(col(nameCol)).as("nm"),
      normalize(col(addrCol)).as("ad"),
      col(balCol).cast("double").as("bal")
    )
    val a = prepared.as("a")
    val b = prepared.as("b")
    val nameSim = editSim(col("a.nm"), col("b.nm"))
    val addrSim = editSim(col("a.ad"), col("b.ad"))
    val balSim =
      when(abs(col("a.bal") - col("b.bal")) <= balTol, lit(1.0)).otherwise(lit(0.0))
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        nameSim.as("name_sim"),
        addrSim.as("addr_sim"),
        balSim.as("bal_sim"),
        (nameSim * 0.5 + addrSim * 0.3 + balSim * 0.2).as("score")
      )
  }
}
