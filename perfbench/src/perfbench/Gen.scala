package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** One synthetic document, in the column layout of the corpus inputs the
  * curation verbs read (`doc_id`, `text`, `lang`, `source`, `n_chars`).
  */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** What a generated batch was built to contain, by construction.
  * `copiesOfEarlier` counts the near and exact duplicates of a document of
  * an earlier batch; `distinctExactOfEarlier` counts the distinct earlier
  * documents the batch copies verbatim.
  */
final case class BatchMix(fresh: Int, nearDup: Int, exactDup: Int, offLanguage: Int,
    lowQuality: Int, copiesOfEarlier: Int = 0, distinctExactOfEarlier: Int = 0) {
  def total: Int = fresh + nearDup + exactDup + offLanguage + lowQuality
}

/** Seeded input generators. The same seed always yields the same inputs;
  * every generator returns a SHA-256 content hash the run prints, so two
  * runs can be shown to have measured the same data.
  */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 0x632BE59BD9B4E019L))

  def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Hash of a generated directory: its data files' bytes, in name order.
    * Spark names part files by partition index first, so the order is
    * stable across writes.
    */
  def hashDir(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    sha256(files.iterator.map(f => java.nio.file.Files.readAllBytes(f.toPath)))
  }

  // ---- services rows (anonymize_batch) ----

  /** The seeded key range the services rows are synthesized from. */
  def serviceKeys(seed: Long, n: Long): (Long, Long) = {
    val lo = 1L + rng(seed, 1).nextLong(1000000L) * 1000L
    (lo, lo + n)
  }

  /** Writes `n` services rows as header CSV under `dir`, synthesized by the
    * library's own `ServicesSynth.sql` over a `customer` relation whose keys
    * are the seeded range. Returns the content hash.
    */
  def services(spark: SparkSession, seed: Long, n: Long, dir: String): String = {
    val (lo, hi) = serviceKeys(seed, n)
    spark.range(lo, hi, 1, 4)
      .selectExpr("id as c_custkey",
        "concat('Customer#', lpad(cast(id as string), 9, '0')) as c_name")
      .createOrReplaceTempView("customer")
    spark.sql(graft.queries.ServicesSynth.sql)
      .write.mode("overwrite").option("header", "true").csv(dir)
    hashDir(dir)
  }

  /** Mart rows the flow must publish for the key range, derived from the
    * synthesis rules directly: staging drops a null `service_name`
    * (key % 41 == 0), the mart drops a null `organization_type`
    * (key % 18 == 17) and rows with none of email, phone, address and
    * both coordinates. The CSV reader turns the empty emails (key % 13 == 1)
    * and phones (key % 17 == 1) into nulls.
    */
  def expectedMartRows(seed: Long, n: Long): Long = {
    val (lo, hi) = serviceKeys(seed, n)
    var k = lo
    var rows = 0L
    while (k < hi) {
      val complete = (if (k % 13 > 1) 1 else 0) + (if (k % 17 > 1) 1 else 0) +
        (if (k % 7 != 0) 1 else 0) + (if (k % 31 != 0 && k % 37 != 0) 1 else 0)
      if (k % 41 != 0 && k % 18 != 17 && complete >= 1) rows += 1
      k += 1
    }
    rows
  }

  // ---- documents (curate_rights) ----

  private val stopEn = graft.text.TextAnalysis.stopwordsEn
  private val stopFr = graft.text.TextAnalysis.stopwordsFr

  /** A fixed 600-word content vocabulary of pronounceable pseudo-words. */
  private val vocab: Array[String] = {
    val r = new SplittableRandom(42L)
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    Array.fill(600) {
      (0 until 2 + r.nextInt(3)).map { _ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}"
      }.mkString
    }
  }

  /** Zipf-like word pick: low indices are common. */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  /** English prose that passes the quality, repetition and language gates;
    * `pii` embeds an email and a phone number for redaction to find.
    */
  def prose(r: SplittableRandom, pii: Boolean): String = {
    val n = 40 + r.nextInt(80)
    val toks = Array.fill(n)(if (r.nextInt(4) == 0) stopEn(r.nextInt(stopEn.size)) else word(r))
    if (pii) {
      toks(r.nextInt(n)) = s"${word(r)}.${r.nextInt(1000)}@example.org"
      toks(r.nextInt(n)) = f"+33 6 ${r.nextInt(100)}%02d ${r.nextInt(100)}%02d ${r.nextInt(100)}%02d ${r.nextInt(100)}%02d"
    }
    toks.mkString(" ")
  }

  private def french(r: SplittableRandom): String =
    Array.fill(40 + r.nextInt(40))(
      if (r.nextInt(3) == 0) stopFr(r.nextInt(stopFr.size)) else word(r)).mkString(" ")

  /** Too short and without function words: fails the quality gate. */
  private def lowQuality(r: SplittableRandom): String =
    Array.fill(6 + r.nextInt(10))(word(r)).mkString(" ")

  /** One token swapped: 3-shingle Jaccard stays far above the 0.7 dedup
    * threshold for the 40+ token prose above.
    */
  private def nearDup(r: SplittableRandom, text: String): String = {
    val toks = text.split(' ')
    toks(r.nextInt(toks.length)) = word(r)
    toks.mkString(" ")
  }

  final case class Shares(nearDup: Double, exactDup: Double, offLanguage: Double, lowQuality: Double)
  val DailyShares = Shares(nearDup = 0.10, exactDup = 0.05, offLanguage = 0.08, lowQuality = 0.05)

  /** `nBatches` daily batches of `perBatch` documents with ids from
    * `firstId` upward. Each batch holds the shares' exact counts in a
    * seeded order, so every seed gives batches of the same make-up. Near
    * and exact duplicates copy earlier fresh documents of any earlier
    * batch or of their own batch (fresh prose when there is none yet).
    */
  def documents(seed: Long, nBatches: Int, perBatch: Int, firstId: Long,
      shares: Shares = DailyShares): Seq[(Seq[Doc], BatchMix)] = {
    val r = rng(seed, 2)
    val pool = scala.collection.mutable.ArrayBuffer.empty[String]
    var id = firstId
    def count(share: Double) = math.round(share * perBatch).toInt
    val kinds0 = Array.fill(count(shares.nearDup))(1) ++ Array.fill(count(shares.exactDup))(2) ++
      Array.fill(count(shares.offLanguage))(3) ++ Array.fill(count(shares.lowQuality))(4)
    (0 until nBatches).map { _ =>
      val kinds = kinds0 ++ Array.fill(perBatch - kinds0.length)(0)
      for (i <- kinds.indices.reverse) {
        val j = r.nextInt(i + 1)
        val k = kinds(i); kinds(i) = kinds(j); kinds(j) = k
      }
      var mix = BatchMix(0, 0, 0, 0, 0)
      val earlier = pool.size
      val copiedVerbatim = scala.collection.mutable.Set.empty[Int]
      def copied(i: Int): Int = {
        if (i < earlier) mix = mix.copy(copiesOfEarlier = mix.copiesOfEarlier + 1)
        i
      }
      val docs = kinds.toSeq.map { kind =>
        val (text, lang) = kind match {
          case 1 if pool.nonEmpty =>
            mix = mix.copy(nearDup = mix.nearDup + 1)
            (nearDup(r, pool(copied(r.nextInt(pool.size)))), "en")
          case 2 if pool.nonEmpty =>
            mix = mix.copy(exactDup = mix.exactDup + 1)
            val i = copied(r.nextInt(pool.size))
            if (i < earlier) copiedVerbatim += i
            (pool(i), "en")
          case 3 =>
            mix = mix.copy(offLanguage = mix.offLanguage + 1)
            (french(r), "fr")
          case 4 =>
            mix = mix.copy(lowQuality = mix.lowQuality + 1)
            (lowQuality(r), "en")
          case _ =>
            mix = mix.copy(fresh = mix.fresh + 1)
            val t = prose(r, pii = r.nextInt(4) == 0)
            pool += t
            (t, "en")
        }
        id += 1
        Doc(id, text, lang, s"src${r.nextInt(5)}", text.length.toLong)
      }
      (docs, mix.copy(distinctExactOfEarlier = copiedVerbatim.size))
    }
  }

  def hashDocs(docs: Seq[Doc]): String =
    sha256(docs.iterator.map(d =>
      s"${d.doc_id}\t${d.text}\t${d.lang}\t${d.source}\n".getBytes(UTF_8)))

  def writeDocs(spark: SparkSession, docs: Seq[Doc], dir: String): Unit =
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(dir)
}
