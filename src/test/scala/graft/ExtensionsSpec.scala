package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SimHash64}
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Specs for the training-data-pipeline extension operators: text analysis,
  * dedup (exact / MinHash+LSH / SimHash / Jaccard), similarity search, and
  * multimodal plumbing.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  // ---- text analysis -----------------------------------------------------

  test("tokenCount / bpeTokenCount handle empty and mixed text") {
    val df = Seq("the cat sat", "", "  ", "ab-cd 12x").toDF("t")
    val got = df
      .select(
        TextAnalysis.tokenCount($"t").as("n"),
        TextAnalysis.bpeTokenCount($"t").as("b")
      )
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)))
      .toSeq
    assert(got == Seq((3, 3), (0, 0), (0, 0), (2, 5)))
  }

  test("langId picks the language with most stopword hits; zh via CJK") {
    val df = Seq(
      "the cat of the house and a dog",
      "le chat de la maison et les chiens",
      "der hund ist von der frau und das kind",
      "el perro de los gatos y el raton en casa",
      "你好世界",
      "xyzzy plugh"
    ).toDF("t")
    val got = df.select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(got == Seq("en", "fr", "de", "es", "zh", "unknown"))
  }

  test("qualityScore is in [0,1] and prefers fluent prose") {
    val prose  = "the quick brown fox jumps over the lazy dog and runs to the house of a friend in the morning"
    val noise  = "@@@@ #### !!!! %%%% ^^^^ &&&&"
    val df     = Seq(prose, noise).toDF("t")
    val Seq(a, b) = df.select(TextAnalysis.qualityScore($"t")).as[Double].collect().toSeq
    assert(a > b && a <= 1.0 && b >= 0.0)
  }

  test("fingerprints: md5 normalizes whitespace; rolling hash is order-sensitive") {
    val df = Seq(
      ("a", "the  cat \t sat"),
      ("b", "the cat sat"),
      ("c", "sat cat the")
    ).toDF("id", "t")
    val got = df
      .select(
        $"id",
        TextAnalysis.fingerprintMd5($"t").as("fp"),
        TextAnalysis.rollingFingerprint($"t").as("rfp")
      )
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(got(0)._1 == got(1)._1) // whitespace-insensitive
    assert(got(1)._1 != got(2)._1) // different content
    assert(got(1)._2 != got(2)._2) // order-sensitive rolling hash
  }

  test("repetitionRatio: 0 for distinct shingles, high for boilerplate") {
    val df = Seq(
      "one two three four five six",
      "spam spam spam spam spam spam spam spam"
    ).toDF("t")
    val got = df.select(TextAnalysis.repetitionRatio($"t")).as[Double].collect()
    assert(got(0) == 0.0)
    assert(got(1) > 0.8)
  }

  test("redactPii replaces emails and FR phones with tags") {
    val df = Seq(
      "write to jean.dupont@mairie.fr or call +33 1 23 45 67 89 today",
      "mobile 06 12 34 56 78; no email here"
    ).toDF("t")
    val got = df.select(TextAnalysis.redactPii($"t")).as[String].collect()
    assert(got(0) == "write to [EMAIL] or call [PHONE] today")
    assert(got(1) == "mobile [PHONE]; no email here")
  }

  test("connectedComponents assigns min-id cluster labels across chains") {
    // edges: 1-2, 2-3 (one cluster), 5-6 (another)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(5L) == 5L && labels(6L) == 5L)
  }

  test("capBuckets bounds degenerate LSH buckets") {
    val exploded = (1L to 100L).map(i => (i, 0, "samehash")).toDF("doc_id", "band", "hash")
    val capped = Dedup.capBuckets(exploded, "doc_id", 10)
    assert(capped.count() == 10)
    // keeps the lowest ids deterministically
    assert(capped.agg(max($"doc_id")).head().getLong(0) == 10L)
  }

  // ---- dedup -------------------------------------------------------------

  test("exactDedup groups identical texts and keeps min id") {
    val df = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc")).toDF("doc_id", "text")
    val got = Dedup
      .exactDedup(df, "doc_id", "text")
      .orderBy("keep_id")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("wordShingles produces n-k+1 shingles, short docs one shingle") {
    val df = Seq("a b c d", "a").toDF("t")
    val got = df
      .select(Dedup.wordShingles($"t", 3))
      .as[Seq[String]]
      .collect()
      .toSeq
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a"))
  }

  test("minhash LSH finds near-identical docs, not unrelated ones") {
    val d1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d2 = "the quick brown fox jumps over the lazy dog near the river bank yesterday"
    val d3 = "completely different words about spark catalyst optimizer and parquet files"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashCandidatePairs(df, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    val verified = Dedup
      .jaccardFilterPairs(
        Dedup.minhashCandidatePairs(df, "doc_id", "text"),
        df, "doc_id", "text", threshold = 0.5)
      .collect()
    assert(verified.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("NFC normalization composes decomposed forms; clean canonicalizes for hashing") {
    import graft.text.TextNormalize
    val composed = "caf\u00e9"            // cafe with composed e-acute
    val decomposed = "cafe\u0301"         // e + combining acute
    val d = Seq(
      (1L, decomposed),
      (2L, composed),
      (3L, "  a\u200Bb   c  "),           // zero-width + ragged whitespace
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val out = d.select(col("id"),
        TextNormalize.nfc(col("t")).as("nfc"),
        TextNormalize.clean(col("t")).as("clean"),
        TextNormalize.clean(col("t"), lowercase = true).as("lower"))
      .orderBy("id").collect()
    // both spellings normalize to the SAME string -> same hash downstream
    assert(out(0).getString(1) == out(1).getString(1))
    assert(out(0).getString(1) == composed)
    // hash-stability: both spellings md5 identically AFTER normalization
    val hashes = d.filter(col("id").isin(1L, 2L))
      .select(md5(TextNormalize.nfc(col("t")))).as[String].collect()
    assert(hashes.distinct.length == 1)
    assert(out(2).getString(2) == "ab c")
    assert(out(1).getAs[String]("lower") == composed.toLowerCase)
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
    // and exact dedup now sees the two spellings as ONE document
    val deduped = graft.dedup.Dedup.exactDedup(
      d.filter(col("t").isNotNull).select(col("id"),
        TextNormalize.clean(col("t")).as("t")), "id", "t")
    assert(deduped.filter(col("n_copies") === 2).count() == 1)
  }

  test("dedupAgainstCorpus flags batch docs duplicating the corpus, one row each") {
    val d1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d1b = "the quick brown fox jumps over the lazy dog near the river bank yesterday"
    val d3 = "completely different words about spark catalyst optimizer and parquet files"
    val corpus = Seq((1L, d1), (3L, d3)).toDF("doc_id", "text")
    val batch = Seq((100L, d1b), (101L, "nothing shared with anything here at all today friend"))
      .toDF("doc_id", "text")
    val out = Dedup
      .dedupAgainstCorpus(corpus, batch, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[java.lang.Long]("dup_of")), r.getAs[Boolean]("is_dup"))))
      .toMap
    assert(out.keySet == Set(100L, 101L)) // one row per batch doc
    assert(out(100L)._1.contains(1L) && out(100L)._2, "near-dup of corpus doc 1")
    assert(out(101L)._1.isEmpty && !out(101L)._2, "no candidate -> not a dup")
    // an exact corpus copy in the batch scores jaccard 1.0 against it
    val exact = Dedup
      .dedupAgainstCorpus(corpus, Seq((200L, d1)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().head
    assert(exact.getAs[Long]("dup_of") == 1L)
    assert(exact.getAs[Double]("jaccard") == 1.0 && exact.getAs[Boolean]("is_dup"))
  }

  test("source overlap sampling: per-mille shingle sample tracks the exact jaccard") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("source"), col("text"))
    val exact = graft.operators.SourceOverlap
      .shingleOverlapMatrix(docs, "source", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_a") + r.getAs[Long]("n_b"), r.getAs[Double]("jaccard"))))
      .toMap
    val sampled = graft.operators.SourceOverlap
      .shingleOverlapMatrix(docs, "source", "text", samplePerMille = Some(500))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_a") + r.getAs[Long]("n_b"), r.getAs[Double]("jaccard"))))
      .toMap
    assert(sampled.nonEmpty && sampled.keySet.subsetOf(exact.keySet))
    sampled.foreach { case (pair, (nS, jS)) =>
      val (nE, jE) = exact(pair)
      // the 50% deterministic sample halves the universe...
      val ratio = nS.toDouble / nE
      assert(ratio > 0.35 && ratio < 0.65, s"$pair sampled $ratio of the universe")
      // ...and the Jaccard estimate stays close to the exact value
      assert(math.abs(jS - jE) < 0.1, s"$pair jaccard $jS vs exact $jE")
    }
    // determinism: the md5 sample draws the same universe every run
    val again = graft.operators.SourceOverlap
      .shingleOverlapMatrix(docs, "source", "text", samplePerMille = Some(500))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_a") + r.getAs[Long]("n_b"), r.getAs[Double]("jaccard"))))
      .toMap
    assert(again == sampled)
  }

  test("source overlap matrix: shared distinct shingles and set jaccard per pair") {
    // srcA and srcB share exactly the shingles of the common sentence;
    // srcC shares nothing with anyone
    val common = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      ("a", common), ("a", "unique alpha content for source a only here"),
      ("b", common), ("b", "other beta content for source b only there"),
      ("c", "totally disjoint vocabulary nothing matches ever anywhere")
    ).toDF("source", "text")
    val out = graft.operators.SourceOverlap
      .shingleOverlapMatrix(df, "source", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getAs[Double]("jaccard"))))
      .toMap
    // only observed pairs appear: c overlaps nobody
    assert(out.keySet == Set(("a", "b")))
    val (na, nb, shared, j) = out(("a", "b"))
    // common sentence: 6 tokens -> 4 3-shingles, all shared; plus the
    // filler docs both contain the shingle "content for source" -> 5
    assert(shared == 5L)
    assert(na == 4L + 6L && nb == 4L + 6L) // each side: common + its own 8-token doc
    assert(math.abs(j - 5.0 / (na + nb - 5)) < 1e-15)
  }

  test("simhash64: identical tokens -> same hash; near-dup -> small hamming") {
    val d1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d2 = "the quick brown fox jumps over the lazy dog near the river bank yesterday"
    val d3 = "completely different words about spark catalyst optimizer and parquet files"
    val df = Seq((1L, d1), (1L, d1), (2L, d2), (3L, d3)).toDF("id", "t")
    val sigs = df
      .select(Dedup.simhash(TextAnalysis.tokens($"t")))
      .as[Long]
      .collect()
    assert(sigs(0) == sigs(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(2)) < java.lang.Long.bitCount(sigs(0) ^ sigs(3)))
  }

  test("simhashNearDupPairs blocks+verifies") {
    val d1 = "the quick brown fox jumps over the lazy dog near the river bank today morning"
    val d2 = "the quick brown fox jumps over the lazy dog near the river bank today evening"
    val d3 = "completely different words about spark catalyst optimizer and parquet file formats"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val pairs = Dedup
      .simhashNearDupPairs(df, "doc_id", "text", maxHamming = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("jaccard set semantics match distinct-element definition") {
    val df = Seq((Seq("a", "b", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val got = df.select(Dedup.jaccard($"x", $"y")).as[Double].head()
    assert(math.abs(got - 0.5) < 1e-9) // {a,b,c} vs {b,c,d}: 2/4
  }

  // ---- similarity --------------------------------------------------------

  test("cosine: orthogonal 0, identical 1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f)),
      (Seq(1.0f, 2.0f), Seq(2.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0)) < 1e-9)
    assert(math.abs(got(1) - 1.0) < 1e-9)
    assert(math.abs(got(2) - 0.8) < 1e-9)
  }

  test("bruteForceTopK returns k most similar, self first") {
    val emb = Tables(spark).embeddings
    val query = emb.filter($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val top = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", query.map(_.toDouble), 5)
      .collect()
    assert(top.length == 5)
    assert(top.head.getLong(0) == 0L) // query vector itself
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("SRP ANN recall: top-1 neighbor from brute force appears in SRP candidates for most queries") {
    val emb = Tables(spark).embeddings.limit(100).cache()
    val pairs = Similarity
      .srpCandidatePairs(emb, "vec_id", "embedding", bits = 16, bands = 8)
      .filter($"cos_sim" > 0.5)
      .collect()
    // sanity: produces some candidates and no self/duplicate pairs
    val ps = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.forall { case (a, b) => a < b })
    assert(ps.distinct.length == ps.length)
  }

  private case class Tables(s: org.apache.spark.sql.SparkSession) {
    val embeddings = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }

  // ---- multimodal --------------------------------------------------------

  test("multimodal: synthesize -> repartition -> real decode keeps schema and determinism") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val media = Multimodal.synthesizeFromDocuments(docs)
    val sized = Multimodal.repartitionForMedia(media, totalBytes = 50L * 16, targetBytesPerPartition = 256)
    val feats = Multimodal.decodeFeatures(sized, dim = 8).cache()
    assert(feats.count() == 50)
    val f0 = feats.filter($"media_id" === 0).head()
    assert(f0.n_bytes == 59) // 4x4 PPM: 11-byte header + 48 raster bytes
    assert(f0.features.length == 8)
    // determinism: decoding twice yields identical features
    val again = Multimodal.decodeFeatures(sized, dim = 8)
      .filter($"media_id" === 0).head()
    assert(f0.features.toSeq == again.features.toSeq)
    // kinds are image/audio/video per id % 3
    val kinds = feats.select("kind").distinct().as[String].collect().toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("multimodal: frameOffsets only for video; resizeMeta preserves aspect") {
    val docs  = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(9)
    val media = Multimodal.synthesizeFromDocuments(docs).toDF()
    val fr = Multimodal.frameOffsets(media, everyMs = 60000)
    val badRow = fr.filter($"kind" =!= "video" && size($"frame_offsets_ms") > 0).count()
    val goodRow = fr.filter($"kind" === "video" && size($"frame_offsets_ms") === 0).count()
    assert(badRow == 0 && goodRow == 0)
    val rs = Multimodal.resizeMeta(media, maxSide = 100)
    assert(rs.filter($"resized_width" > 100 || $"resized_height" > 100).count() == 0)
  }

  test("TextStatsExpr's per-thread cache is keyed by value, not by the reused row buffer") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.text.TextStatsExpr
    // same byte length, different stats
    val (a, b) = ("the cat sat on the mat", "der Hund ist im Garten")
    assert(a.getBytes("UTF-8").length == b.getBytes("UTF-8").length)
    // stats computed on a thread of their own, whose cache is empty
    def uncached(t: String): Seq[Any] = {
      var out: Seq[Any] = null
      val th = new Thread(() =>
        out = TextStatsExpr.compute(UTF8String.fromString(t)).toSeq(TextStatsExpr.schema))
      th.start(); th.join()
      out
    }
    val (wantA, wantB) = (uncached(a), uncached(b))
    assert(wantA != wantB)
    // one UTF8String over one byte array, overwritten between calls: the
    // shape of a scan's reused row buffer
    val buf = a.getBytes("UTF-8")
    val text = UTF8String.fromBytes(buf)
    val expr = TextStatsExpr(BoundReference(0, StringType, nullable = true))
    def eval(v: UTF8String): Any = expr.eval(InternalRow(v)) match {
      case null => null
      case r: InternalRow => r.toSeq(TextStatsExpr.schema)
    }
    def put(t: String): Unit = System.arraycopy(t.getBytes("UTF-8"), 0, buf, 0, buf.length)
    assert(eval(text) == wantA)
    put(b)
    assert(eval(text) == wantB)
    put(a)
    assert(eval(text) == wantA)
    assert(eval(null) == null)
    assert(eval(text) == wantA)
  }

  test("TextStatsExpr matches the HOF formulation on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = TextAnalysis.tokens($"text")
    val st = TextAnalysis.textStats($"text")
    val edge = Seq("", "  ", "\tleading tab", "trailing\n", "a\t\tb", "word")
      .toDF("text")
    for (df <- Seq(docs.select($"text"), edge)) {
      val diff = df
        .select(
          TextAnalysis.tokenCountOf(toks).as("a1"),
          TextAnalysis.tokenCountOfStats(st).as("b1"),
          TextAnalysis.meanTokenLengthOf(toks).as("a2"),
          TextAnalysis.meanTokenLengthOfStats(st).as("b2"),
          TextAnalysis.punctRatio($"text").as("a3"),
          TextAnalysis.punctRatioOfStats(st).as("b3"),
          TextAnalysis.qualityScoreOf($"text", toks).as("a4"),
          TextAnalysis.qualityScoreOfStats(st).as("b4"),
          TextAnalysis.langIdOf($"text", toks).as("a5"),
          TextAnalysis.langIdOfStats(st).as("b5"),
          TextAnalysis.repetitionRatioOf(toks).as("a6"),
          TextAnalysis.repetitionRatioOfStats(st).as("b6"),
          TextAnalysis.bpeTokenCount($"text").as("a7"),
          TextAnalysis.bpeTokenCountOfStats(st).as("b7"),
          TextAnalysis.stopwordCount($"text", TextAnalysis.stopwordsEn).as("a8"),
          TextAnalysis.stopwordCountEnOfStats(st).as("b8")
        )
        .filter(
          $"a1" =!= $"b1" || $"a2" =!= $"b2" || $"a3" =!= $"b3" ||
            $"a4" =!= $"b4" || $"a5" =!= $"b5" || $"a6" =!= $"b6" ||
            $"a7" =!= $"b7" || $"a8" =!= $"b8"
        )
      assert(diff.count() == 0, diff.take(3).mkString("\n"))
    }
  }

  test("salted LSH self-join returns exactly the unsalted pair set") {
    val boiler = (0L until 60L).map(i => (i, "exact same boilerplate text repeated across many documents here"))
    val normal = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (101L, "the quick brown fox jumps over the lazy dog near the bank"),
      (102L, "completely unrelated content about catalyst and tungsten")
    )
    val df = (boiler ++ normal).toDF("doc_id", "text")
    def pairs(s: Int) = Dedup
      .minhashCandidatePairs(df, "doc_id", "text", salts = s)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val unsalted = pairs(1)
    assert(pairs(4) == unsalted)
    assert(unsalted.contains((100L, 101L)))
    assert(unsalted.exists { case (a, b) => a < 60 && b < 60 }) // boilerplate pairs survive
  }

  test("asOf join picks latest right row at-or-before, null when none") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, t(5), "a"), (1L, t(10), "b"), (2L, t(3), "c"))
      .toDF("k", "ts", "v")
    val right = Seq((1L, t(4), 4.0), (1L, t(9), 9.0), (1L, t(11), 11.0),
      (1L, t(5), 5.0), (2L, t(59), 99.0))
      .toDF("k", "rts", "p")
    val got = graft.operators.AsOfJoin
      .asOf(left, right, Seq("k"), "ts", "rts", Seq("p"))
      .orderBy("k", "ts")
      .select("k", "v", "p")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq
    // ties inclusive: left ts=5 matches right ts=5; k=2 has only future rows
    assert(got == Seq((1L, "a", Some(5.0)), (1L, "b", Some(9.0)), (2L, "c", None)))
  }

  test("asOf tolerates caller columns named like its internals; rejects asof_ts") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // left carries _ts/_src/_p/_pf — the old working names — which must NOT
    // be captured/overwritten by the join's internal bookkeeping
    val left = Seq((1L, t(10), "keepA", 7, "keepB", "keepC"))
      .toDF("k", "ts", "_ts", "_src", "_p", "_pf")
    val right = Seq((1L, t(9), 9.0)).toDF("k", "rts", "p")
    val row = graft.operators.AsOfJoin
      .asOf(left, right, Seq("k"), "ts", "rts", Seq("p"))
      .head()
    assert(row.getAs[String]("_ts") == "keepA")
    assert(row.getAs[Int]("_src") == 7)
    assert(row.getAs[String]("_p") == "keepB")
    assert(row.getAs[String]("_pf") == "keepC")
    assert(row.getAs[Double]("p") == 9.0)
    val badLeft = Seq((1L, t(10), t(1))).toDF("k", "ts", "asof_ts")
    intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.asOf(badLeft, right, Seq("k"), "ts", "rts", Seq("p"))
    }
  }

  test("property: asOf join equals the naive formulation on random data") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(23)
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val left = (1 to 300).map(i => (rnd.nextInt(8).toLong, t(rnd.nextInt(500)), i.toLong))
      .toDF("k", "ts", "lid")
    val right = (1 to 120).map(i => (rnd.nextInt(8).toLong, t(rnd.nextInt(500)), i.toDouble))
      .toDF("k", "rts", "p")
      // unique per (k, rts): contract of asOf
      .groupBy("k", "rts").agg(max("p").as("p"))
    val fast = graft.operators.AsOfJoin
      .asOf(left, right, Seq("k"), "ts", "rts", Seq("p"))
      .select("lid", "asof_ts", "p")
      .collect()
      .map(r => (r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    // naive: all earlier rows, keep the latest by rts
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lid").orderBy($"rts".desc)
    val naive = left
      .join(right, left("k") === right("k") && $"ts" >= $"rts", "left")
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .select($"lid", $"rts".as("asof_ts"), $"p")
      .collect()
      .map(r => (r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    assert(fast == naive)
  }

  test("TopKByScore ranks NaN first like ORDER BY DESC; asOf drops NULL right keys") {
    // NaN sorts greatest under Spark's DESC ordering — the heap must agree
    val df = Seq((1L, 10L, Double.NaN), (1L, 11L, 0.9), (1L, 12L, 0.8))
      .toDF("src", "dst", "score")
    val got = df.groupBy($"src")
      .agg(graft.similarity.TopKByScore.topK($"dst", $"score", 2).as("nbrs"))
      .select(inline($"nbrs")).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    assert(got.toSeq == Seq((10L, 1), (11L, 2)))
    // NULL keys/timestamps on the right must never match (SQL equi-join)
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val left = Seq((Some(1L), t(5), "a"), (None, t(5), "b")).toDF("k", "ts", "v")
    val right = Seq(
      (Option.empty[Long], t(1), 1.0), // null key -> never matches
      (Some(1L), null.asInstanceOf[Timestamp], 2.0), // null ts -> never matches
      (Some(1L), t(2), 3.0)
    ).toDF("k", "rts", "p")
    val out = graft.operators.AsOfJoin
      .asOf(left, right, Seq("k"), "ts", "rts", Seq("p"))
      .select("v", "p").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map("a" -> Some(3.0), "b" -> None))
  }

  test("range join equals the naive inequality join") {
    val rnd = new scala.util.Random(11)
    val points = (1 to 500).map(i => (i.toLong, rnd.nextDouble() * 1000 - 200)).toDF("pid", "x")
    val intervals = (1 to 40)
      .map { i => val s = rnd.nextDouble() * 900 - 200; (i.toLong, s, s + rnd.nextDouble() * 120) }
      .toDF("iid", "s", "e")
    val fast = graft.operators.RangeJoin
      .pointInInterval(points, intervals, "x", "s", "e", bucketWidth = 100.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals, $"x" >= $"s" && $"x" <= $"e")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive && naive.nonEmpty)
  }

  // ---- codegen + custom aggregate ----------------------------------------

  test("custom expressions really compile under CODEGEN_ONLY (no fallback)") {
    // A same-name member on the case class suppresses the companion's static
    // forwarder, which once broke the generated `Expr.compute(...)` call and
    // silently fell back to interpreted eval — force codegen so a
    // regression fails loudly instead of running 10x slower.
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val df = Seq("the quick brown fox jumps over the lazy dog").toDF("t")
      val row = df
        .select(
          Dedup.wordShingles($"t", 3).as("sh"),
          Dedup.simhash(TextAnalysis.tokens($"t")).as("sig"),
          TextAnalysis.textStats($"t").getField("n_tokens").as("nt"),
          graft.text.CharEntropyExpr.charEntropy($"t").as("h"),
          graft.text.Bpe.bpeTokens($"t").as("bpe")
        )
        .head()
      assert(row.getSeq[String](0).head == "the quick brown")
      assert(row.getLong(1) != 0L)
      assert(row.getInt(2) == 9)
      assert(row.getDouble(3) > 0.0)
      assert(row.getSeq[String](4).head == "the")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("DotProductExpr matches the HOF dot bit-for-bit; null semantics too") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 1).select($"embedding".as("qv"))
    val diff = emb
      .crossJoin(q)
      .select(
        Similarity.dot($"embedding", $"qv").as("native"),
        Similarity.dotHof($"embedding", $"qv").as("hof")
      )
      .filter($"native" =!= $"hof" || $"native".isNull =!= $"hof".isNull)
    assert(diff.count() == 0)
    // length mismatch and null element -> null, like zip_with padding
    val edge = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0, 4.0, 5.0)),
      (Seq(1.0f, 2.0f), Seq(3.0, 4.0))
    ).toDF("a", "b")
    val got = edge
      .select(Similarity.dot($"a", $"b").as("d"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(None, Some(11.0)))
  }

  test("TopKByScore equals the window-function top-k, map-side bounded") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      (i.toLong % 13, i.toLong, math.floor(rnd.nextDouble() * 100) / 100)
    }
    val df = rows.toDF("src", "dst", "score").repartition(8)
    val viaAgg = df
      .groupBy($"src")
      .agg(graft.similarity.TopKByScore.topK($"dst", $"score", 5).as("nbrs"))
      .select($"src", inline($"nbrs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val w = Window.partitionBy($"src").orderBy($"score".desc, $"dst")
    val viaWindow = df
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"src", $"dst", $"score", $"rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.size == 13 * 5)
  }
}
