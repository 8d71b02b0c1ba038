package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.similarity.Quantize
import graft.text.{SequencePacker, TextAnalysis, TfIdf}

/** Curation-operator specs: sequence packing, deterministic stratified
  * sampling, int8 embedding quantization, tf-idf keyword extraction.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("sequence packing cuts packs at the token budget, single stream") {
    // buckets=1 -> one ordered stream; budget 10
    val d = Seq(
      (1L, 4), (2L, 4), (3L, 4), // cum 4, 8, 12 -> packs 0, 0, 0 (starts at 8)
      (4L, 25),                  // starts at 12 -> pack 1 (overflows; own span)
      (5L, 2)                    // starts at 37 -> pack 3
    ).toDF("doc_id", "n")
    val packed = SequencePacker
      .pack(d, "doc_id", col("n"), budget = 10, buckets = 1)
      .orderBy("doc_id")
      .select("doc_id", "bucket", "n_tokens", "cum_tokens", "pack_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    assert(packed.map(_._2).toSet == Set(0))
    assert(packed.map(_._4).toSeq == Seq(4L, 8L, 12L, 37L, 39L))
    assert(packed.map(_._5).toSeq == Seq(0, 0, 0, 1, 3))
  }

  test("sequence packing is deterministic and bucket-bounded") {
    val d = (1L to 200L).map(i => (i, (i % 7 + 1).toInt)).toDF("doc_id", "n")
    val a = SequencePacker.pack(d, "doc_id", col("n"), 16, 8).collect().toSet
    val b = SequencePacker.pack(d, "doc_id", col("n"), 16, 8).collect().toSet
    assert(a == b)
    val buckets = a.map(_.getAs[Int]("bucket"))
    assert(buckets.subsetOf((0 until 8).toSet))
    assert(buckets.size > 1) // md5 actually spreads
  }

  test("stratified sampling: deterministic, per-stratum rate, join-stable") {
    val d = (1L to 2000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
    val out = Sampling
      .stratifiedSample(d, "id", col("s"), Map("a" -> 0.2), defaultRate = 0.9)
      .collect()
    val byStratum = out.groupBy(_.getAs[String]("stratum")).view.mapValues(_.length).toMap
    // 1000 rows per stratum; md5 buckets are uniform so expect ~200 / ~900
    assert(byStratum("a") > 140 && byStratum("a") < 260, s"a=${byStratum("a")}")
    assert(byStratum("b") > 840 && byStratum("b") < 960, s"b=${byStratum("b")}")
    out.foreach { r =>
      val limit = if (r.getAs[String]("stratum") == "a") 200 else 900
      assert(r.getAs[Int]("mille") < limit)
    }
    // join-stability: the same id sampled from a differently-ordered frame
    val out2 = Sampling
      .stratifiedSample(d.orderBy(desc("id")), "id", col("s"), Map("a" -> 0.2), 0.9)
      .collect()
    assert(out.map(_.getAs[Long]("id")).toSet == out2.map(_.getAs[Long]("id")).toSet)
  }

  test("int8 quantization: known lanes, clamp, zero-vector guard") {
    val d = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val out = d
      .withColumn("scale", Quantize.scaleOf(col("v")))
      .withColumn("q", Quantize.quantize(col("v"), col("scale")))
      .withColumn("q_norm2", Quantize.qNorm2(col("q")))
      .withColumn("err", Quantize.reconstructionError(col("v"), col("q"), col("scale")))
      .orderBy("id")
      .collect()
    val r1 = out(0)
    assert(math.abs(r1.getAs[Double]("scale") - 1.0 / 127) < 1e-12)
    // v/scale = [127, -63.5, 31.75, 0] -> round-half-up = [127, -63, 32, 0]
    assert(r1.getSeq[Long](r1.fieldIndex("q")).toSeq == Seq(127L, -63L, 32L, 0L))
    assert(r1.getAs[Long]("q_norm2") == 127L * 127 + 63L * 63 + 32L * 32)
    assert(r1.getAs[Double]("err") < 0.01) // quantization noise is small
    val r2 = out(1)
    assert(r2.getAs[Double]("scale") == 0.0)
    assert(r2.getSeq[Long](r2.fieldIndex("q")).toSeq == Seq(0L, 0L, 0L, 0L))
    assert(r2.getAs[Double]("err") == 0.0)
  }

  test("weighted sampling: weight-proportional inclusion, cap, exclusions, determinism") {
    import graft.operators.Sampling
    // 2000 ids in one group, two weight classes 10x apart: the heavy
    // class must win far more of the 200 slots than its count share
    val df = spark.range(2000)
      .select(col("id"), lit("g").as("grp"),
        when(col("id") % 10 === 0, 10.0).otherwise(1.0).as("w"))
    val picked = Sampling.weightedPerGroup(df, "id", "grp", col("w"), n = 200)
    assert(picked.count() == 200)
    val heavy = picked.filter(col("w") === 10.0).count()
    // heavy ids are 10% of rows but 10x weight -> expect roughly half the
    // sample (E-S inclusion ~ proportional); anything over 2x count share
    // proves the weighting works
    assert(heavy >= 80, s"heavy-weight rows under-sampled: $heavy of 200")
    // determinism (pure function of ids)
    val again = Sampling.weightedPerGroup(df, "id", "grp", col("w"), n = 200)
    assert(picked.select("id").except(again.select("id")).isEmpty)
    // zero/null weights never sampled even when slots go unfilled
    val zw = spark.range(10)
      .select(col("id"), lit("g").as("grp"),
        when(col("id") < 3, 1.0).otherwise(lit(null)).cast("double").as("w"))
      .withColumn("w", when(col("id") === 2, 0.0).otherwise(col("w")))
    val zpicked = Sampling.weightedPerGroup(zw, "id", "grp", col("w"), n = 10)
    assert(zpicked.count() == 2, "only the two positive-weight rows qualify")
    // per-group cap holds independently
    val multi = spark.range(100)
      .select(col("id"), (col("id") % 4).cast("string").as("grp"), lit(1.0).as("w"))
    val mp = Sampling.weightedPerGroup(multi, "id", "grp", col("w"), n = 7)
    assert(mp.groupBy("grp").count().collect().forall(_.getLong(1) == 7))
  }

  test("property: threshold sampling is nested — lower rate is a subset of higher") {
    val d = (1L to 500L).map(i => (i, "x")).toDF("id", "s")
    def ids(rate: Double) = Sampling
      .stratifiedSample(d, "id", col("s"), Map.empty, defaultRate = rate)
      .collect().map(_.getAs[Long]("id")).toSet
    val s2 = ids(0.2); val s5 = ids(0.5); val s9 = ids(0.9)
    assert(s2.subsetOf(s5) && s5.subsetOf(s9)) // same hash, higher cut
    assert(ids(0.0).isEmpty && ids(1.0).size == 500)
  }

  test("property: pack ids are the floor of the pre-doc running total over budget") {
    val rnd = new scala.util.Random(11)
    val d = (1L to 300L).map(i => (i, rnd.nextInt(40) + 1)).toDF("doc_id", "n")
    val rows = SequencePacker
      .pack(d, "doc_id", col("n"), budget = 64, buckets = 4)
      .collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_tokens"), r.getAs[Long]("cum_tokens"), r.getAs[Int]("pack_id")))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, _, n, cumOut, pack) =>
        assert(pack == cum / 64, "pack = floor(tokens before doc / budget)")
        cum += n
        assert(cumOut == cum, "inclusive running total")
      }
      // monotone, never skipping backwards
      assert(sorted.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("property: chunk spans sum to doc length; every non-final pack is exactly full") {
    val rnd = new scala.util.Random(29)
    val d = (1L to 300L).map(i => (i, rnd.nextInt(90) + 1)).toDF("doc_id", "n")
    val packed = SequencePacker.pack(d, "doc_id", col("n"), budget = 64, buckets = 4)
    val chunks = SequencePacker.chunks(packed, budget = 64).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("bucket"),
        r.getAs[Int]("pack_id"), r.getAs[Int]("chunk_tokens")))
    // per-document: chunks reassemble the full token count
    val perDoc = chunks.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    d.collect().foreach(r =>
      assert(perDoc(r.getAs[Long]("doc_id")) == r.getAs[Int]("n")))
    // per-pack: exactly `budget` tokens except each bucket's final pack
    chunks.groupBy(c => (c._2, c._3)).foreach { case ((bucket, pack), cs) =>
      val lastPack = chunks.filter(_._2 == bucket).map(_._3).max
      val total = cs.map(_._4).sum
      if (pack < lastPack) assert(total == 64, s"pack ($bucket,$pack) holds $total")
      else assert(total <= 64)
    }
  }

  test("property: quantization lanes bounded and reconstruction within half-step") {
    val rnd = new scala.util.Random(7)
    val d = (1 to 50)
      .map(i => (i.toLong, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 4f)))
      .toDF("id", "v")
    d.withColumn("scale", Quantize.scaleOf(col("v")))
      .withColumn("q", Quantize.quantize(col("v"), col("scale")))
      .collect()
      .foreach { r =>
        val scale = r.getAs[Double]("scale")
        val v = r.getSeq[Float](r.fieldIndex("v"))
        val q = r.getSeq[Long](r.fieldIndex("q"))
        q.foreach(x => assert(math.abs(x) <= 127))
        v.zip(q).foreach { case (vi, qi) =>
          assert(math.abs(qi * scale - vi) <= scale / 2 + 1e-9,
            s"lane error beyond half a quantization step: v=$vi q=$qi scale=$scale")
        }
      }
  }

  test("decontamination counts distinct shingle overlap against the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench 5-gram
      (2L, "completely unrelated text with no shared spans at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "x quick brown fox jumps over y")).toDF("doc_id", "text")
    val out = graft.text.Decontaminate
      .overlapStats(corpus, bench, "doc_id", col("text"), k = 5)
      .orderBy("doc_id")
      .collect()
    val r1 = out(0)
    // doc1 has 5 distinct 5-shingles; "quick brown fox jumps over" is in bench
    assert(r1.getAs[Long]("n_shingles") == 5L)
    assert(r1.getAs[Long]("n_overlap") == 1L)
    assert(math.abs(r1.getAs[Double]("overlap_frac") - 0.2) < 1e-12)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_overlap") == 0L && r2.getAs[Double]("overlap_frac") == 0.0)
  }

  test("unigram surprisal: boilerplate scores low, rare vocabulary high") {
    val d = Seq(
      (1L, "common common common common"),
      (2L, "common rareword")
    ).toDF("doc_id", "text")
    // N = 6 tokens; c(common) = 5, c(rareword) = 1
    val out = graft.text.LmScore
      .surprisal(d, "doc_id", col("text"), nTokens = 6L)
      .orderBy("doc_id")
      .collect()
    val s1 = out(0).getAs[Double]("surprisal") // ln(6/5) ~ 0.182
    val s2 = out(1).getAs[Double]("surprisal") // (ln(6/5) + ln(6)) / 2 ~ 0.987
    assert(math.abs(s1 - math.log(6.0 / 5)) < 1e-12)
    assert(math.abs(s2 - (math.log(6.0 / 5) + math.log(6.0)) / 2) < 1e-12)
    assert(s2 > s1)
    assert(out(0).getAs[Long]("n_tokens") == 4L)
  }

  test("char entropy: hand values, code-point units, null/empty conventions") {
    val d = Seq(
      (1L, "aab"),
      (2L, "aaaa"),          // zero entropy
      (3L, ""),              // empty -> 0.0
      (4L, null.asInstanceOf[String]),
      (5L, "😀😀a") // two identical emoji + 'a' == "aab" shape
    ).toDF("doc_id", "text")
    val out = d
      .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("h"))
      .orderBy("doc_id")
      .collect()
    val expAab = (2 * math.log(3.0 / 2) + math.log(3.0)) / 3
    assert(math.abs(out(0).getDouble(1) - expAab) < 1e-12)
    assert(out(1).getDouble(1) == 0.0)
    assert(out(2).getDouble(1) == 0.0)
    assert(out(3).isNullAt(1))
    assert(math.abs(out(4).getDouble(1) - expAab) < 1e-12,
      "surrogate pair must count as ONE character")
  }

  test("substring dup stats: per-doc duplicated-token mass with zero-fill") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h w z"),
      (3L, "totally unique words only appear once here")
    ).toDF("doc_id", "text")
    val out = graft.dedup.SubstringDedup
      .dupStats(d, "doc_id", col("text"), k = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac")))
    assert(out.toSeq == Seq(
      (1L, 10L, 6L, 0.6), (2L, 10L, 6L, 0.6), (3L, 7L, 0L, 0.0)))
  }

  test("winnow: a document beyond the 2^20-gram cap fails loudly, not silently") {
    val big = (Seq.fill((1 << 20) + 4)("t")).mkString(" ")
    val d = Seq((1L, big)).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.text.Winnow.fingerprints(d, "doc_id", col("text"), k = 3, w = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exceeds 2^20 k-grams")))
  }

  test("corpus mixing: an all-null-text source yields no rate instead of an NPE") {
    val d = Seq(
      (1L, "a", "ten tokens of text here pad pad pad pad pad"),
      (2L, "b", null.asInstanceOf[String])
    ).toDF("doc_id", "source", "text")
    val rates = graft.operators.Mixer.mixRates(
      d, "source", TextAnalysis.tokenCount(col("text")),
      Map("a" -> 0.5, "b" -> 0.5), budgetTokens = 100L)
    assert(rates.keySet == Set("a")) // b has no token mass -> excluded
  }

  test("corpus mixing: rates hit the token budget at target weights; clamp; drop") {
    val d = (1L to 30L).map { i =>
      val src = if (i <= 10) "a" else if (i <= 20) "b" else "c"
      (i, src, Seq.fill(10)("tok").mkString(" ")) // 10 tokens each
    }.toDF("doc_id", "source", "text")
    // tok(a)=tok(b)=tok(c)=100; budget 80: a -> 60/100, b -> 20/100, c unweighted
    val rates = graft.operators.Mixer.mixRates(
      d, "source", TextAnalysis.tokenCount(col("text")),
      Map("a" -> 0.75, "b" -> 0.25), budgetTokens = 80L)
    assert(rates == Map("a" -> 0.6, "b" -> 0.2))
    val out = graft.operators.Mixer.targetMix(
      d, "doc_id", "source", TextAnalysis.tokenCount(col("text")),
      Map("a" -> 0.75, "b" -> 0.25), 80L)
      .collect()
    assert(out.forall(r => Set("a", "b").contains(r.getAs[String]("stratum"))))
    out.foreach { r =>
      val limit = if (r.getAs[String]("stratum") == "a") 600 else 200
      assert(r.getAs[Int]("mille") < limit)
    }
    // a source too small for its target clamps at keep-everything
    val clamped = graft.operators.Mixer.mixRates(
      d, "source", TextAnalysis.tokenCount(col("text")),
      Map("a" -> 0.9), budgetTokens = 1000L)
    assert(clamped == Map("a" -> 1.0))
  }

  test("bigram surprisal: interpolated backoff, hand-computed; 1-token docs drop") {
    val d = Seq(
      (1L, "a b a b"),
      (2L, "b a"),
      (3L, "x") // no transitions
    ).toDF("doc_id", "text")
    // N=7; c(a)=3, c(b)=3; bigram counts: "a b"=2, "b a"=2; contexts a=2, b=2
    val lam = 0.7
    val pAb = lam * 2 / 2 + (1.0 - lam) * 3 / 7 // = p("b a") too (c2 symmetric)
    val out = graft.text.LmScore
      .bigramSurprisalWithN(d, "doc_id", col("text"), nTokens = 7L, lambda = lam)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("surprisal2")))
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0)._2 == 3L && out(1)._2 == 1L)
    assert(math.abs(out(0)._3 - -math.log(pAb)) < 1e-12)
    assert(math.abs(out(1)._3 - -math.log(pAb)) < 1e-12)
    // a doc of repeated boilerplate must score lower than fresh prose
    val d2 = Seq(
      (10L, "the cat sat the cat sat the cat sat"),
      (11L, "quantum flux harmonics destabilize rapidly")
    ).toDF("doc_id", "text")
    val n2 = 14L
    val s2 = graft.text.LmScore
      .bigramSurprisalWithN(d2, "doc_id", col("text"), n2, lambda = 0.7)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("surprisal2"))).toMap
    assert(s2(10L) < s2(11L))
  }

  test("tf-idf ranks rarer terms above common ones; deterministic tie cut") {
    val d = Seq(
      (1L, "a b b"),
      (2L, "b c"),
      (3L, "c c c")
    ).toDF("doc_id", "text")
    val out = TfIdf
      .topTerms(d, "doc_id", col("text"), k = 2, nDocs = 3)
      .orderBy("doc_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Int]("rank")))
    // doc1: a (tf1, df1 -> ln(2)=0.693) beats b (tf2, df2 -> 2*ln(4/3)=0.575)
    assert(out.filter(_._1 == 1L).map(t => (t._2, t._4)).toSeq == Seq(("a", 1), ("b", 2)))
    // doc2: b and c tie exactly (tf1, df2 each) -> lexicographic cut
    assert(out.filter(_._1 == 2L).map(t => (t._2, t._4)).toSeq == Seq(("b", 1), ("c", 2)))
    // doc3: only c
    assert(out.filter(_._1 == 3L).map(t => (t._2, t._4)).toSeq == Seq(("c", 1)))
    assert(TextAnalysis.tokenCount(lit("a b b")) != null) // tokenizer shared with stats
  }

  test("bm25: hand-computed score, non-matching docs excluded, tf/length order") {
    val d = Seq(
      (1L, "spark spark other"),
      (2L, "spark other other other"),
      (3L, "no match here")
    ).toDF("doc_id", "text")
    // N=3, avgdl=10/3, df(spark)=2 -> idf = ln(1 + 1.5/2.5) = ln(1.6)
    val out = graft.text.Bm25
      .score(d, "doc_id", col("text"), Seq("spark"), nDocs = 3L, avgDl = 10.0 / 3,
        k1 = 1.2, b = 0.75)
      .orderBy("doc_id")
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L)) // doc3 dropped
    val expected1 = math.log(1.6) * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / (10.0 / 3)))
    assert(math.abs(out(0).getAs[Double]("score") - expected1) < 1e-12)
    assert(out(0).getAs[Long]("n_matched") == 1L)
    // higher tf + shorter doc must outrank lower tf + longer doc
    assert(out(0).getAs[Double]("score") > out(1).getAs[Double]("score"))
  }

  test("bm25 retrieval: per-query keyed top-k, rank order, truncation") {
    val d = Seq(
      (1L, "spark spark other"),
      (2L, "spark other other other"),
      (3L, "window window"),
      (4L, "nothing relevant")
    ).toDF("doc_id", "text")
    val q = Seq((1, "spark"), (2, "window"), (2, "spark")).toDF("query_id", "term")
    val out = graft.text.Bm25
      .retrieveTopK(d, "doc_id", col("text"), q, nDocs = 4L, avgDl = 11.0 / 4,
        topK = 10, k1 = 1.2, b = 0.75)
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_matched")))
    // query 1: only docs 1,2 match; doc1 (tf 2, shorter) outranks doc2
    assert(out.filter(_._1 == 1).toSeq == Seq((1, 1, 1L, 1L), (1, 2, 2L, 1L)))
    // query 2: doc3 matches the rarer 'window' term twice in a short doc
    val q2 = out.filter(_._1 == 2)
    assert(q2.map(_._3).toSet == Set(1L, 2L, 3L))
    assert(q2.head._3 == 3L, "rare-term doc must rank first")
    // truncation
    val top1 = graft.text.Bm25
      .retrieveTopK(d, "doc_id", col("text"), q, 4L, 11.0 / 4, topK = 1, k1 = 1.2, b = 0.75)
      .collect()
    assert(top1.length == 2 && top1.forall(_.getAs[Int]("rank") == 1))
  }

  test("bm25 stored index serves retrieveTopK identically; text never read at query time") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = Seq((1, "spark"), (1, "query"), (2, "stream"), (2, "window"))
      .toDF("query_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    graft.text.Bm25.writeSearchIndex(docs, "doc_id", col("text"), dir)
    val (postings, stats) = graft.text.Bm25.loadSearchIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_matched"),
        r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2)).toSeq
    val inline = rows(graft.text.Bm25
      .retrieveTopK(docs, "doc_id", col("text"), q, topK = 10))
    val indexed = rows(graft.text.Bm25
      .retrieveTopKIndexed(postings, stats, "doc_id", q, topK = 10))
    assert(indexed == inline,
      "stored-index retrieval must reproduce the inline path exactly")
    // the index stores what it claims: postings rows = distinct (doc, term)
    // pairs, stats is the one-row corpus aggregate
    assert(postings.columns.sorted.toSeq == Seq("dl", "doc_id", "term", "tf"))
    assert(stats.count() == 1)
    // append is bit-identical to a full rebuild: same postings multiset,
    // same stats row (counts and token totals are integer-valued doubles,
    // so the merged avgdl has no FP drift), same retrieval
    val dir2 = java.nio.file.Files.createTempDirectory("bm25_idx_app").toString
    graft.text.Bm25.writeSearchIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"), dir2)
    graft.text.Bm25.appendSearchIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"), dir2)
    val (p2, s2) = graft.text.Bm25.loadSearchIndex(spark, dir2)
    assert(s2.collect().toSeq == stats.collect().toSeq,
      "appended stats must equal the one-shot corpus aggregate exactly")
    def postingsSet(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"), r.getAs[Long]("dl")))
      .sorted.toSeq
    assert(postingsSet(p2) == postingsSet(postings))
    assert(rows(graft.text.Bm25
      .retrieveTopKIndexed(p2, s2, "doc_id", q, topK = 10)) == inline)
    // and the retrieval plan reads the POSTINGS schema, not document text
    val plan = graft.text.Bm25
      .retrieveTopKIndexed(postings, stats, "doc_id", q, topK = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"indexed retrieval must not scan the corpus:\n${plan.take(800)}")
  }

  test("substring dedup merges shared runs into maximal spans; unique docs drop") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h w z"), // shares the 6-token run "c d e f g h"
      (3L, "totally unique words only appear once here")
    ).toDF("doc_id", "text")
    val out = graft.dedup.SubstringDedup
      .duplicateSpans(d, "doc_id", col("text"), k = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_id"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"),
        r.getAs[Int]("n_tokens"), r.getAs[Int]("n_shingles")))
    // the 6-token run = 4 duplicated 3-shingles at positions 2..5, both docs
    assert(out.toSeq == Seq((1L, 0, 2, 7, 6, 4), (2L, 0, 2, 7, 6, 4)))
  }

  test("substring dedup counts repeats WITHIN one document") {
    val d = Seq((1L, "p q r s p q r s"), (2L, "different words entirely")).toDF("doc_id", "text")
    // shingles: pqr(0) qrs(1) rsp(2) spq(3) pqr(4) qrs(5); dup at 0,1,4,5;
    // gap 1->4 is exactly k=3 -> merged, one whole-doc span
    val out = graft.dedup.SubstringDedup
      .duplicateSpans(d, "doc_id", col("text"), k = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("start_tok"),
        r.getAs[Int]("end_tok"), r.getAs[Int]("n_shingles")))
    assert(out.toSeq == Seq((1L, 0, 7, 4)))
  }

  test("winnow: shared run of w+k-1 tokens guarantees a shared fingerprint") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h w z") // shared run of 6 = w+k-1 (k=3, w=4)
    ).toDF("doc_id", "text")
    val fps = graft.text.Winnow
      .fingerprints(d, "doc_id", col("text"), k = 3, w = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Long]("fp")))
    val f1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._3).toSet
    assert(f1.intersect(f2).nonEmpty, "winnowing guarantee violated")
    fps.foreach { case (_, pos, fp) =>
      assert(pos >= 0 && fp >= 0 && fp < (1L << 32))
    }
  }

  test("winnow: rightmost tie-break and short-doc global minimum") {
    // identical shingles everywhere -> every window min ties -> rightmost wins
    val d = Seq((1L, "t t t t t t t"), (2L, "a b")).toDF("doc_id", "text")
    val fps = graft.text.Winnow
      .fingerprints(d, "doc_id", col("text"), k = 3, w = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos")))
    // doc1: 5 shingles (pos 0-4), complete windows at 0 and 1 -> select 3, 4
    assert(fps.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(3, 4))
    // doc2: shorter than k -> one clamped shingle, one fingerprint at pos 0
    assert(fps.filter(_._1 == 2L).map(_._2).toSeq == Seq(0))
  }

  test("sliding chunks: overlap, tail coverage, short-doc single chunk") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, size 4 stride 3
      (2L, "a b")                                     // shorter than one chunk
    ).toDF("doc_id", "text")
    val out = graft.text.Chunker
      .slidingChunks(d, "doc_id", col("text"), size = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_tokens"), r.getAs[String]("chunk_text")))
    // ceil((10-4)/3) = 2 -> chunks at 0, 3, 6: [1..4], [4..7], [7..10]
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 3, 4, "t4 t5 t6 t7"),
      (1L, 2, 6, 4, "t7 t8 t9 t10")))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 2, "a b")))
    // every token index is covered by at least one chunk
    val covered = out.filter(_._1 == 1L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 10).toSet)
  }

  test("psi drift: identical slices score zero, shifted slices positive") {
    val a = (1L to 100L).map(i => (i, i % 5)).toDF("id", "bucket_val")
    val bSame = (1L to 100L).map(i => (i, i % 5)).toDF("id", "bucket_val")
    val bShift = (1L to 100L).map(i => (i, if (i <= 80) 0L else i % 5)).toDF("id", "bucket_val")
    val same = graft.validate.Drift
      .psiByBucket(a, bSame, col("bucket_val").cast("int"), 100L, 100L, 5)
      .collect()
    same.foreach(r => assert(math.abs(r.getAs[Double]("psi")) < 1e-15))
    val shifted = graft.validate.Drift
      .psiByBucket(a, bShift, col("bucket_val").cast("int"), 100L, 100L, 5)
      .collect()
    // every contribution is non-negative ((p-q) and ln(p/q) share sign)
    shifted.foreach(r => assert(r.getAs[Double]("psi") >= 0.0))
    assert(shifted.map(_.getAs[Double]("psi")).sum > 0.1)
    // bucket 0 gained mass in B -> largest contribution
    val byBucket = shifted.map(r => (r.getAs[Int]("bucket"), r.getAs[Double]("psi"))).toMap
    assert(byBucket(0) == shifted.map(_.getAs[Double]("psi")).max)
  }

  test("psi drift: buckets empty on one side still well-defined via smoothing") {
    val a = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("id", "b")
    val bb = Seq((1L, 0), (2L, 2)).toDF("id", "b")
    val out = graft.validate.Drift
      .psiByBucket(a, bb, col("b"), 3L, 2L, 3)
      .orderBy("bucket")
      .collect()
    assert(out.length == 3) // buckets 0, 1, 2 all present via full-outer join
    out.foreach { r =>
      val psi = r.getAs[Double]("psi")
      assert(!psi.isNaN && !psi.isInfinite)
    }
    assert(out.map(r => (r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b"))).toSeq ==
      Seq((2L, 1L), (1L, 0L), (0L, 1L)))
  }

  test("psi drift: a null bucket lands on one joined row, not two") {
    val a = Seq((1L, Some(0)), (2L, None)).toDF("id", "b")
    val bb = Seq((1L, Option.empty[Int])).toDF("id", "b")
    val out = graft.validate.Drift
      .psiByBucket(a, bb, col("b"), 2L, 1L, 2)
      .collect()
      .map(r => (Option(r.get(r.fieldIndex("bucket"))),
        r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b")))
      .toSet
    assert(out == Set((Some(0), 1L, 0L), (None, 1L, 1L)))
  }

  private def bruteShingles(toks: Array[String], k: Int): Array[String] = {
    val n = math.max(toks.length - k + 1, 1)
    (0 until n).map(i => toks.slice(i, math.min(i + k, toks.length)).mkString(" ")).toArray
  }

  test("property: substring dedup spans match a brute-force reference") {
    val rnd = new scala.util.Random(101)
    val vocab = Array("a", "b", "c", "d") // tiny vocab -> many real repeats
    val k = 3
    val docsSeq = (1L to 30L).map { i =>
      (i, Array.fill(rnd.nextInt(15) + 3)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // brute force: corpus-wide shingle counts, mark pos, merge gap<=k islands
    val all = docsSeq.map { case (id, t) => (id, bruteShingles(t.split(" "), k)) }
    val counts = all.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val expected = all.flatMap { case (id, shs) =>
      val nToks = docsSeq.find(_._1 == id).get._2.split(" ").length
      val dupPos = shs.zipWithIndex.collect { case (s, p) if counts(s) > 1 => p }
      if (dupPos.isEmpty) Seq.empty
      else {
        val spans = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]() // start,end,nsh
        var (start, last, nsh) = (dupPos.head, dupPos.head, 1)
        dupPos.tail.foreach { p =>
          if (p - last > k) { spans += ((start, last, nsh)); start = p; nsh = 0 }
          last = p; nsh += 1
        }
        spans += ((start, last, nsh))
        spans.zipWithIndex.map { case ((s0, e0, n0), sid) =>
          (id, sid, s0, math.min(e0 + k - 1, nToks - 1), n0)
        }
      }
    }.toSet
    val got = graft.dedup.SubstringDedup
      .duplicateSpans(docsSeq.toDF("doc_id", "text"), "doc_id", col("text"), k)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_id"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"), r.getAs[Int]("n_shingles")))
      .toSet
    assert(got == expected)
  }

  private def md5Prefix8(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("property: winnow fingerprints match a brute-force reference") {
    val rnd = new scala.util.Random(202)
    val vocab = Array("x", "y", "z", "w", "v")
    val (k, w) = (3, 4)
    val docsSeq = (1L to 25L).map { i =>
      (i, Array.fill(rnd.nextInt(20) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val expected = docsSeq.flatMap { case (id, t) =>
      val hashes = bruteShingles(t.split(" "), k).map(md5Prefix8)
      val n = hashes.length
      val sels = if (n < w) {
        // global min, rightmost tie
        Seq(hashes.zipWithIndex.minBy { case (h, p) => (h, -p) })
      } else {
        (0 to n - w).map { s =>
          hashes.slice(s, s + w).zipWithIndex
            .map { case (h, j) => (h, s + j) }
            .minBy { case (h, p) => (h, -p) }
        }
      }
      sels.distinct.map { case (h, p) => (id, p, h) }
    }.toSet
    val got = graft.text.Winnow
      .fingerprints(docsSeq.toDF("doc_id", "text"), "doc_id", col("text"), k, w)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Long]("fp")))
      .toSet
    assert(got == expected)
  }

  test("property: chunks cover every token; stride==size reassembles the doc") {
    val rnd = new scala.util.Random(303)
    val docsSeq = (1L to 40L).map { i =>
      (i, (1 to rnd.nextInt(50) + 1).map(j => s"w$j").mkString(" "))
    }
    val d = docsSeq.toDF("doc_id", "text")
    val out = graft.text.Chunker
      .slidingChunks(d, "doc_id", col("text"), size = 8, stride = 5)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_tokens")))
    docsSeq.foreach { case (id, t) =>
      val n = t.split(" ").length
      val chunks = out.filter(_._1 == id)
      val covered = chunks.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (0 until n).toSet, s"doc $id coverage hole")
      assert(chunks.map(_._2).sorted.toSeq == chunks.indices.toSeq) // dense ids
    }
    // gapless non-overlapping mode reassembles the exact document
    val exact = graft.text.Chunker
      .slidingChunks(d, "doc_id", col("text"), size = 8, stride = 8)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"), r.getAs[String]("chunk_text")))
      .groupBy(_._1)
      .map { case (id, cs) => (id, cs.sortBy(_._2).map(_._3).mkString(" ")) }
    docsSeq.foreach { case (id, t) => assert(exact(id) == t) }
  }

  test("winnow digest: set semantics — repeated fingerprint selections count once") {
    // a periodic document selects the same (minimal) gram at many positions;
    // the digest must equal the sum over DISTINCT fp values, not per-occurrence
    val d = Seq(
      (1L, Seq.fill(12)("a b c").mkString(" ")), // one dominant min-gram, many positions
      (2L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val fps = graft.text.Winnow
      .fingerprints(d, "doc_id", col("text"), k = 3, w = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
    val digests = graft.text.Winnow
      .fingerprintDigest(d, "doc_id", col("text"), k = 3, w = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Int]("n_fp"), r.getAs[Long]("fp_digest"))))
      .toMap
    Seq(1L, 2L).foreach { id =>
      val rows = fps.filter(_._1 == id)
      val setSum = rows.map(_._2).distinct.sum % 4294967296L
      assert(digests(id) == ((rows.length, setSum)), s"doc $id")
    }
    // doc 1 really does select a gram at multiple positions (the case the
    // per-occurrence digest got wrong)
    val doc1 = fps.filter(_._1 == 1L)
    assert(doc1.length > doc1.map(_._2).distinct.length)
  }

  test("corpus mixing: a non-string source column works via stringified keys") {
    val d = (1L to 20L).map { i =>
      (i, (i % 2).toInt, Seq.fill(10)("tok").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val rates = graft.operators.Mixer.mixRates(
      d, "source", TextAnalysis.tokenCount(col("text")),
      Map("0" -> 0.5, "1" -> 0.25), budgetTokens = 100L)
    assert(rates == Map("0" -> 0.5, "1" -> 0.25))
  }

  test("shard writer: deterministic membership/order, one file per shard, byte-identical re-run") {
    import java.nio.file.{Files, Paths}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val dir1 = Files.createTempDirectory("shards1").toString
    val dir2 = Files.createTempDirectory("shards2").toString
    graft.operators.Shards.write(docs, "doc_id", dir1, n = 4, orderCols = Seq("source"))
    graft.operators.Shards.write(docs, "doc_id", dir2, n = 4, orderCols = Seq("source"))

    def shardFiles(dir: String, s: Int) = {
      import scala.jdk.CollectionConverters._
      val d = Paths.get(dir, s"shard=$s")
      assert(Files.isDirectory(d), s"missing shard dir $d")
      Files.list(d).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet"))
    }
    // expected: the assign() frame, per shard, ordered by (source, doc_id)
    val expected = graft.operators.Shards.assign(docs, "doc_id", 4, Seq("source"))
      .select("shard", "shard_pos", "doc_id")
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    for (s <- 0 until 4) {
      val files1 = shardFiles(dir1, s)
      assert(files1.size == 1, s"shard $s has ${files1.size} files, want 1")
      // within-file row order IS the deterministic (source, doc_id) order
      val ids1 = spark.read.parquet(files1.head.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids1 == expected(s), s"shard $s order/membership")
      // re-run: identical membership and order, and BYTE-identical files
      // (parquet content carries no timestamps; a stable sort + stable
      // encoder means the rebuild is the same byte stream a resuming
      // trainer would re-read)
      val f2 = shardFiles(dir2, s).head
      val ids2 = spark.read.parquet(f2.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids2 == ids1, s"shard $s not reproducible")
      assert(
        java.util.Arrays.equals(
          Files.readAllBytes(files1.head), Files.readAllBytes(f2)),
        s"shard $s bytes differ between identical runs")
    }
    // every row landed in exactly one shard
    assert(expected.values.map(_.size).sum == docs.count())
  }

  test("key skew: est_bytes sums the per-row size estimate in the same pass") {
    val d = (1L to 100L).map { i =>
      val k = if (i <= 60) "hot" else s"k$i"
      (i, k, "x" * (if (k == "hot") 10 else 3))
    }.toDF("id", "k", "payload")
    val out = graft.operators.Skew
      .keySkew(d, "k", topN = 3, rowSizeCol = Some(length(col("payload"))))
      .collect()
    val hot = out.find(_.getAs[String]("key") == "hot").get
    assert(hot.getAs[Long]("n") == 60L)
    assert(hot.getAs[Long]("est_bytes") == 600L)
    assert(hot.getAs[Int]("rank") == 1)
  }

  test("key skew: the rank window's input is the limited top-N frame (plan invariant)") {
    val d = (1L to 50L).map(i => (i, s"k${i % 5}")).toDF("id", "k")
    val plan = graft.operators.Skew.keySkew(d, "k", topN = 3)
      .queryExecution.optimizedPlan
    // the Window node must sit ABOVE a GlobalLimit: ranking happens on the
    // <= topN rows, never on the full per-key counts
    def check(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.child.collectFirst {
          case g: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => g
        }.nonEmpty
      case other => other.children.exists(check)
    }
    assert(check(plan), s"no GlobalLimit under the rank Window:\n$plan")
  }

  test("CurateCli.run: documents -> gated corpus -> audited shards, stats report") {
    val out = java.nio.file.Files.createTempDirectory("curate").toString
    val s = graft.cli.CurateCli
      .run(spark, "/root/testdata/sf0.001/documents.parquet", out, nShards = 4)
    assert(s.auditOk, "shard read-back audit must hold")
    assert(s.nKept > 0 && s.nKept <= s.nIn)
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/corpus_stats.json"))
    assert(stats.contains("\"audit_ok\":true"))
    val back = spark.read.parquet(s"$out/shards")
    assert(back.count() == s.nKept)
    assert(back.select("doc_id").distinct().count() == s.nKept)
    assert(back.columns.contains("quality_score") && back.columns.contains("shard_pos"))
  }

  test("CurateCli --model flag parses and the stored-model gate tightens the corpus") {
    import graft.cli.CurateCli
    import graft.text.{LinearTextModel, TextAnalysis}
    // flag parsing: stripped from any position, pair extracted
    val (rest, m) = CurateCli.parseModelArgs(
      Array("in.parquet", "out", "--model", "/m", "0.4", "8"))
    assert(rest.toSeq == Seq("in.parquet", "out", "8") && m.contains(("/m", 0.4)))
    val (rest2, m2) = CurateCli.parseModelArgs(Array("in.parquet", "out"))
    assert(rest2.length == 2 && m2.isEmpty)
    intercept[IllegalArgumentException] {
      CurateCli.parseModelArgs(Array("in.parquet", "--model", "/m"))
    }

    // end-to-end: train + store a model, gate at the median score of the
    // heuristically-kept docs — strictly fewer docs than the ungated run
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        TextAnalysis.qualityScore(
          org.apache.spark.sql.functions.col("text")).as("y"))
    val model = LinearTextModel.train(docs, "text", "y", d = 256, alpha = 5.0)
    val mDir = java.nio.file.Files.createTempDirectory("curate_model").toString
    LinearTextModel.writeModel(model, mDir, spark)
    val outA = java.nio.file.Files.createTempDirectory("curate_nogate").toString
    val base = CurateCli.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outA, nShards = 2)
    val keptScores = spark.read.parquet(s"$outA/shards")
      .select(LinearTextModel.score(
        org.apache.spark.sql.functions.col("text"),
        LinearTextModel.loadModel(spark, mDir)).as("s"))
      .collect().map(_.getDouble(0)).sorted
    val t = keptScores(keptScores.length / 2)
    val outB = java.nio.file.Files.createTempDirectory("curate_gate").toString
    val gated = CurateCli.run(spark,
      "/root/testdata/sf0.001/documents.parquet", outB, nShards = 2,
      cfg = graft.text.CorpusPipeline.Config(modelGate =
        Some((LinearTextModel.loadModel(spark, mDir), t))))
    assert(gated.auditOk)
    assert(gated.nKept > 0 && gated.nKept < base.nKept,
      s"median-score gate must tighten the corpus (${gated.nKept} vs ${base.nKept})")
  }

  test("CurateCli.runIncremental: batches land, dedup against the stored index, compact") {
    import java.nio.file.Files
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val state = Files.createTempDirectory("curate_inc").toString
    val batches = Files.createTempDirectory("curate_batches").toString

    // batch 0: the even half — bootstraps corpus + band index + shards
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$batches/b0")
    val s0 = graft.cli.CurateCli.runIncremental(spark, s"$batches/b0", state, nShards = 2)
    assert(s0.batch == 0 && s0.auditOk && s0.nFresh > 0)
    assert(s0.nDupOfCorpus == 0, "bootstrap has no corpus to duplicate")
    val corpus0 = spark.read.parquet(s"$state/corpus")
    assert(corpus0.count() == s0.nFresh)

    // batch 1: the odd half PLUS 5 re-labeled copies of already-landed
    // docs — the copies must be flagged against the stored index and
    // dropped, without re-scanning or re-shingling the corpus
    val replayed = corpus0.limit(5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("quality_score"), col("n_tokens"))
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        lit(0.0).as("quality_score"), lit(0).as("n_tokens"))
      .unionByName(replayed)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .write.parquet(s"$batches/b1")
    val s1 = graft.cli.CurateCli.runIncremental(spark, s"$batches/b1", state, nShards = 2)
    assert(s1.batch == 1 && s1.auditOk)
    assert(s1.nDupOfCorpus >= 5,
      s"the 5 exact corpus copies must be flagged, got ${s1.nDupOfCorpus}")
    assert(s1.nFresh == s1.nKept - s1.nDupOfCorpus)
    val corpusAfter = spark.read.parquet(s"$state/corpus")
    assert(corpusAfter.count() == s0.nFresh + s1.nFresh)
    assert(corpusAfter.select("doc_id").distinct().count() == s0.nFresh + s1.nFresh)
    // per-batch shard dirs, each internally audited
    assert(new java.io.File(s"$state/shards/batch=0").isDirectory)
    assert(new java.io.File(s"$state/shards/batch=1").isDirectory)
    assert(spark.read.parquet(s"$state/shards/batch=1").count() == s1.nFresh)
    // stats artifacts per batch
    assert(Files.readString(java.nio.file.Paths.get(s"$state/batch_1_stats.json"))
      .contains("\"audit_ok\":true"))

    // batch 2: pure replays -> nothing fresh; low compactAt forces the
    // corpus small-file heal, which must preserve content exactly
    corpus0.limit(5)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .write.parquet(s"$batches/b2")
    val s2 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b2", state, nShards = 2, compactAt = 2)
    assert(s2.batch == 2 && s2.nFresh == 0 && s2.auditOk)
    assert(s2.corpusCompacted, "compaction must trigger at compactAt=2")
    val healed = spark.read.parquet(s"$state/corpus")
    assert(healed.count() == s0.nFresh + s1.nFresh)
    assert(healed.select("doc_id").distinct().count() == s0.nFresh + s1.nFresh)
    // the index still serves dedup after compaction (state dirs disjoint)
    val idx = graft.dedup.Dedup.loadBandIndex(spark, s"$state/index")
    assert(idx.bands.select(col("doc_id")).distinct().count() == s0.nFresh + s1.nFresh)
  }

  test("incremental curation --search maintains a BM25 index equal to inline retrieval over the corpus") {
    import java.nio.file.Files
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val batches = Files.createTempDirectory("curate_search_b").toString
    val state = Files.createTempDirectory("curate_search_s").toString
    all.filter(col("doc_id") % 2 === 0).write.parquet(s"$batches/b0")
    all.filter(col("doc_id") % 2 === 1).write.parquet(s"$batches/b1")
    val s0 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b0", state, nShards = 2, searchIndex = true)
    val s1 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b1", state, nShards = 2, searchIndex = true)
    assert(s0.auditOk && s1.auditOk && s1.batch == 1)
    // the stored search index answers exactly like inline BM25 over the
    // accumulated (gated + deduped) corpus — batch 0 bootstrapped it,
    // batch 1 appended, stats merged exactly
    val (p, st) = graft.text.Bm25.loadSearchIndex(spark, s"$state/search")
    val corpus = spark.read.parquet(s"$state/corpus")
    val q = Seq((1, "spark"), (1, "query"), (2, "stream"), (2, "window"))
      .toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val indexed = rows(graft.text.Bm25
      .retrieveTopKIndexed(p, st, "doc_id", q, topK = 10))
    val inline = rows(graft.text.Bm25
      .retrieveTopK(corpus, "doc_id", col("text"), q, topK = 10))
    assert(indexed == inline,
      "curation-maintained search index must equal inline retrieval")
    assert(p.count() > 0 && st.count() == 1)
  }

  test("incremental curation --exact maintains the prefix index; probes equal inline join") {
    import java.nio.file.Files
    import graft.dedup.{Dedup, SetSimJoin}
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val batches = Files.createTempDirectory("curate_exact_b").toString
    val state = Files.createTempDirectory("curate_exact_s").toString
    all.filter(col("doc_id") % 2 === 0).write.parquet(s"$batches/b0")
    all.filter(col("doc_id") % 2 === 1).write.parquet(s"$batches/b1")
    val s0 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b0", state, nShards = 2, exactIndex = true)
    val s1 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b1", state, nShards = 2, exactIndex = true)
    assert(s0.auditOk && s1.auditOk)
    assert(s0.exactOrderDrift.isEmpty, "bootstrap batch has no drift baseline")
    assert(s1.exactOrderDrift.exists(d => d >= 0.0 && d <= 1.0))

    def setsOf(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      array_distinct(transform(Dedup.wordShingles(col("text"), 3),
        x => md5(x))).as("sh"))
    // probe the maintained index with a held-out slice of the raw docs;
    // must equal the inline two-table join against the accumulated
    // (gated + deduped) corpus — the persistence layer is value-invisible
    val corpusSets = setsOf(spark.read.parquet(s"$state/corpus"))
    val probes = setsOf(all.filter(col("doc_id") % 7 === 3))
      .withColumn("doc_id", col("doc_id") + 100000L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_l", "id_r", "inter", "union_sz")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val served = rows(SetSimJoin.searchIndex(
      spark, s"$state/exact", probes, "doc_id", "sh"))
    val inline = rows(SetSimJoin.join(probes, corpusSets, "doc_id", "sh", 2, 5))
    assert(served == inline,
      "curation-maintained exact index must equal the inline join")
    assert(served.nonEmpty, "held-out near-copies should match the corpus")
  }

  test("incremental curation --search --hybrid maintains BOTH serving legs; fused serving equals inline") {
    import java.nio.file.Files
    import graft.similarity.{Hybrid, Ivf}
    // batch input = documents with their embeddings riding along (the
    // --hybrid contract: vectors come from the batch input)
    val docsWithVec = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .join(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val batches = Files.createTempDirectory("curate_hyb_b").toString
    val state = Files.createTempDirectory("curate_hyb_s").toString
    docsWithVec.filter(col("doc_id") % 2 === 0).write.parquet(s"$batches/b0")
    docsWithVec.filter(col("doc_id") % 2 === 1).write.parquet(s"$batches/b1")
    val s0 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b0", state, nShards = 2,
      searchIndex = true, hybridIndex = true)
    val s1 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b1", state, nShards = 2,
      searchIndex = true, hybridIndex = true)
    assert(s0.auditOk && s1.auditOk && s1.batch == 1)
    // the staleness audit runs on every post-bootstrap batch; odd/even
    // halves of one corpus are distributionally close, so no alert
    assert(s0.driftPsi.isEmpty, "bootstrap has no reference to drift from")
    assert(s1.driftPsi.isDefined && s1.driftPsi.get >= 0.0)

    val termQ = Seq((1, "spark"), (1, "query"), (2, "stream"), (2, "window"),
      (3, "data"))
      .toDF("query_id", "term")
    val vecQ = docsWithVec.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1).cast("int").as("query_id"),
        col("embedding").as("qv"))
    val served = Hybrid.searchIndexed(spark, s"$state/search", s"$state/dense",
      "doc_id", "doc_id", "embedding", termQ, vecQ, "qv",
      kPerLeg = 20, nprobe = 4, topK = 10)

    // inline replay over the accumulated corpus: sparse = inline BM25;
    // dense = assignment of ALL landed vectors with the STORED centroids
    // (appendIndex's exactness contract) — fused with the same RRF
    val corpus = spark.read.parquet(s"$state/corpus")
    val sparse = graft.text.Bm25
      .retrieveTopK(corpus, "doc_id", col("text"), termQ, topK = 20)
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("doc_id"))
    val (centroids, _) = Ivf.loadIndex(spark, s"$state/dense")
    val allVecs = docsWithVec
      .select(col("doc_id"), col("embedding"))
      .join(corpus.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val dense = Ivf
      .searchAll(Ivf.assign(allVecs, "doc_id", "embedding", centroids),
        centroids, "doc_id", "embedding", vecQ, "query_id", "qv",
        k = 20, nprobe = 4)
      .select(col("query_id").cast("int").as("query_id"),
        col("rank").cast("int").as("rank"),
        col("doc_id").cast("long").as("doc_id"))
    val fusedInline = Hybrid.rrfFuse(Seq(sparse, dense), "doc_id", topK = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("doc_id").cast("long"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // collect the expectation ONCE: the b2 maintenance pass below compacts
    // the corpus, so fusedInline's lazy plan would re-read replaced files
    val expected = rows(fusedInline)
    assert(rows(served) == expected,
      "curation-maintained hybrid indexes must serve exactly like inline legs")

    // the dense store stays hive-partitioned and heals to one file per
    // cluster directory without changing what it serves
    val assignedDir = new java.io.File(s"$state/dense/assigned")
    assert(assignedDir.listFiles().exists(_.getName.startsWith("centroid_id=")))
    docsWithVec.filter(col("doc_id") % 2 === 0).limit(0)
      .write.parquet(s"$batches/b2") // empty batch: maintenance-only pass
    val s2 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b2", state, nShards = 2,
      searchIndex = true, hybridIndex = true, compactAt = 2)
    assert(s2.auditOk && s2.nFresh == 0)
    val healedServed = Hybrid.searchIndexed(spark, s"$state/search",
      s"$state/dense", "doc_id", "doc_id", "embedding", termQ, vecQ, "qv",
      kPerLeg = 20, nprobe = 4, topK = 10)
    assert(rows(healedServed) == expected,
      "maintenance passes must not change what the indexes serve")
    // healed layout: still hive-partitioned, ONE file per cluster dir
    val partDirs = assignedDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(partDirs.nonEmpty)
    partDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName} has $n files after the partitioned heal")
    }
  }

  test("incremental curation --profile maintains sketches equal to a full-corpus rebuild") {
    import java.nio.file.Files
    import graft.sketch.{HdrHistogram, Hll, ProfileStore}
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val batches = Files.createTempDirectory("curate_prof_b").toString
    val state = Files.createTempDirectory("curate_prof_s").toString
    all.filter(col("doc_id") % 2 === 0).write.parquet(s"$batches/b0")
    all.filter(col("doc_id") % 2 === 1).write.parquet(s"$batches/b1")
    val s0 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b0", state, nShards = 2, profileStats = true)
    val s1 = graft.cli.CurateCli.runIncremental(
      spark, s"$batches/b1", state, nShards = 2, profileStats = true)
    assert(s0.auditOk && s1.auditOk)
    assert(s0.profileDistinctEst.isDefined && s1.profileDistinctEst.isDefined)
    // lossless-merge identity: the incrementally maintained sketches must
    // equal (as DATA) a one-shot sketch of the accumulated corpus
    val corpus = spark.read.parquet(s"$state/corpus")
    val storedHll = spark.read.parquet(s"$state/profile/hll")
    val directHll = Hll.sketch(corpus, col("text"))
    assert(storedHll.except(directHll).isEmpty && directHll.except(storedHll).isEmpty)
    val storedHdr = spark.read.parquet(s"$state/profile/hdr")
    val directHdr = HdrHistogram.sketch(corpus, col("n_tokens").cast("double"))
    assert(storedHdr.except(directHdr).isEmpty && directHdr.except(storedHdr).isEmpty)
    // the per-source KMV leg holds the same lossless-merge identity, so
    // cross-source overlap telemetry equals a one-shot corpus sketch
    val storedKmv = spark.read.parquet(s"$state/profile/kmv")
    val directKmv = graft.sketch.Kmv.sketch(
      corpus, col("text"), Seq("source"), ProfileStore.KmvK)
    assert(storedKmv.except(directKmv).isEmpty && directKmv.except(storedKmv).isEmpty)
    val overlap = ProfileStore.sourceOverlapEstimates(spark, s"$state/profile")
    assert(overlap.count() > 0)
    assert(overlap.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1).isEmpty)
    // the estimate visible in batch stats equals the store's answer, and
    // the second batch's estimate grew with the corpus
    assert(s1.profileDistinctEst.get ==
      ProfileStore.distinctEstimate(spark, s"$state/profile"))
    assert(s1.profileDistinctEst.get > s0.profileDistinctEst.get)
    assert(Files.readString(java.nio.file.Paths.get(s"$state/batch_1_stats.json"))
      .contains("profile_distinct_est"))
    // quantile serving off the store works and is sane for token lengths
    val p50 = ProfileStore.lengthQuantiles(spark, s"$state/profile", Seq(0.5))
      .head().getDouble(1)
    assert(p50 > 0.0 && p50 < 10000.0)
    // crash recovery: a retired-but-never-promoted hll dir is restored
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$state/profile/hll"),
      new org.apache.hadoop.fs.Path(s"$state/profile/hll__retired"))
    graft.operators.PartitionSwap.recoverDir(spark, s"$state/profile/hll")
    assert(ProfileStore.exists(spark, s"$state/profile"))
    assert(spark.read.parquet(s"$state/profile/hll").count() == storedHll.count())
  }

  test("erase sweep: every maintained leg forgets; serving equals rebuild from retained corpus") {
    import java.nio.file.Files
    import graft.dedup.{Dedup, SetSimJoin}
    import graft.sketch.{Hll, ProfileStore}
    val docsWithVec = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .join(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val batches = Files.createTempDirectory("curate_erase_b").toString
    val state = Files.createTempDirectory("curate_erase_s").toString
    docsWithVec.filter(col("doc_id") % 2 === 0).write.parquet(s"$batches/b0")
    docsWithVec.filter(col("doc_id") % 2 === 1).write.parquet(s"$batches/b1")
    Seq(s"$batches/b0", s"$batches/b1").foreach { b =>
      val s = graft.cli.CurateCli.runIncremental(
        spark, b, state, nShards = 2, searchIndex = true, hybridIndex = true,
        profileStats = true, exactIndex = true, aggStats = true)
      assert(s.auditOk)
    }
    // the maintained per-source aggregate equals a one-shot groupBy over
    // the accumulated corpus (the AggStore merge law, end to end)
    def aggRows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "cnt", "sum", "min", "max")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def corpusOneShot() = graft.operators.AggStore.aggregate(
      spark.read.parquet(s"$state/corpus"), Seq("source"),
      col("n_tokens").cast("long"))
    assert(aggRows(graft.operators.AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot()))
    val before = spark.read.parquet(s"$state/corpus").cache()
    val nBefore = before.count()
    // erasure request: ~1/7 of the landed corpus, plus one id that was
    // never admitted (must not decrement anything)
    val keys = before.select(col("doc_id")).filter(col("doc_id") % 7 === 0)
      .union(Seq(999999999L).toDF("doc_id"))
    val keysPath = s"$batches/erase_keys"
    keys.write.parquet(keysPath)
    val nReq = keys.count() - 1
    before.unpersist()

    // GDPR Art. 15 BEFORE Art. 17: the access sweep must see the subject
    // everywhere the erasure sweep is about to purge
    val sar1 = Files.createTempDirectory("curate_sar1").toString
    val as1 = graft.cli.CurateCli.runAccess(spark, keysPath, state, sar1)
    assert(as1.nCorpus == nReq, "access must surface every admitted subject row")
    assert(as1.nBand > 0 && as1.nSearch > 0 && as1.nDense > 0 &&
      as1.nExact > 0 && as1.nShards > 0,
      s"every serving leg must report subject presence: $as1")
    assert(spark.read.parquet(s"$sar1/corpus_rows").count() == nReq)
    val subj = spark.read.parquet(s"$sar1/subjects")
    assert(subj.count() == nReq + 1, "one row per requested key, found or not")
    assert(subj.filter(col("doc_id") === 999999999L)
      .filter(col("n_band_rows") =!= 0 || col("n_shard_rows") =!= 0).isEmpty,
      "a never-admitted key reports zeros")

    val es = graft.cli.CurateCli.runErase(spark, keysPath, state)
    assert(es.nCorpus == nReq, s"corpus purge ${es.nCorpus} != requested $nReq")

    // ... and the access sweep AFTER erasure finds nothing: the
    // compliance proof pair (access(erase(S)) = nothing about the subject)
    val sar2 = Files.createTempDirectory("curate_sar2").toString
    val as2 = graft.cli.CurateCli.runAccess(spark, keysPath, state, sar2)
    assert(as2.nCorpus == 0L && as2.nBand == 0L && as2.nSearch == 0L &&
      as2.nDense == 0L && as2.nExact == 0L && as2.nShards == 0L,
      s"post-erasure access must find nothing: $as2")
    assert(es.profileRebuilt && es.profileStaleness == 0L)
    assert(Files.readString(java.nio.file.Paths.get(s"$state/erase_report.json"))
      .contains("\"profile_rebuilt\":true"))

    val retained = spark.read.parquet(s"$state/corpus").cache()
    assert(retained.count() == nBefore - nReq)
    assert(retained.filter(col("doc_id") % 7 === 0).isEmpty)

    // BM25: the erased index (postings purge + exact stats decrement)
    // serves retrieval identically to inline BM25 over the retained corpus
    val (p, st) = graft.text.Bm25.loadSearchIndex(spark, s"$state/search")
    assert(p.join(spark.read.parquet(keysPath), Seq("doc_id"), "left_semi").isEmpty)
    val q = Seq((1, "spark"), (1, "query"), (2, "stream"), (2, "window"))
      .toDF("query_id", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(
      rows(graft.text.Bm25.retrieveTopKIndexed(p, st, "doc_id", q, topK = 10)) ==
        rows(graft.text.Bm25.retrieveTopK(retained, "doc_id", col("text"), q, topK = 10)),
      "erased search index must equal inline retrieval over the retained corpus")

    // exact prefix index: probes against the erased index equal the
    // inline two-table join against the retained corpus
    def setsOf(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      array_distinct(transform(Dedup.wordShingles(col("text"), 3),
        x => md5(x))).as("sh"))
    val probes = setsOf(docsWithVec.filter(col("doc_id") % 7 === 3))
      .withColumn("doc_id", col("doc_id") + 100000L)
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_l", "id_r", "inter", "union_sz")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(
      pairRows(SetSimJoin.searchIndex(spark, s"$state/exact", probes, "doc_id", "sh")) ==
        pairRows(SetSimJoin.join(probes, setsOf(retained), "doc_id", "sh", 2, 5)),
      "erased exact index must equal the inline join over the retained corpus")

    // dense leg: no erased id is assigned, partition layout survives
    val assigned = spark.read.parquet(s"$state/dense/assigned")
    assert(assigned.join(spark.read.parquet(keysPath), Seq("doc_id"), "left_semi").isEmpty)
    assert(assigned.columns.contains("centroid_id"))
    assert(new java.io.File(s"$state/dense/assigned").listFiles()
      .exists(_.getName.startsWith("centroid_id=")))

    // band index: a re-labeled copy of an ERASED doc is fresh again; a
    // copy of a RETAINED doc still near-dups
    val idx = Dedup.loadBandIndex(spark, s"$state/index")
    assert(idx.bands.join(spark.read.parquet(keysPath), Seq("doc_id"), "left_semi").isEmpty)
    val erasedCopy = docsWithVec
      .join(spark.read.parquet(keysPath), Seq("doc_id"), "left_semi")
      .limit(3).withColumn("doc_id", col("doc_id") + 5000000L)
    val retainedCopy = retained.limit(3)
      .withColumn("doc_id", col("doc_id") + 6000000L)
    // (a copy may still near-dup a template-sharing RETAINED doc — what
    // matters is that no match attributes to an erased id)
    assert(Dedup.dedupAgainstCorpus(idx, erasedCopy, "text", 0.7, maxBucket = None)
      .filter(col("is_dup"))
      .join(spark.read.parquet(keysPath).select(col("doc_id").as("dup_of")),
        Seq("dup_of"), "left_semi")
      .isEmpty,
      "the band index must have forgotten the erased documents")
    assert(Dedup.dedupAgainstCorpus(idx, retainedCopy, "text", 0.7, maxBucket = None)
      .filter(!col("is_dup")).isEmpty,
      "retained documents must still be recognized")

    // shards: erased ids gone, dense 0-based contiguous positions hold,
    // manifest refreshed to the surviving files
    Seq(0, 1).foreach { b =>
      val sh = spark.read.parquet(s"$state/shards/batch=$b")
      assert(sh.join(spark.read.parquet(keysPath), Seq("doc_id"), "left_semi").isEmpty)
      val bad = sh.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), countDistinct(col("shard_pos")).as("nd"),
          min(col("shard_pos")).as("lo"), max(col("shard_pos")).as("hi"))
        .filter(col("lo") =!= 0L || col("hi") =!= col("n") - 1 || col("nd") =!= col("n"))
      assert(bad.isEmpty, s"batch=$b shard positions must stay dense after erasure")
    }

    // agg leg: after erasure the maintained per-source stats equal a
    // one-shot groupBy over the RETAINED corpus — cnt/sum by exact
    // subtraction, min/max by touched-group rebuild (AggStore.erase),
    // cross-checked against each other inside the sweep
    assert(es.nAggGroups > 0L, "the sweep must touch the agg leg")
    assert(aggRows(graft.operators.AggStore.serve(spark, s"$state/agg")) ==
      aggRows(corpusOneShot()),
      "erased agg store must equal the one-shot over the retained corpus")
    assert(graft.operators.AggStore.stalenessCount(spark, s"$state/agg") == 0L)

    // profile: rebuilt sketches are DATA-identical to a one-shot profile
    // of the retained corpus (sketches cannot subtract; rebuild is the heal)
    val storedHll = spark.read.parquet(s"$state/profile/hll")
    val directHll = Hll.sketch(retained, col("text"))
    assert(storedHll.except(directHll).isEmpty && directHll.except(storedHll).isEmpty,
      "rebuilt profile must equal a one-shot sketch of the retained corpus")
    assert(!ProfileStore.isStale(spark, s"$state/profile", 0L))

    // idempotence: a second sweep with the same keys finds nothing
    val es2 = graft.cli.CurateCli.runErase(spark, keysPath, state)
    assert(es2.nCorpus == 0L && es2.nSearch == 0L && es2.nExact == 0L &&
      es2.nDense == 0L && es2.nBand == 0L && es2.nShards == 0L &&
      es2.nAggGroups == 0L)
    retained.unpersist()
  }

  test("retention sweep: expired batches age out of EVERY leg; fsck audits clean after") {
    import java.nio.file.Files
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val batches = Files.createTempDirectory("ret_b").toString
    val state = Files.createTempDirectory("ret_s").toString
    (0 until 3).foreach { b =>
      docs.filter(col("doc_id") % 3 === b).write.parquet(s"$batches/b$b")
      graft.cli.CurateCli.runIncremental(
        spark, s"$batches/b$b", state, nShards = 2,
        searchIndex = true, exactIndex = true, aggStats = true,
        profileStats = true)
    }
    val batch0Ids = spark.read.parquet(s"$state/shards/batch=0")
      .select(col("doc_id")).cache()
    val n0 = batch0Ids.count()
    assert(n0 > 0)
    val nBefore = spark.read.parquet(s"$state/corpus").count()

    val s1 = graft.cli.CurateCli.runRetention(spark, state, keepBatches = 2)
    assert(s1.nBatchesExpired == 1 && s1.nDocsExpired == n0)
    assert(s1.erase.nCorpus == n0,
      "every expired doc must purge from the corpus")
    // the expired batch directory is GONE (age-out is metadata), the
    // survivors intact
    assert(!new java.io.File(s"$state/shards/batch=0").exists())
    assert(new java.io.File(s"$state/shards/batch=1").exists() &&
      new java.io.File(s"$state/shards/batch=2").exists())
    assert(spark.read.parquet(s"$state/corpus").count() == nBefore - n0)
    // every serving leg forgot the expired subjects
    Seq(s"$state/search/docs" -> "doc_id", s"$state/index/bands" -> "doc_id",
      s"$state/exact/sets" -> "id").foreach { case (leg, idc) =>
      assert(spark.read.parquet(leg)
        .select(col(idc).as("doc_id"))
        .join(broadcast(batch0Ids), Seq("doc_id"), "left_semi").isEmpty,
        s"$leg must forget the expired batch")
    }
    // the whole state audits consistent after the sweep
    val checks = graft.operators.Fsck.state(spark, state)
    assert(checks.forall(_.ok), s"post-retention fsck: ${checks.filterNot(_.ok)}")
    assert(Files.readString(java.nio.file.Paths.get(s"$state/retention_report.json"))
      .contains("\"n_batches_expired\":1"))
    // idempotent: nothing left to expire at the same horizon
    val s2 = graft.cli.CurateCli.runRetention(spark, state, keepBatches = 2)
    assert(s2.nBatchesExpired == 0 && s2.nDocsExpired == 0L)
    batch0Ids.unpersist()
  }

  test("CurateCli.run: an all-filtered corpus reports cleanly instead of crashing") {
    val out = java.nio.file.Files.createTempDirectory("curate_empty").toString
    val s = graft.cli.CurateCli.run(
      spark, "/root/testdata/sf0.001/documents.parquet", out, nShards = 4,
      cfg = graft.text.CorpusPipeline.Config(minQuality = 1.1)) // nothing passes
    assert(s.nKept == 0 && s.auditOk)
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/corpus_stats.json"))
    assert(stats.contains("\"n_kept\":0") && stats.contains("\"strata\":[]"))
  }

  test("compaction: tiny files rewrite to target-sized files, content preserved") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("tiny_files").toString
    val d = (1L to 2000L).map(i => (i, s"payload for row $i")).toDF("id", "payload")
    d.repartition(50).write.mode("overwrite").parquet(inDir) // 50 tiny files
    val outDir = Files.createTempDirectory("compacted").toString + "/out"
    val total = {
      val fs = new org.apache.hadoop.fs.Path(inDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(inDir))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }
    val (nIn, nOut) = graft.operators.Compaction
      .compact(spark, inDir, outDir, targetBytes = total / 4)
    assert(nIn == 50)
    assert(nOut <= 6 && nOut >= 3, s"expected ~4-5 output files, got $nOut")
    // content identical (order-free)
    val back = spark.read.parquet(outDir)
    assert(back.count() == 2000)
    assert(back.as[(Long, String)].collect().toSet == d.as[(Long, String)].collect().toSet)
    // refuses in-place rewrite
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Compaction.compact(spark, inDir, inDir, 1000)
    }
    assert(ex.getMessage.contains("in place"))
    // ...including through path aliases that differ only as strings
    Seq(inDir + "/", "file:" + inDir, inDir + "/./").foreach { alias =>
      val e = intercept[IllegalArgumentException] {
        graft.operators.Compaction.compact(spark, inDir, alias, 1000)
      }
      assert(e.getMessage.contains("in place"), s"alias $alias slipped the guard")
    }
  }

  test("clustered compaction: appended postings heal to one file per term, sorted; retrieval unchanged") {
    import java.nio.file.Files
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("bm25_cc").toString
    // write + append fragments the term clustering (one file set per batch)
    graft.text.Bm25.writeSearchIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"), dir)
    graft.text.Bm25.appendSearchIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"), dir)
    val outP = Files.createTempDirectory("bm25_cc_out").toString + "/postings"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val (_, nOut) = graft.operators.Compaction.compactClustered(
      spark, s"$dir/postings", outP, targetBytes = math.max(1L, total / 3), Seq("term"))
    assert(nOut >= 2, s"want a multi-file output to prove clustering, got $nOut")
    // hash-clustered: every term's postings land in exactly one file
    val spread = spark.read.parquet(outP)
      .select(col("term"), input_file_name().as("f"))
      .groupBy("term")
      .agg(countDistinct("f").as("nf"))
      .agg(max("nf")).head().getLong(0)
    assert(spread == 1, s"a term spans $spread files after clustered compaction")
    // sorted within each file -> tight row-group min/max for probe pruning
    fs.listStatus(new org.apache.hadoop.fs.Path(outP))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val terms = spark.read.parquet(st.getPath.toString)
          .select("term").collect().map(_.getString(0)).toSeq
        assert(terms == terms.sorted, s"${st.getPath.getName} not term-sorted")
      }
    // and the compacted layout serves retrieval identically
    val (origP, stats) = graft.text.Bm25.loadSearchIndex(spark, dir)
    val q = Seq((1, "spark"), (2, "window")).toDF("query_id", "term")
    def rows(p: org.apache.spark.sql.DataFrame) = graft.text.Bm25
      .retrieveTopKIndexed(p, stats, "doc_id", q, topK = 10)
      .collect().map(_.toSeq).toSeq
    assert(rows(spark.read.parquet(outP)) == rows(origP))
  }

  test("shard manifest: per-shard rows/files/bytes and an order-sensitive content hash") {
    import java.nio.file.Files
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val dir = Files.createTempDirectory("shards_m").toString
    graft.operators.Shards.write(docs, "doc_id", dir, n = 4, orderCols = Seq("source"))
    val m = graft.operators.Shards.manifest(spark, dir, "doc_id")
      .orderBy("shard").collect()
    assert(m.map(_.getAs[Long]("n_rows")).sum == docs.count())
    assert(m.forall(_.getAs[Long]("n_files") == 1L))
    assert(m.forall(_.getAs[Long]("bytes") > 0L))
    // the hash is a pure function of ordered membership: identical re-write
    // -> identical manifest
    val dir2 = Files.createTempDirectory("shards_m2").toString
    graft.operators.Shards.write(docs, "doc_id", dir2, n = 4, orderCols = Seq("source"))
    val m2 = graft.operators.Shards.manifest(spark, dir2, "doc_id")
      .orderBy("shard").collect()
    assert(m.map(_.getAs[Long]("content_hash")).toSeq ==
      m2.map(_.getAs[Long]("content_hash")).toSeq)
    // and it detects a different ordering: re-shard ordered by doc_id only
    val dir3 = Files.createTempDirectory("shards_m3").toString
    graft.operators.Shards.write(docs, "doc_id", dir3, n = 4)
    val m3 = graft.operators.Shards.manifest(spark, dir3, "doc_id")
      .orderBy("shard").collect()
    assert(m.map(_.getAs[Long]("content_hash")).toSeq !=
      m3.map(_.getAs[Long]("content_hash")).toSeq)
  }

  test("denseGlobalId: dense 0-based global rank, deterministic, partition-count-proof") {
    val d = (1L to 5000L).map(i => (i, s"s${i % 7}")).toDF("id", "src")
    val out = graft.operators.GlobalIds
      .denseGlobalId(d, Seq(col("src"), col("id")))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id")) -> r.getAs[Long]("global_id"))
      .toMap
    // equals the single-partition definition: rank by (src, id)
    val expected = (1L to 5000L).map(i => (s"s${i % 7}", i)).sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(out == expected)
    // dense: every id in [0, n) exactly once
    assert(out.values.toSeq.sorted == (0L until 5000L))
    // deterministic across runs and input partitionings
    val out2 = graft.operators.GlobalIds
      .denseGlobalId(d.repartition(17), Seq(col("src"), col("id")))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id")) -> r.getAs[Long]("global_id"))
      .toMap
    assert(out2 == out)
  }

  test("denseGlobalId: explicit boundaries spread work and pin NO cache") {
    val d = (1L to 5000L).map(i => (i, s"s${i % 7}")).toDF("id", "src")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.GlobalIds
      .denseGlobalId(d, Seq(col("src"), col("id")),
        numPartitions = 8, sampleFraction = 0.05)
    val ranks = out.collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id")) -> r.getAs[Long]("global_id"))
      .toMap
    // the round-4 design pinned a corpus-sized frame; boundaries must not
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "denseGlobalId must not leave anything pinned in the cache")
    val expected = (1L to 5000L).map(i => (s"s${i % 7}", i)).sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(ranks == expected)
    // the boundary machinery splits for real: evenly spaced distinct keys
    val sample = (0 until 100).map(i => Seq[Any](f"k$i%03d")).toArray
    val bs = graft.operators.GlobalIds.pickBoundaries(sample, 4)
    assert(bs.length == 3 && bs == bs.sortBy(_.head.toString))
    // and the pid tree reproduces |{b : key > b}| for every sampled key
    val pidDf = sample.map(_.head.toString).toSeq.toDF("k")
    val pids = pidDf
      .withColumn("p", graft.operators.GlobalIds.pidTree(Seq(col("k")), bs, 0, bs.length))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    sample.map(_.head.toString).foreach { k =>
      assert(pids(k) == bs.count(b => k > b.head.toString), s"pid of $k")
    }
    // null order keys sort first and stay dense
    val withNulls = (Seq((0L, null.asInstanceOf[String])) ++
      (1L to 50L).map(i => (i, s"s${i % 3}"))).toDF("id", "src")
    val nOut = graft.operators.GlobalIds
      .denseGlobalId(withNulls, Seq(col("src"), col("id")))
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("global_id"))
      .toMap
    assert(nOut(0L) == 0L) // the null src row is the global minimum
    assert(nOut.values.toSeq.sorted == (0L to 50L))
    // empty input: no boundaries, no rows, no crash
    val empty = Seq.empty[(Long, String)].toDF("id", "src")
    assert(graft.operators.GlobalIds
      .denseGlobalId(empty, Seq(col("src"), col("id"))).count() == 0)
  }

  test("denseGlobalId: string boundaries sort in the ENGINE's UTF-8 byte order") {
    import java.nio.charset.StandardCharsets.UTF_8
    // supplementary-plane chars (U+1F600, UTF-8 F0..) sort AFTER private-use
    // BMP chars (U+E000, UTF-8 EE..) in the engine's binary order, but
    // BEFORE them in Java's UTF-16 code-unit order — a driver-side Java
    // sort of these boundary keys breaks the pid binary search silently
    val keys = Seq("apple", "zebra", "private", "😀emoji",
      "beta", "x", "😁y", "mango")
    val byUtf8 = keys.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
    assert(keys.sorted != byUtf8,
      "fixture must actually distinguish Java order from engine order")
    val d = keys.map(Tuple1(_)).toDF("k")
    // sampleFraction=1: every key is a boundary candidate, so the tricky
    // keys land in the boundary list
    val out = graft.operators.GlobalIds
      .denseGlobalId(d, Seq(col("k")), numPartitions = 4, sampleFraction = 1.0)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("global_id")).toMap
    byUtf8.zipWithIndex.foreach { case (k, i) =>
      assert(out(k) == i.toLong,
        s"rank of $k: got ${out(k)}, engine order expects $i")
    }
  }

  test("in-plan corpus stats match the pre-computed-scalar variants bit-for-bit") {
    // N = 12 tokens over 4 docs -> avgdl = 3.0 exactly; every pair below
    // must agree on raw doubles (Row equality is bitwise on doubles)
    val d = Seq(
      (1L, "a b b c"), (2L, "b c d"), (3L, "c c e a"), (4L, "f")
    ).toDF("doc_id", "text")
    assert(
      TfIdf.topTerms(d, "doc_id", col("text"), k = 2).collect().toSet ==
        TfIdf.topTerms(d, "doc_id", col("text"), k = 2, nDocs = 4L).collect().toSet)
    assert(
      graft.text.LmScore.surprisal(d, "doc_id", col("text")).collect().toSet ==
        graft.text.LmScore.surprisal(d, "doc_id", col("text"), nTokens = 12L)
          .collect().toSet)
    assert(
      graft.text.LmScore.bigramSurprisal(d, "doc_id", col("text"), 0.7)
        .collect().toSet ==
        graft.text.LmScore.bigramSurprisalWithN(d, "doc_id", col("text"), 12L, 0.7)
          .collect().toSet)
    assert(
      graft.text.Bm25.score(d, "doc_id", col("text"), Seq("b", "e")).collect().toSet ==
        graft.text.Bm25.score(d, "doc_id", col("text"), Seq("b", "e"),
          nDocs = 4L, avgDl = 3.0, k1 = 1.2, b = 0.75).collect().toSet)
    val q = Seq((1, "b"), (2, "e")).toDF("query_id", "term")
    assert(
      graft.text.Bm25.retrieveTopK(d, "doc_id", col("text"), q, topK = 2)
        .collect().toSet ==
        graft.text.Bm25.retrieveTopK(d, "doc_id", col("text"), q,
          nDocs = 4L, avgDl = 3.0, topK = 2, k1 = 1.2, b = 0.75).collect().toSet)
    val a = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("id", "b")
    val bb = Seq((4L, 0), (5L, 2)).toDF("id", "b")
    assert(
      graft.validate.Drift.psiByBucket(a, bb, col("b"), 3).collect().toSet ==
        graft.validate.Drift.psiByBucket(a, bb, col("b"), 3L, 2L, 3).collect().toSet)
  }
}
