package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.queries.Registry.Q
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Driver-contract queries for the training-data-pipeline extensions
  * (dedup, similarity search, text analysis, multimodal) over the
  * `documents` / `embeddings` tables.
  *
  * Oracle strategy: DuckDB's list lambdas (`list_transform`, `list_filter`,
  * `list_reduce`, `list_min`) reproduce Spark's higher-order functions with
  * identical left-fold order, so even MinHash signatures, rolling hashes,
  * cosine similarities, the murmur3-lane SimHash and the stub media-decode
  * features are oracle-checked bit-for-bit (doubles/float32/longs) or at
  * fixed decimal precision (trig/ratio outputs). Only the k-means IVF index
  * ships without an oracle (iterative/centroid-seeded; recall asserted in
  * IvfCorpusSpec instead).
  */
object ExtensionQueries {

  import Parity.{duckRound, roundHalfUp}

  /** DuckDB twin of [[TextAnalysis.tokens]]. */
  private[queries] val duckTokens =
    "case when trim(text) = '' then cast([] as varchar[]) else string_split_regex(trim(text), '\\s+') end"

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** Separator for the BPE oracle's symbol-list string encoding — a char
    * that must not occur in the corpus (U+241F, "symbol for unit sep").
    */
  private val BpeSep = "␟"

  /** DuckDB twin of [[graft.text.Bpe]]: the bundled merge table unrolled
    * into a replace() chain over `'<sep>c1<sep><sep>c2<sep>...'` — one
    * replace per merge, rank order (== greedy for a well-formed table).
    */
  private lazy val duckBpeChain: String =
    graft.text.Bpe.merges.foldLeft(
      s"'$BpeSep' || array_to_string(string_split(w, ''), '$BpeSep$BpeSep') || '$BpeSep'"
    ) { case (acc, (a, b)) =>
      s"replace($acc, '$BpeSep$a$BpeSep$BpeSep$b$BpeSep', '$BpeSep$a$b$BpeSep')"
    }

  private def sqLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The ACTIVE BPE vocabulary as a DuckDB map literal (token -> id), so
    * the id oracle replays the exact table the Spark expression uses.
    */
  private lazy val duckVocabMap: String = {
    val toks = graft.text.Bpe.vocab.tokens
    s"map([${toks.map(sqLit).mkString(",")}], [${toks.indices.mkString(",")}])"
  }

    // Bands for ALL docs once (per-doc deterministic, so splitting after
    // banding equals banding each split); batch x corpus band join, then
    // the q_ngram_jaccard distinct-md5-shingle verification; best match
    // per batch doc by (jaccard desc, corpus id). is_dup compares the
    // RAW jaccard on both engines (identical rationals), not the rounded
    // display value. SHARED by q_dedup_incremental (inline path) and
    // q_dedup_indexed (stored-index path): the persistence layer must be
    // value-invisible.
    private lazy val duckIncrementalDedupSql: String = duckMinhashCte + """,
        e as (
          select doc_id, band, hash from bands
          unpivot (hash for band in (band_0, band_1, band_2, band_3))
        ),
        cand as (
          select distinct b.doc_id as bid, c.doc_id as cid
          from e b join e c on b.band = c.band and b.hash = c.hash
          where b.doc_id % 10 = 0 and c.doc_id % 10 <> 0
        ),
        sh as (
          select doc_id, list_distinct(list_transform(
            list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
            x -> md5(x))) as sh
          from t
        ),
        jc as (
          select bid, cid,
            case when len(list_distinct(sb.sh || sc.sh)) > 0
                 then cast(len(list_intersect(sb.sh, sc.sh)) as double) /
                      cast(len(list_distinct(sb.sh || sc.sh)) as double)
                 else 0.0 end as j
          from cand
          join sh sb on sb.doc_id = bid
          join sh sc on sc.doc_id = cid
        ),
        best as (
          select bid, cid, j from (
            select bid, cid, j,
              row_number() over (partition by bid order by j desc, cid) as rn
            from jc
          ) where rn = 1
        )
        select d.doc_id, best.cid as dup_of,
          cast(""" + duckRound("j", 4) + """ as decimal(10,4)) as jaccard,
          cast(case when j >= 0.7 then 1 else 0 end as int) as is_dup
        from documents d left join best on best.bid = d.doc_id
        where d.doc_id % 10 = 0
        order by d.doc_id"""


    /** Shared twin of q_pca_cov AND q_pca_serving - merged per-batch
    * moment sketches must equal the one-shot pass bit-for-bit.
    */
  private lazy val duckPcaCovSql: String = """
        with r as (
          select embedding as v from embeddings
          where embedding is not null and len(embedding) = 64
        ),
        means as (
          select t.i as pos,
            sum(cast(floor(cast(v[t.i + 1] as double) * 1073741824.0) as bigint)) as s,
            count(*) as n_rows
          from r, (select unnest(range(0, 64)) as i) t
          group by t.i
        ),
        tri as (
          select cast(64 + p.i * 64 - (p.i * (p.i - 1)) / 2 + (p.j - p.i) as int) as pos,
            sum(cast(floor(cast(v[p.i + 1] as double) * cast(v[p.j + 1] as double)
                           * 1073741824.0) as bigint)) as s,
            count(*) as n_rows
          from r, (select a.i, b.j
                   from (select unnest(range(0, 64)) as i) a,
                        (select unnest(range(0, 64)) as j) b
                   where b.j >= a.i) p
          group by 1
        )
        select cast(pos as int) as pos, cast(s as bigint) as s, n_rows
        from (select * from means union all select * from tri)
        order by pos"""

  /** Shared twin of q_decontam_pairs AND q_ssjoin_indexed - the stored
    * prefix index must be value-invisible.
    */
  private lazy val duckDecontamPairsSql: String = duckDecontamPairsSqlOver("")

  /** The same chain with the CORPUS (right) side additionally filtered —
    * `q_erasure_exact` passes the retained-documents predicate so the
    * twin replays the join against a rebuild from the retained corpus.
    * The output is order-invariant (SetSimJoin.writeIndex scaladoc:
    * prefix filtering is exact under ANY shared token order, and
    * inter/union/jaccard are set-size arithmetic), so the frozen-order
    * erased index must hash-equal this re-ordered replay.
    */
  private def duckDecontamPairsSqlOver(rightExtra: String): String = s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        sh as (
          select doc_id, list_distinct(list_transform(
            list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
            x -> md5(x))) as sh
          from t
        ),
        exl as (select doc_id as id, unnest(sh) as tok from sh where doc_id % 10 = 0),
        exr as (select doc_id as id, unnest(sh) as tok from sh
                where doc_id % 10 <> 0 $rightExtra),
        dfreq as (select tok, count(*) as df
                  from (select * from exl union all select * from exr)
                  group by tok),
        setsl as (select id, list_sort(list(lpad(cast(df as varchar), 10, '0') || tok)) as keys,
                    cast(count(*) as int) as sz
                  from exl join dfreq using (tok) group by id),
        setsr as (select id, list_sort(list(lpad(cast(df as varchar), 10, '0') || tok)) as keys,
                    cast(count(*) as int) as sz
                  from exr join dfreq using (tok) group by id),
        prefl as (select id, sz,
                    unnest(list_slice(keys, 1, cast(sz - ((2*sz + 4) // 5) + 1 as int))) as key
                  from setsl),
        prefr as (select id, sz,
                    unnest(list_slice(keys, 1, cast(sz - ((2*sz + 4) // 5) + 1 as int))) as key
                  from setsr),
        cand as (select distinct a.id as id_l, b.id as id_r
                 from prefl a join prefr b
                   on a.key = b.key
                  and a.sz*5 >= b.sz*2 and b.sz*5 >= a.sz*2),
        v as (select id_l, id_r,
                cast(len(list_intersect(sa.keys, sb.keys)) as int) as inter,
                cast(sa.sz + sb.sz - len(list_intersect(sa.keys, sb.keys)) as int) as union_sz
              from cand join setsl sa on sa.id = cand.id_l
                        join setsr sb on sb.id = cand.id_r)
        select id_l, id_r, inter, union_sz,
          cast(${duckRound("cast(inter as double) / cast(union_sz as double)", 4)} as decimal(10,4)) as jaccard
        from v
        where inter*5 >= union_sz*2
        order by id_l, id_r"""

  private def emb(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  /** Shared CTE computing 16-hash MinHash signatures + 4 band hashes
    * (3-word shingles) in DuckDB.
    */
  /** Body of the MinHash twin CTE chain over an arbitrary relation (no
    * leading `with`), so composed pipelines (q_curate_e2e) replay the
    * SAME signature arithmetic over an intermediate stage instead of a
    * drifting copy.
    *
    * One-hash MinHash family (Dedup.minhashBase/minhashHash): a single
    * 32-bit md5-prefix base hash per shingle, signature element i =
    * (a_i * h0 + b_i) mod 2^32 with the coefficients shared from
    * Dedup.minhashCoeffs — bigint-safe in both engines.
    */
  private def duckMinhashBodyOver(rel: String): String = {
    val mins = (0 until 16)
      .map { h =>
        val (a, b) = graft.dedup.Dedup.minhashCoeff(h)
        s"list_min(list_transform(h0s, x -> ($a * x + $b) % 4294967296))"
      }
      .mkString(", ")
    val bandExprs = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"m[${b * 4 + r + 1}]").mkString(", ")
      s"md5(concat_ws('|', $parts)) as band_$b"
    }.mkString(", ")
    s"""
    t as (select doc_id, text, $duckTokens as toks from $rel),
    shingled as (
      select doc_id,
        list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')) as sh
      from t
    ),
    based as (
      select doc_id,
        list_transform(sh, x -> cast('0x' || substr(md5(x), 1, 8) as bigint)) as h0s
      from shingled
    ),
    sigs as (select doc_id, [$mins] as m from based),
    bands as (select doc_id, $bandExprs from sigs)
    """
  }

  private val duckMinhashCte: String =
    "\n    with " + duckMinhashBodyOver("documents").trim + "\n    "


  /** DuckDB twin of [[graft.dedup.SimHash64]]: Spark's Murmur3_x86_32
    * (two lanes, seeds 0x9747b28c / 0x85ebca6b) re-expressed as pure SQL —
    * UTF-8 bytes via `hex(encode(tok))`, 4-byte little-endian words +
    * sign-extended tail bytes, the murmur mix as an inlined `list_reduce`
    * lambda over mod-2^32 HUGEINT arithmetic, finalization (fmix) staged in
    * CTEs, and the 64 per-bit majority counters as grouped aggregates.
    * Validated bit-for-bit against the Spark output on sf0.001.
    */
  private val duckSimhashCte: String = {
    val S1 = 0x9747b28cL
    val S2 = 0x85ebca6bL
    def mixk1(w: String): String = {
      val a = s"((($w)::hugeint * 3432918353) % 4294967296)"
      val rot = s"((($a * 32768) % 4294967296) + ($a // 131072))"
      s"((($rot) * 461845907) % 4294967296)"
    }
    def mixh1(h: String, k: String): String = {
      val x = s"xor(($h)::bigint, ($k)::bigint)"
      val rot = s"(((($x)::hugeint * 8192) % 4294967296) + (($x) // 524288))"
      s"(((($rot) * 5 + 3864292196) % 4294967296)::bigint)"
    }
    val lambda = mixh1("h", mixk1("w"))
    def fmix(h: String): String = {
      val s1 = s"xor(($h)::bigint, (($h) // 65536)::bigint)"
      val s2 = s"(((($s1)::hugeint * 2246822507) % 4294967296)::bigint)"
      val s3 = s"xor($s2, ($s2 // 8192))"
      val s4 = s"(((($s3)::hugeint * 3266489909) % 4294967296)::bigint)"
      s"xor($s4, ($s4 // 65536))"
    }
    val bitSums = (0 until 64).map { j =>
      val p = 1L << j
      val pu = java.lang.Long.toUnsignedString(p)
      s"(case when sum(case when (h // ${pu}::hugeint) % 2 = 1 then 1 else -1 end) > 0 then ${pu}::hugeint else 0::hugeint end)"
    }.mkString(" + ")
    s"""
    with toks as (
      select doc_id, unnest($duckTokens) as tok from documents
    ),
    b as (
      select doc_id, tok, hex(encode(tok)) as hx, octet_length(encode(tok)) as n from toks
    ),
    bytes as (
      select doc_id, n,
        list_transform(range(1, n + 1), i -> cast('0x' || substr(hx, (2*i-1)::int, 2) as bigint)) as bs
      from b
    ),
    words as (
      select doc_id, n,
        list_transform(range(1, n // 4 + 1), i ->
          bs[(4*i-3)::int] + 256*bs[(4*i-2)::int] + 65536*bs[(4*i-1)::int] + 16777216*bs[(4*i)::int])
        || list_transform(range(n - n % 4 + 1, n + 1), i ->
          case when bs[i::int] >= 128 then 4294967296 - 256 + bs[i::int] else bs[i::int] end) as ws
      from bytes
    ),
    folded as (
      select doc_id, n,
        xor(list_reduce(list_prepend($S1::bigint, ws), (h, w) -> $lambda), n::bigint) as flo,
        xor(list_reduce(list_prepend($S2::bigint, ws), (h, w) -> $lambda), n::bigint) as fhi
      from words
    ),
    hashes as (
      select doc_id,
        (${fmix("fhi")})::hugeint * 4294967296 + (${fmix("flo")})::hugeint as h
      from folded
    ),
    sig as (
      select doc_id, $bitSums as u from hashes group by doc_id
    ),
    sig64 as (
      select d.doc_id,
        coalesce(s.u, 0::hugeint) as u,
        coalesce(case when s.u >= 9223372036854775808::hugeint
                      then (s.u - 18446744073709551616::hugeint)::bigint
                      else s.u::bigint end, 0) as simhash
      from documents d
      left join sig s using (doc_id)
    )"""
  }

  private val duckSimhashSql: String =
    duckSimhashCte + """
    select doc_id, simhash, cast(bit_count(simhash) as int) as popcount
    from sig64 order by doc_id"""

  /** Pairs twin of [[duckSimhashCte]]: 16-bit quarter blocking + full
    * Hamming verify (bit_count of two's-complement xor — same as Spark).
    */
  private val duckSimhashPairsSql: String =
    duckSimhashCte + """,
    blocks as (
      select doc_id, simhash, b.q, ((u // (1::hugeint << (16 * b.q))) % 65536)::bigint as key
      from sig64, (values (0), (1), (2), (3)) b(q)
    ),
    cand as (
      select distinct l.doc_id as id_a, r.doc_id as id_b,
        cast(bit_count(xor(l.simhash, r.simhash)) as int) as hamming
      from blocks l join blocks r
        on l.q = r.q and l.key = r.key and l.doc_id < r.doc_id
    )
    select id_a, id_b, hamming from cand
    where hamming <= 3
    order by id_a, id_b"""

  // ---- text analysis -----------------------------------------------------

  val textQueries: ListMap[String, Q] = ListMap(
    "q_text_stats" -> Q(
      (s, dir) =>
        docs(s, dir)
          .withColumn("_st", TextAnalysis.textStats(col("text")))
          .select(
            col("doc_id"),
            col("n_chars"),
            length(col("text")).as("text_len"),
            TextAnalysis.tokenCountOfStats(col("_st")).as("n_tokens"),
            TextAnalysis.bpeTokenCountOfStats(col("_st")).cast("int").as("n_bpe_tokens"),
            TextAnalysis.stopwordCountEnOfStats(col("_st")).as("n_stopwords_en")
          )
          .orderBy("doc_id"),
      Some(s"""
        with t as (select doc_id, n_chars, text, $duckTokens as toks from documents)
        select doc_id, n_chars,
          cast(length(text) as int) as text_len,
          cast(len(toks) as int) as n_tokens,
          cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as int) as n_bpe_tokens,
          cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as int) as n_stopwords_en
        from t order by doc_id""")
    ),
    "q_text_quality" -> Q(
      (s, dir) =>
        docs(s, dir)
          .withColumn("_st", TextAnalysis.textStats(col("text")))
          .select(
            col("doc_id"),
            roundHalfUp(TextAnalysis.meanTokenLengthOfStats(col("_st")), 4)
              .cast("decimal(10,4)").as("mean_token_len"),
            roundHalfUp(TextAnalysis.punctRatioOfStats(col("_st")), 4)
              .cast("decimal(10,4)").as("punct_ratio"),
            roundHalfUp(TextAnalysis.qualityScoreOfStats(col("_st")), 4)
              .cast("decimal(10,4)").as("quality_score")
          )
          .orderBy("doc_id"),
      Some(s"""
        with t as (select doc_id, text, $duckTokens as toks from documents),
        m as (
          select doc_id, text, toks,
            cast(len(toks) as double) as n,
            case when len(toks) > 0
                 then cast(list_sum(list_transform(toks, x -> length(x))) as double) / cast(len(toks) as double)
                 else 0.0 end as mtl,
            case when length(text) > 0
                 then cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) as double) / cast(length(text) as double)
                 else 0.0 end as punct,
            cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as double) as sw
          from t
        )
        select doc_id,
          cast(${duckRound("mtl", 4)} as decimal(10,4)) as mean_token_len,
          cast(${duckRound("punct", 4)} as decimal(10,4)) as punct_ratio,
          cast(${duckRound(
            "least(n / 64.0, 1.0) * 0.3 + " +
              "least(sw / greatest(n, 1.0) * 8.0, 1.0) * 0.3 + " +
              "greatest(1.0 - punct * 4.0, 0.0) * 0.2 + " +
              "(case when mtl between 3.0 and 9.0 then cast(1.0 as double) else cast(0.5 as double) end) * 0.2",
            4
          )} as decimal(10,4)) as quality_score
        from m order by doc_id""")
    ),
    "q_lang_id" -> Q(
      (s, dir) =>
        docs(s, dir)
          .withColumn("_st", TextAnalysis.textStats(col("text")))
          .select(
            col("doc_id"),
            col("lang"),
            TextAnalysis.langIdOfStats(col("_st")).as("lang_guess")
          )
          .orderBy("doc_id"),
      Some(s"""
        with t as (select doc_id, lang, text, $duckTokens as toks from documents),
        h as (
          select doc_id, lang, text,
            len(list_filter(toks, x -> lower(x) in ('the','a','of','and','to','in','is','that'))) as en,
            len(list_filter(toks, x -> lower(x) in ('le','la','de','et','les','des','un','une'))) as fr,
            len(list_filter(toks, x -> lower(x) in ('der','die','das','und','ist','von','ein','mit'))) as de,
            len(list_filter(toks, x -> lower(x) in ('el','la','de','y','los','que','un','en'))) as es
          from t
        )
        select doc_id, lang,
          case when regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') then 'zh'
               when greatest(en, fr, de, es) = 0 then 'unknown'
               when en = greatest(en, fr, de, es) then 'en'
               when fr = greatest(en, fr, de, es) then 'fr'
               when de = greatest(en, fr, de, es) then 'de'
               else 'es' end as lang_guess
        from h order by doc_id""")
    ),
    "q_text_repetition" -> Q(
      (s, dir) =>
        docs(s, dir)
          .withColumn("_st", TextAnalysis.textStats(col("text")))
          .select(
            col("doc_id"),
            roundHalfUp(TextAnalysis.repetitionRatioOfStats(col("_st")), 4)
              .cast("decimal(10,4)").as("repetition_ratio")
          )
          .orderBy("doc_id"),
      Some(s"""
        with t as (select doc_id, text, $duckTokens as toks from documents),
        shingled as (
          select doc_id,
            list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2), ' ')) as sh
          from t
        )
        select doc_id,
          cast(${duckRound(
            "case when len(sh) > 0 " +
              "then cast(len(sh) - len(list_distinct(sh)) as double) / cast(len(sh) as double) " +
              "else 0.0 end",
            4
          )} as decimal(10,4)) as repetition_ratio
        from shingled order by doc_id""")
    ),
    "q_redact_pii" -> Q(
      (s, dir) => {
        val txt = concat(
          lit("contact: "),
          coalesce(col("contact_email"), lit("-")),
          lit(" tel: "),
          coalesce(col("contact_phone"), lit("-"))
        )
        Tables
          .services(s, dir)
          .select(
            col("service_id"),
            txt.as("raw_text"),
            TextAnalysis.redactPii(txt).as("redacted")
          )
          .orderBy("service_id")
      },
      Some(s"""
        with services as (${ServicesSynth.sql}),
        t as (
          select service_id,
            'contact: ' || coalesce(contact_email, '-') || ' tel: ' || coalesce(contact_phone, '-') as raw_text
          from services
        )
        select service_id, raw_text,
          regexp_replace(
            regexp_replace(raw_text, '${TextAnalysis.RedactEmailPattern}', '[EMAIL]', 'g'),
            '${TextAnalysis.RedactPhonePattern}', '[PHONE]', 'g') as redacted
        from t order by service_id""")
    ),
    "q_dedup_clusters" -> Q(
      (s, dir) =>
        Dedup
          .connectedComponents(
            Dedup.minhashCandidatePairs(docs(s, dir), "doc_id", "text",
              maxBucket = Some(64)))
          .orderBy("id"),
      Some(
        // Same pair generation (incl. the 64-cap via QUALIFY), then the
        // min-reachable-id label via a recursive transitive closure.
        duckMinhashCte.replaceFirst("with ", "with recursive ") + """,
        e as (
          select doc_id, band, hash from bands
          unpivot (hash for band in (band_0, band_1, band_2, band_3))
          qualify row_number() over (partition by band, hash order by doc_id) <= 64
        ),
        pairs as (
          select distinct l.doc_id as a, r.doc_id as b
          from e l join e r on l.band = r.band and l.hash = r.hash and l.doc_id < r.doc_id
        ),
        edges as (
          select a as src, b as dst from pairs
          union
          select b, a from pairs
        ),
        reach(src, dst) as (
          select src, dst from edges
          union
          select r.src, e.dst from reach r join edges e on r.dst = e.src
        )
        select src as id, least(src, min(dst)) as label
        from reach group by src order by id""")
    ),
    "q_dedup_best" -> Q(
      (s, dir) =>
        Dedup
          .clusterRepresentatives(
            docs(s, dir),
            Dedup.minhashCandidatePairs(docs(s, dir), "doc_id", "text",
              maxBucket = Some(64)))
          .select(
            col("label"),
            col("rep_id"),
            col("n_members"),
            col("rep_quality").cast("decimal(10,6)").as("rep_quality")
          )
          .orderBy("label"),
      Some(
        // Same closure as q_dedup_clusters, then the per-cluster argmax on
        // the floor-rounded quality score (rounding makes the rank
        // engine-stable; the rounded value is also the compared output, so
        // the decimal cast has nothing left to round).
        duckMinhashCte.replaceFirst("with ", "with recursive ") + s""",
        e as (
          select doc_id, band, hash from bands
          unpivot (hash for band in (band_0, band_1, band_2, band_3))
          qualify row_number() over (partition by band, hash order by doc_id) <= 64
        ),
        p2 as (
          select distinct l.doc_id as a, r.doc_id as b
          from e l join e r on l.band = r.band and l.hash = r.hash and l.doc_id < r.doc_id
        ),
        edges as (
          select a as src, b as dst from p2
          union
          select b, a from p2
        ),
        reach(src, dst) as (
          select src, dst from edges
          union
          select r.src, e.dst from reach r join edges e on r.dst = e.src
        ),
        labels as (
          select src as id, least(src, min(dst)) as label
          from reach group by src
        ),
        qm as (
          select doc_id as id,
            cast(len(toks) as double) as n,
            case when len(toks) > 0
                 then cast(list_sum(list_transform(toks, x -> length(x))) as double) / cast(len(toks) as double)
                 else 0.0 end as mtl,
            case when length(text) > 0
                 then cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) as double) / cast(length(text) as double)
                 else 0.0 end as punct,
            cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as double) as sw
          from t
        ),
        qual as (
          select id, ${duckRound(
            "least(n / 64.0, 1.0) * 0.3 + " +
              "least(sw / greatest(n, 1.0) * 8.0, 1.0) * 0.3 + " +
              "greatest(1.0 - punct * 4.0, 0.0) * 0.2 + " +
              "(case when mtl between 3.0 and 9.0 then cast(1.0 as double) else cast(0.5 as double) end) * 0.2",
            6)} as q6
          from qm
        ),
        ranked as (
          select l.label, l.id, q.q6,
            row_number() over (partition by l.label order by q.q6 desc, l.id) as rn,
            count(*) over (partition by l.label) as n_members
          from labels l join qual q using (id)
        )
        select label, id as rep_id, n_members,
          cast(q6 as decimal(10,6)) as rep_quality
        from ranked where rn = 1
        order by label""")
    ),
    "q_fingerprint" -> Q(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
            TextAnalysis.rollingFingerprint(col("text")).as("fp_rolling")
          )
          .orderBy("doc_id"),
      Some(s"""
        with t as (select doc_id, text, $duckTokens as toks from documents)
        select doc_id,
          md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) as fp_md5,
          case when len(toks) = 0 then null
               when len(toks) = 1 then toks[1]
               else list_reduce(toks, (x, y) -> md5(x || y)) end as fp_rolling
        from t order by doc_id""")
    )
  )

  // ---- dedup -------------------------------------------------------------

  val dedupQueries: ListMap[String, Q] = ListMap(
    "q_dedup_exact" -> Q(
      (s, dir) =>
        Dedup
          .exactDedup(docs(s, dir), "doc_id", "text")
          .orderBy("text_hash"),
      Some("""
        select md5(text) as text_hash, min(doc_id) as keep_id, count(*) as n_copies
        from documents group by md5(text) order by text_hash""")
    ),
    "q_dedup_minhash_bands" -> Q(
      (s, dir) =>
        Dedup
          .minhashBands(docs(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some(duckMinhashCte + "select * from bands order by doc_id")
    ),
    "q_dedup_minhash_pairs" -> Q(
      (s, dir) =>
        Dedup
          .minhashCandidatePairs(docs(s, dir), "doc_id", "text")
          .orderBy("id_a", "id_b"),
      Some(duckMinhashCte + """,
        e as (
          select doc_id, band, hash from bands
          unpivot (hash for band in (band_0, band_1, band_2, band_3))
        )
        select distinct l.doc_id as id_a, r.doc_id as id_b
        from e l join e r on l.band = r.band and l.hash = r.hash and l.doc_id < r.doc_id
        order by id_a, id_b""")
    ),
    "q_dedup_incremental" -> Q(
      (s, dir) => {
        // daily-ingest shape: every 10th doc is the NEW batch, the rest
        // the EXISTING corpus index
        val d = docs(s, dir)
        Dedup
          .dedupAgainstCorpus(
            d.filter(col("doc_id") % 10 =!= 0),
            d.filter(col("doc_id") % 10 === 0),
            "doc_id", "text")
          .select(
            col("doc_id"),
            col("dup_of"),
            roundHalfUp(col("jaccard"), 4).cast("decimal(10,4)").as("jaccard"),
            col("is_dup").cast("int").as("is_dup"))
          .orderBy("doc_id")
      },
      Some(duckIncrementalDedupSql)
    ),
    "q_dedup_indexed" -> Q(
      (s, dir) => {
        // the STORED-index production path under the same oracle: build +
        // WRITE the corpus band index, LOAD it back from parquet, and
        // dedup the batch against the loaded index — the persistence
        // layer (partitioned bands, stored shingle sets, parameter meta)
        // must be value-invisible vs the inline q_dedup_incremental path.
        // Like q_shards_readback, the write IS part of the operator under
        // test; the build jobs are bounded (PlanGuardSpec exemption).
        val d = docs(s, dir)
        val out = s"${sys.props("java.io.tmpdir")}/graft_band_idx_${math.abs(dir.hashCode)}"
        Dedup.writeBandIndex(
          Dedup.buildBandIndex(d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
          out)
        val idx = Dedup.loadBandIndex(s, out)
        Dedup
          .dedupAgainstCorpus(idx, d.filter(col("doc_id") % 10 === 0), "text")
          .select(
            col("doc_id"),
            col("dup_of"),
            roundHalfUp(col("jaccard"), 4).cast("decimal(10,4)").as("jaccard"),
            col("is_dup").cast("int").as("is_dup"))
          .orderBy("doc_id")
      },
      Some(duckIncrementalDedupSql)
    ),
    "q_text_normalize" -> Q(
      (s, dir) => {
        // the corpus is ASCII, so the decomposed suffix IS the NFC test:
        // "cafe" + combining acute (U+0301) + doubled spaces + a
        // zero-width space (U+200B) -- NFC must COMPOSE the e+accent
        val decorated = concat(col("text"), lit("  cafe\u0301  \u200Bend"))
        docs(s, dir)
          .select(
            col("doc_id"),
            graft.text.TextNormalize.clean(decorated).as("norm_text"),
            length(graft.text.TextNormalize.nfc(decorated)).cast("int")
              .as("n_chars_nfc"))
          .orderBy("doc_id")
      },
      // DuckDB builds the same decomposed suffix from codepoints and
      // replays NFC (nfc_normalize), the zero-width strip, and the
      // whitespace collapse; both engines implement Unicode canonical
      // composition, so 'e'+U+0301 composes to the same single char
      Some("""
        with d as (
          select doc_id,
            text || '  ' || 'caf' || 'e' || chr(769) || '  ' || chr(8203) || 'end' as t
          from documents
        ),
        n as (select doc_id, nfc_normalize(t) as nt from d)
        select doc_id,
          trim(regexp_replace(
            regexp_replace(nt, '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
            '\s+', ' ', 'g')) as norm_text,
          cast(length(nt) as int) as n_chars_nfc
        from n order by doc_id""")
    ),
    "q_global_ids" -> Q(
      (s, dir) =>
        graft.operators.GlobalIds
          .denseGlobalId(
            docs(s, dir).select(col("doc_id"), col("source")),
            Seq(col("source"), col("doc_id")))
          .select(col("doc_id"), col("source"), col("global_id"))
          .orderBy("doc_id"),
      // dense 0-based global rank by (source, doc_id) — the two-phase
      // distributed numbering must equal the oracle's single row_number
      Some("""
        select doc_id, source,
          cast(row_number() over (order by source, doc_id) - 1 as bigint)
            as global_id
        from documents
        order by doc_id""")
    ),
    "q_zorder" -> Q(
      (s, dir) => {
        // Morton z-values over (user bucket, day-of-month) — the pure
        // shift/or interleave that ZOrder.cluster range-partitions on;
        // the layout effect itself (narrow per-file ranges on BOTH
        // coords) is pinned in LayoutSpec, the arithmetic here
        val cu = pmod(col("user_id"), lit(256))
        val cd = dayofmonth(col("ts")) - lit(1)
        Tables.events(s, dir)
          .select(
            col("event_id"),
            cu.cast("int").as("u_bucket"),
            cd.cast("int").as("d_bucket"),
            graft.operators.ZOrder.zValue(Seq(cu, cd), bits = 8).as("z"))
          .orderBy("event_id")
      },
      // exact integer replay: coord 0's bit j lands at output bit 2j,
      // coord 1's at 2j+1 (both coords already in [0, 2^8))
      Some {
        val zExpr = (0 until 8).flatMap { j =>
          Seq(
            s"(((ub >> $j) & 1) << ${2 * j})",
            s"(((db >> $j) & 1) << ${2 * j + 1})")
        }.mkString(" | ")
        s"""
        with c as (
          select event_id,
            cast(user_id % 256 as bigint) as ub,
            cast(datepart('day', ts) - 1 as bigint) as db
          from events
        )
        select event_id,
          cast(ub as int) as u_bucket,
          cast(db as int) as d_bucket,
          cast($zExpr as bigint) as z
        from c order by event_id"""
      }
    ),
    "q_pruned_scan" -> Q(
      (s, dir) => {
        import graft.operators.{ColRange, DataSkipping, ZOrder}
        // the layout + manifest + pruned read ARE the operators under
        // test (the q_shards_readback pattern): z-order-cluster the
        // events into 8 files, stat them into a manifest, then answer a
        // 2-D box query opening ONLY overlapping files. The twin replays
        // the box on the raw table — skipping must be invisible to
        // results. Build jobs are bounded (PlanGuardSpec exemption).
        val out = s"${sys.props("java.io.tmpdir")}/graft_zlayout_${math.abs(dir.hashCode)}"
        val ev = Tables.events(s, dir)
          .select(
            col("event_id"),
            pmod(col("user_id"), lit(32)).cast("int").as("ub"),
            (dayofmonth(col("ts")) - lit(1)).cast("int").as("db"))
        ZOrder.cluster(ev, Seq(col("ub"), col("db")), bits = 5, numPartitions = 8)
          .write.mode("overwrite").parquet(out)
        DataSkipping.writeManifest(s, out, Seq("ub", "db"), s"${out}_manifest")
        val mf = DataSkipping.loadManifest(s, s"${out}_manifest")
        DataSkipping
          .prunedRead(s, out, mf, Seq(ColRange("ub", 0, 15), ColRange("db", 0, 7)))
          .select(col("event_id"), col("ub"), col("db"))
          .orderBy("event_id")
      },
      Some("""
        select event_id,
          cast(user_id % 32 as int) as ub,
          cast(datepart('day', ts) - 1 as int) as db
        from events
        where user_id % 32 between 0 and 15
          and datepart('day', ts) - 1 between 0 and 7
        order by event_id""")
    ),
    "q_source_overlap" -> Q(
      (s, dir) =>
        graft.operators.SourceOverlap
          .shingleOverlapMatrix(docs(s, dir), "source", "text")
          .select(
            col("source_a"), col("source_b"),
            col("n_a"), col("n_b"), col("n_shared"),
            roundHalfUp(col("jaccard"), 6).cast("decimal(10,6)").as("jaccard"))
          .orderBy("source_a", "source_b"),
      // distinct (source, shingle-md5) sets, pair overlap via the shingle
      // self-join (the oracle can afford it; the Spark side uses the
      // bounded collect_set shape), set Jaccard on exact integer counts
      Some(s"""
        with t as (select source, $duckTokens as toks from documents),
        sh as (
          select distinct source, md5(s) as h from (
            select source, unnest(list_transform(
              range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) as s
            from t)
        ),
        tot as (select source, count(*) as n from sh group by source),
        pr as (
          select a.source as sa, b.source as sb, count(*) as n_shared
          from sh a join sh b on a.h = b.h and a.source < b.source
          group by 1, 2
        )
        select sa as source_a, sb as source_b,
          ta.n as n_a, tb.n as n_b, n_shared,
          cast(${duckRound(
            "cast(n_shared as double) / (ta.n + tb.n - n_shared)", 6)}
            as decimal(10,6)) as jaccard
        from pr join tot ta on ta.source = sa join tot tb on tb.source = sb
        order by source_a, source_b""")
    ),
    "q_ngram_jaccard" -> Q(
      (s, dir) => {
        // distinct md5(shingle) sets, as the DuckDB twin builds them: the
        // same Jaccard as the raw shingles, but not smaller — a 32-char hex
        // digest is about twice a 3-word shingle (~16 chars), which is why
        // the stored band index keeps the text (Dedup.shingleSet)
        val d = docs(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            array_distinct(transform(Dedup.wordShingles(col("text"), 3), x => md5(x)))
              .as("sh"))
        val l = d.as("l"); val r = d.as("r")
        l.join(
            r,
            col("l.lang") === col("r.lang") &&
              col("l.n_chars") === col("r.n_chars") &&
              col("l.doc_id") < col("r.doc_id")
          )
          .select(
            col("l.doc_id").as("id_a"),
            col("r.doc_id").as("id_b"),
            roundHalfUp(Dedup.jaccard(col("l.sh"), col("r.sh")), 4)
              .cast("decimal(10,4)").as("jaccard")
          )
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        with t as (select doc_id, lang, n_chars, $duckTokens as toks from documents),
        shingled as (
          select doc_id, lang, n_chars,
            list_distinct(list_transform(
              list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                             i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
              x -> md5(x))) as sh
          from t
        )
        select l.doc_id as id_a, r.doc_id as id_b,
          cast(${duckRound(
            "case when len(list_distinct(l.sh || r.sh)) > 0 " +
              "then cast(len(list_intersect(l.sh, r.sh)) as double) / " +
              "cast(len(list_distinct(l.sh || r.sh)) as double) " +
              "else 0.0 end",
            4
          )} as decimal(10,4)) as jaccard
        from shingled l join shingled r
          on l.lang = r.lang and l.n_chars = r.n_chars and l.doc_id < r.doc_id
        order by id_a, id_b""")
    ),
    // Exact prefix-filtered Jaccard self-join (SetSimJoin): unlike the
    // banded/blocked candidate generators above, this returns EVERY pair
    // at >= 3/5 with zero misses — the integer threshold test makes the
    // accept set bit-identical across engines.
    "q_ssjoin" -> Q(
      (s, dir) => {
        val sets = docs(s, dir).select(
          col("doc_id"),
          array_distinct(
            transform(Dedup.wordShingles(col("text"), 3), x => md5(x))
          ).as("sh")
        )
        graft.dedup.SetSimJoin
          .selfJoin(sets, "doc_id", "sh", 3, 5)
          .select(
            col("id_a"),
            col("id_b"),
            col("inter"),
            col("union_sz"),
            roundHalfUp(col("jaccard"), 4).cast("decimal(10,4)").as("jaccard")
          )
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        sh as (
          select doc_id, list_distinct(list_transform(
            list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
            x -> md5(x))) as sh
          from t
        ),
        ex as (select doc_id as id, unnest(sh) as tok from sh),
        dfreq as (select tok, count(*) as df from ex group by tok),
        keyed as (select id, lpad(cast(df as varchar), 10, '0') || tok as key
                  from ex join dfreq using (tok)),
        sets as (select id, list_sort(list(key)) as keys, cast(count(*) as int) as sz
                 from keyed group by id),
        pref as (select id, sz,
                   unnest(list_slice(keys, 1, cast(sz - ((3*sz + 4) // 5) + 1 as int))) as key
                 from sets),
        cand as (select distinct a.id as id_a, b.id as id_b
                 from pref a join pref b
                   on a.key = b.key and a.id < b.id
                  and a.sz*5 >= b.sz*3 and b.sz*5 >= a.sz*3),
        v as (select id_a, id_b,
                cast(len(list_intersect(sa.keys, sb.keys)) as int) as inter,
                cast(sa.sz + sb.sz - len(list_intersect(sa.keys, sb.keys)) as int) as union_sz
              from cand join sets sa on sa.id = cand.id_a
                        join sets sb on sb.id = cand.id_b)
        select id_a, id_b, inter, union_sz,
          cast(${duckRound("cast(inter as double) / cast(union_sz as double)", 4)} as decimal(10,4)) as jaccard
        from v
        where inter*5 >= union_sz*3
        order by id_a, id_b""")
    ),
    // Exact decontamination join (two-table SetSimJoin): every
    // benchmark-corpus pair at Jaccard >= 2/5, with the global rarest-
    // first token order computed over the UNION so the prefix theorem
    // holds across tables. Names WHICH corpus doc matches WHICH held-out
    // doc — the overlap-stats queries only measure how much.
    "q_decontam_pairs" -> Q(
      (s, dir) => {
        val sets = docs(s, dir).select(
          col("doc_id"),
          array_distinct(
            transform(Dedup.wordShingles(col("text"), 3), x => md5(x))
          ).as("sh")
        )
        graft.dedup.SetSimJoin
          .join(
            sets.filter(col("doc_id") % 10 === 0),
            sets.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "sh", 2, 5)
          .select(
            col("id_l"), col("id_r"), col("inter"), col("union_sz"),
            roundHalfUp(col("jaccard"), 4).cast("decimal(10,4)").as("jaccard"))
          .orderBy("id_l", "id_r")
      },
      Some(duckDecontamPairsSql)
    ),
    // The SAME pairs served from the STORED prefix index (corpus-frozen
    // token order; prefix filtering is exact under ANY shared order, so
    // the persistence layer must be value-invisible): writeIndex over the
    // corpus split, searchIndex with the batch split, hash-identical to
    // the inline q_decontam_pairs twin. Build jobs bounded (PlanGuardSpec
    // exemption).
    "q_ssjoin_indexed" -> Q(
      (s, dir) => {
        val sets = docs(s, dir).select(
          col("doc_id"),
          array_distinct(
            transform(Dedup.wordShingles(col("text"), 3), x => md5(x))
          ).as("sh")
        )
        val out =
          s"${sys.props("java.io.tmpdir")}/graft_ssidx_${math.abs(dir.hashCode)}"
        graft.dedup.SetSimJoin.writeIndex(
          sets.filter(col("doc_id") % 10 =!= 0), "doc_id", "sh", 2, 5, out)
        graft.dedup.SetSimJoin
          .searchIndex(s, out, sets.filter(col("doc_id") % 10 === 0), "doc_id", "sh")
          .select(
            col("id_l"), col("id_r"), col("inter"), col("union_sz"),
            roundHalfUp(col("jaccard"), 4).cast("decimal(10,4)").as("jaccard"))
          .orderBy("id_l", "id_r")
      },
      Some(duckDecontamPairsSql)
    ),
    // Erasure through the exact prefix index: build over the corpus
    // split, purge the erased subjects' sets/postings
    // (SetSimJoin.eraseFromIndex — dfreq stays FROZEN, which is
    // order-correct), probe with the batch split. The twin replays the
    // inline join against the RETAINED corpus under its own (different!)
    // token order — hash equality is exactly the order-invariance
    // guarantee. Build jobs bounded (PlanGuardSpec exemption).
    "q_erasure_exact" -> Q(
      (s, dir) => {
        val sets = docs(s, dir).select(
          col("doc_id"),
          array_distinct(
            transform(Dedup.wordShingles(col("text"), 3), x => md5(x))
          ).as("sh")
        )
        val out =
          s"${sys.props("java.io.tmpdir")}/graft_sserase_${math.abs(dir.hashCode)}"
        graft.dedup.SetSimJoin.writeIndex(
          sets.filter(col("doc_id") % 10 =!= 0), "doc_id", "sh", 2, 5, out)
        graft.dedup.SetSimJoin.eraseFromIndex(
          s, out, sets.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
          "doc_id")
        graft.dedup.SetSimJoin
          .searchIndex(s, out, sets.filter(col("doc_id") % 10 === 0), "doc_id", "sh")
          .select(
            col("id_l"), col("id_r"), col("inter"), col("union_sz"),
            roundHalfUp(col("jaccard"), 4).cast("decimal(10,4)").as("jaccard"))
          .orderBy("id_l", "id_r")
      },
      Some(duckDecontamPairsSqlOver("and doc_id % 7 <> 0"))
    ),
    "q_simhash" -> Q(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            Dedup.simhash(TextAnalysis.tokens(col("text"))).as("simhash"),
            Dedup
              .hammingDistance(
                Dedup.simhash(TextAnalysis.tokens(col("text"))),
                lit(0L)
              )
              .as("popcount")
          )
          .orderBy("doc_id"),
      Some(duckSimhashSql)
    ),
    "q_simhash_pairs" -> Q(
      (s, dir) =>
        Dedup
          .simhashNearDupPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
          .orderBy("id_a", "id_b"),
      Some(duckSimhashPairsSql)
    )
  )

  // ---- similarity search -------------------------------------------------

  /** DuckDB double-precision left-fold dot product (same order as Spark's
    * `aggregate(zip_with(...))`).
    */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> cast($a[i] as double) * cast($b[i] as double)), (x, y) -> x + y)"

  /** DuckDB twin of [[Similarity.cosine]] (0.0 on a zero norm). */
  private def duckCos(a: String, b: String): String =
    s"case when sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}) > 0 " +
      s"then ${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})) " +
      "else 0.0 end"

  // ---- shared DuckDB replay of the deterministic IVF build ----------------
  // (Ivf.scala:82-112 at k=16, iters=2, dim=64): distance folds are the same
  // ascending-index left fold from 0.0 that NearestCentroidExpr.compute
  // uses, and argmin ties break to the lowest centroid id. Used by both
  // q_ann_ivf and q_semdedup.

  private def ivfSq(e: String, c: String): String =
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> " +
      s"(cast($e[i] as double) - $c[i]) * (cast($e[i] as double) - $c[i]))), (x, y) -> x + y)"

  private def ivfAssign(cents: String): String = s"""
    select vec_id, embedding, cid from (
      select e.vec_id, e.embedding, s.cid,
        row_number() over (partition by e.vec_id
          order by ${ivfSq("e.embedding", "s.centroid")}, s.cid) as rn
      from embeddings e cross join $cents s) where rn = 1"""

  private def ivfUpdate(src: String): String = s"""
    select cid, list(m order by dim) as centroid from (
      select cid, d.dim, avg(cast(embedding[d.dim + 1] as double)) as m
      from $src cross join range(0, 64) d(dim)
      group by cid, d.dim) group by cid"""

  /** Shared DuckDB replay of the SRP kNN graph
    * ([[Similarity.annTopKGraph]] at bits=24, bands=2, k=5): CTE chain
    * `sig, blocks, cand, scored, sym, graph`; `graph` = ranked edges
    * (src, dst, cos_sim, rank <= 5). Used by q_ann_topk_graph and
    * q_knn_classify.
    */
  private def srpGraphCtes: String = {
    val planes = Similarity.hyperplanes(24, 64)
    val bitExprs = planes.zipWithIndex.map { case (p, h) =>
      val lits = p.mkString("[", ", ", "]")
      s"(case when ${duckDot("embedding", lits)} > 0 then ${1L << h} else 0 end)"
    }.mkString(" + ")
    s"""sig as (
          select vec_id, embedding, cast($bitExprs as bigint) as sig from embeddings
        ),
        blocks as (
          select vec_id, embedding, b.band, (sig >> (b.band * 12)) & 4095 as key
          from sig, (values (0), (1)) b(band)
        ),
        cand as (
          select distinct l.vec_id as id_a, r.vec_id as id_b
          from blocks l join blocks r
            on l.band = r.band and l.key = r.key and l.vec_id < r.vec_id
        ),
        scored as (
          select c.id_a, c.id_b, ${duckCos("ea.embedding", "eb.embedding")} as cos_sim
          from cand c
          join embeddings ea on c.id_a = ea.vec_id
          join embeddings eb on c.id_b = eb.vec_id
        ),
        sym as (
          select id_a as src, id_b as dst, cos_sim from scored
          union all
          select id_b, id_a, cos_sim from scored
        ),
        graph as (
          select src, dst, cos_sim, rank from (
            select src, dst, cos_sim,
              cast(row_number() over (partition by src order by cos_sim desc, dst) as int) as rank
            from sym
          ) r where rank <= 5
        )"""
  }

  // ---- shared DuckDB replay of the deterministic PQ build -----------------
  // (Pq.train at m=8, ks=16, subDim=8, iters=2): one ivf-style replay per
  // SUBSPACE over the sliced embedding, same fold order and strict-<
  // argmin tie-break as NearestCentroidExpr on the Spark side.

  private def pqSq(e: String, c: String, off: Int, d: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}), i -> " +
      s"(cast($e[i + $off] as double) - $c[i]) * (cast($e[i + $off] as double) - $c[i]))), (x, y) -> x + y)"

  private def pqAssign(cents: String, off: Int, d: Int): String = s"""
    select vec_id, embedding, cid from (
      select e.vec_id, e.embedding, s.cid,
        row_number() over (partition by e.vec_id
          order by ${pqSq("e.embedding", "s.centroid", off, d)}, s.cid) as rn
      from embeddings e cross join $cents s) where rn = 1"""

  private def pqUpdate(src: String, off: Int, d: Int): String = s"""
    select cid, list(m order by dim) as centroid from (
      select cid, d.dim, avg(cast(embedding[d.dim + 1 + $off] as double)) as m
      from $src cross join range(0, $d) d(dim)
      group by cid, d.dim) group by cid"""

  /** Per-subspace CTE chains `seeds_s, a1_s, c1_s, a2_s, c2_s, a3_s` for
    * s in [0, m): `a3_s` = final (vec_id, cid) of subspace s, `c2_s` = its
    * final codebook.
    */
  private def pqReplayCtes(m: Int, subDim: Int, ks: Int): String =
    (0 until m).map { s =>
      val off = s * subDim
      s"""seeds_$s as (
          select cast(row_number() over (order by vec_id) - 1 as int) as cid,
                 list_transform(list_slice(embedding, ${off + 1}, ${off + subDim}),
                                x -> cast(x as double)) as centroid
          from (select vec_id, embedding from embeddings order by vec_id limit $ks)
        ),
        a1_$s as (${pqAssign(s"seeds_$s", off, subDim)}),
        c1_$s as (${pqUpdate(s"a1_$s", off, subDim)}),
        a2_$s as (${pqAssign(s"c1_$s", off, subDim)}),
        c2_$s as (${pqUpdate(s"a2_$s", off, subDim)}),
        a3_$s as (${pqAssign(s"c2_$s", off, subDim)})"""
    }.mkString(",\n        ")

  /** CTE chain `seeds, a1, c1, a2, c2, a3`; `a3` = final assignment
    * (vec_id, embedding, cid).
    */
  private def ivfReplayCtes: String = s"""seeds as (
          select cast(row_number() over (order by vec_id) - 1 as int) as cid,
                 list_transform(embedding, x -> cast(x as double)) as centroid
          from (select vec_id, embedding from embeddings order by vec_id limit 16)
        ),
        a1 as (${ivfAssign("seeds")}),
        c1 as (${ivfUpdate("a1")}),
        a2 as (${ivfAssign("c1")}),
        c2 as (${ivfUpdate("a2")}),
        a3 as (${ivfAssign("c2")})"""

  /** CTE chain `pr, scored, ranked` — the batched [[Ivf.searchAll]]
    * replay over [[ivfReplayCtes]]'s index: per-query probe window (same
    * (dist, cid) tie-break as NearestCentroidExpr), exact cosine within
    * the probed clusters, rank by (cos desc, vec_id) — the same cut
    * TopKByScore's bounded heap makes on the Spark side. `qsCte` names
    * the (query_id, qv) CTE supplying the query set (parameterized so
    * the hybrid oracle can avoid [[bm25RankCtes]]'s `qs` name).
    */
  private def ivfBatchRankCtes(qsCte: String, nprobe: Int): String = s"""pr as (
          select query_id, qv, cid from (
            select q.query_id, q.qv, c2.cid,
              row_number() over (partition by q.query_id
                order by ${ivfSq("c2.centroid", "q.qv")}, c2.cid) as rn
            from $qsCte q cross join c2
          ) where rn <= $nprobe
        ),
        scored as (
          select p.query_id, a.vec_id, ${duckCos("a.embedding", "p.qv")} as cos
          from a3 a join pr p using (cid)
        ),
        ranked as (
          select query_id, vec_id, cos,
            row_number() over (partition by query_id
              order by cos desc, vec_id) as rank
          from scored
        )"""

  val similarityQueries: ListMap[String, Q] = ListMap(
    // PCA moment pass (the only corpus-sized stage of Pca.fit), in its
    // fixed-point form: every mean/second-moment term quantizes floor(x
    // * 2^30) BEFORE the map-side-combined sum, so the 2144 aggregated
    // moments are exact integers both engines replay bit-for-bit. The
    // eigensolve/projection on top is driver-side float-iterative and
    // spec-pinned (PcaSpec) — the structural IVF-centroid reason.
    "q_pca_cov" -> Q(
      (s, dir) =>
        graft.similarity.Pca
          .momentSums(emb(s, dir), "embedding", 64)
          .orderBy("pos"),
      Some(duckPcaCovSql)
    ),
    // The SAME moments SERVED from per-batch sketches merged with exact
    // integer addition (the ProfileStore property extended to second
    // moments): two disjoint halves sketch independently, merge, and the
    // result must equal the one-shot pass bit-for-bit — shared oracle.
    "q_pca_serving" -> Q(
      (s, dir) => {
        import graft.similarity.Pca
        val e = emb(s, dir)
        Pca.mergeMoments(
            Pca.momentSums(e.filter(col("vec_id") % 2 === 0), "embedding", 64)
              .unionByName(
                Pca.momentSums(e.filter(col("vec_id") % 2 =!= 0), "embedding", 64)))
          .orderBy("pos")
      },
      Some(duckPcaCovSql)
    ),
    "q_embed_norms"-> Q(
      (s, dir) =>
        emb(s, dir)
          .select(
            col("vec_id"),
            col("label"),
            roundHalfUp(sqrt(Similarity.dot(col("embedding"), col("embedding"))), 6)
              .cast("decimal(14,6)").as("l2_norm")
          )
          .orderBy("vec_id"),
      Some(s"""
        select vec_id, label,
          cast(${duckRound(s"sqrt(${duckDot("embedding", "embedding")})", 6)} as decimal(14,6)) as l2_norm
        from embeddings order by vec_id""")
    ),
    "q_embed_topk" -> Q(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.as("q").filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        e.crossJoin(broadcast(q))
          .select(
            col("vec_id"),
            roundHalfUp(Similarity.cosine(col("embedding"), col("qv")), 6)
              .cast("decimal(12,6)").as("cos_sim")
          )
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""
        with q as (select embedding as qv from embeddings where vec_id = 0)
        select vec_id,
          cast(${duckRound(
            s"case when sqrt(${duckDot("embedding", "embedding")}) * sqrt(${duckDot("qv", "qv")}) > 0 " +
              s"then ${duckDot("embedding", "qv")} / " +
              s"(sqrt(${duckDot("embedding", "embedding")}) * sqrt(${duckDot("qv", "qv")})) " +
              "else 0.0 end",
            6
          )} as decimal(12,6)) as cos_sim
        from embeddings, q
        order by cos_sim desc, vec_id limit 10""")
    ),
    "q_ann_srp_sig" -> Q(
      (s, dir) =>
        emb(s, dir)
          .select(
            col("vec_id"),
            Similarity
              .srpSignature(col("embedding"), Similarity.hyperplanes(16, 64))
              .as("srp_sig")
          )
          .orderBy("vec_id"),
      Some {
        val planes = Similarity.hyperplanes(16, 64)
        val bitExprs = planes.zipWithIndex.map { case (p, h) =>
          val lits = p.mkString("[", ", ", "]")
          s"(case when ${duckDot("embedding", lits)} > 0 then ${1L << h} else 0 end)"
        }.mkString(" + ")
        s"""
        select vec_id, cast($bitExprs as bigint) as srp_sig
        from embeddings order by vec_id"""
      }
    ),
    "q_embed_near_dup" -> Q(
      (s, dir) =>
        Similarity
          // 0.35 (not the production-ish 0.95): the synthetic embeddings are
          // near-orthogonal random vectors (max candidate cosine ~0.46), so a
          // 0.95 threshold returns 0 rows at every SF and the oracle match is
          // vacuous. 0.35 keeps the full LSH-band + verify path exercised
          // with a non-empty, SF-stable result.
          .embeddingNearDupPairs(emb(s, dir), "vec_id", "embedding",
            threshold = 0.35)
          .select(
            col("id_a"),
            col("id_b"),
            roundHalfUp(col("cos_sim"), 6).cast("decimal(12,6)").as("cos_sim")
          )
          .orderBy("id_a", "id_b"),
      Some {
        val planes = Similarity.hyperplanes(32, 64)
        val bitExprs = planes.zipWithIndex.map { case (p, h) =>
          val lits = p.mkString("[", ", ", "]")
          s"(case when ${duckDot("embedding", lits)} > 0 then ${1L << h} else 0 end)"
        }.mkString(" + ")
        def cos(a: String, b: String) =
          s"case when sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}) > 0 " +
            s"then ${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})) " +
            "else 0.0 end"
        s"""
        with sig as (
          select vec_id, embedding, cast($bitExprs as bigint) as sig from embeddings
        ),
        blocks as (
          select vec_id, embedding, b.band, (sig >> (b.band * 8)) & 255 as key
          from sig, (values (0), (1), (2), (3)) b(band)
        ),
        cand as (
          select distinct l.vec_id as id_a, r.vec_id as id_b
          from blocks l join blocks r
            on l.band = r.band and l.key = r.key and l.vec_id < r.vec_id
        )
        select c.id_a, c.id_b,
          cast(${duckRound(cos("ea.embedding", "eb.embedding"), 6)} as decimal(12,6)) as cos_sim
        from cand c
        join embeddings ea on c.id_a = ea.vec_id
        join embeddings eb on c.id_b = eb.vec_id
        where ${cos("ea.embedding", "eb.embedding")} >= 0.35
        order by id_a, id_b"""
      }
    ),
    "q_ann_topk_graph" -> Q(
      (s, dir) =>
        Similarity
          .annTopKGraph(emb(s, dir), "vec_id", "embedding", k = 5,
            bits = 24, bands = 2)
          .orderBy("src", "rank"),
      // Full SRP pipeline reproduced with the same literal hyperplanes:
      // signature bits -> 2x12-bit band keys -> band self-join -> cosine
      // -> per-source rank. Dot products are identical left folds, so the
      // raw doubles compare bit-for-bit.
      Some(s"""
        with $srpGraphCtes
        select src, dst, cos_sim, rank from graph
        order by src, rank""")
    ),
    "q_pagerank" -> Q(
      (s, dir) => {
        val e = emb(s, dir)
        // materialize the edge list ONCE before iterating (localCheckpoint
        // = one bounded build job over the k·|V|-row graph) — the
        // production shape, where edges are a stored table; a declarative
        // plan would re-derive the whole SRP pipeline per superstep
        val graph = Similarity
          .annTopKGraph(e, "vec_id", "embedding", k = 5, bits = 24, bands = 2)
          .select(col("src"), col("dst"))
          .localCheckpoint()
        graft.operators.PageRank
          .ranks(graph, e.select(col("vec_id")), "vec_id",
            iters = 5, damping = 0.85)
          .select(
            col("id").as("vec_id"),
            roundHalfUp(col("rank"), 8).cast("decimal(12,8)").as("pagerank"))
          .orderBy("vec_id")
      },
      // the SRP kNN graph replay feeding five unrolled PageRank
      // supersteps (the k-means-replay technique applied to a graph
      // algorithm) — same damping/teleport double literals, same
      // leak-dangling-mass convention, term-for-term
      Some(s"""
        with $srpGraphCtes,
        ${graft.operators.PageRank.duckCtes(
          "select vec_id as id from embeddings", iters = 5, damping = 0.85)}
        select id as vec_id,
          cast(${duckRound("rank", 8)} as decimal(12,8)) as pagerank
        from pr_r5
        order by vec_id""")
    )
  )

  // ---- corpus preparation / IVF ------------------------------------------

  val corpusQueries: ListMap[String, Q] = ListMap(
    "q_corpus_prepare" -> Q(
      (s, dir) =>
        graft.text.CorpusPipeline
          .prepare(docs(s, dir))
          .select(
            col("doc_id"),
            col("text"),
            col("lang"),
            col("source"),
            col("n_chars"),
            roundHalfUp(col("quality_score"), 4)
              .cast("decimal(10,4)").as("quality_score"),
            roundHalfUp(col("repetition_ratio"), 4)
              .cast("decimal(10,4)").as("repetition_ratio"),
            col("lang_guess"),
            col("n_tokens")
          )
          .orderBy("doc_id"),
      Some(s"""
        with t as (select doc_id, text, lang, source, n_chars, $duckTokens as toks from documents),
        m as (
          select doc_id, text, lang, source, n_chars, toks,
            cast(len(toks) as double) as n,
            case when len(toks) > 0
                 then cast(list_sum(list_transform(toks, x -> length(x))) as double) / cast(len(toks) as double)
                 else 0.0 end as mtl,
            case when length(text) > 0
                 then cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) as double) / cast(length(text) as double)
                 else 0.0 end as punct,
            cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as double) as sw,
            len(list_filter(toks, x -> lower(x) in ('the','a','of','and','to','in','is','that'))) as en,
            len(list_filter(toks, x -> lower(x) in ('le','la','de','et','les','des','un','une'))) as fr,
            len(list_filter(toks, x -> lower(x) in ('der','die','das','und','ist','von','ein','mit'))) as de,
            len(list_filter(toks, x -> lower(x) in ('el','la','de','y','los','que','un','en'))) as es,
            list_transform(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2), ' ')) as sh
          from t
        ),
        scored as (
          select doc_id, text, lang, source, n_chars, n,
            least(n / 64.0, 1.0) * 0.3 +
              least(sw / greatest(n, 1.0) * 8.0, 1.0) * 0.3 +
              greatest(1.0 - punct * 4.0, 0.0) * 0.2 +
              (case when mtl between 3.0 and 9.0 then cast(1.0 as double) else cast(0.5 as double) end) * 0.2 as q,
            case when len(sh) > 0
                 then cast(len(sh) - len(list_distinct(sh)) as double) / cast(len(sh) as double)
                 else 0.0 end as rep,
            case when regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') then 'zh'
                 when greatest(en, fr, de, es) = 0 then 'unknown'
                 when en = greatest(en, fr, de, es) then 'en'
                 when fr = greatest(en, fr, de, es) then 'fr'
                 when de = greatest(en, fr, de, es) then 'de'
                 else 'es' end as lang_guess
          from m
        ),
        red as (
          select doc_id,
            regexp_replace(
              regexp_replace(text, '${TextAnalysis.RedactEmailPattern}', '[EMAIL]', 'g'),
              '${TextAnalysis.RedactPhonePattern}', '[PHONE]', 'g') as text,
            lang, source, n_chars, q, rep, lang_guess, cast(n as int) as n_tokens
          from scored
          where q >= 0.5 and rep <= 0.3 and lang_guess in ('en')
        ),
        deduped as (
          select * from red
          qualify row_number() over (partition by md5(text) order by doc_id) = 1
        )
        select doc_id, text, lang, source, n_chars,
          cast(${duckRound("q", 4)} as decimal(10,4)) as quality_score,
          cast(${duckRound("rep", 4)} as decimal(10,4)) as repetition_ratio,
          lang_guess, n_tokens
        from deduped
        order by doc_id""")
    ),
    "q_ann_ivf" -> Q(
      (s, dir) => {
        val e = emb(s, dir)
        val (centroids, assigned) =
          graft.similarity.Ivf.build(e, "vec_id", "embedding", k = 16, iters = 2)
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head()
          .getSeq[Float](0).map(_.toDouble).toSeq
        graft.similarity.Ivf
          .search(assigned, centroids, "vec_id", "embedding", query, k = 10,
            nprobe = 4)
          .select(
            col("vec_id"),
            roundHalfUp(col("cos_sim"), 6).cast("decimal(12,6)").as("cos_sim")
          )
      },
      // Full replay of the deterministic build (Ivf.scala:82-140): seeds =
      // first 16 vec_ids, two Lloyd's rounds, final re-assignment, then the
      // nprobe=4 search. Distance folds are written as the same ascending-
      // index left fold from 0.0 that NearestCentroidExpr.compute uses, and
      // argmin ties break to the lowest centroid id (strict `<` keeps the
      // first matrix row; the matrix is ordered by centroid_id). Per-dim
      // means, cosine and the rank-10 cut are bit-stable across engines at
      // the compared 6-decimal rounding (recall vs brute force is separately
      // asserted in IvfCorpusSpec).
      Some {
        s"""
        with $ivfReplayCtes,
        q as (
          select list_transform(embedding, x -> cast(x as double)) as qv
          from embeddings where vec_id = 0
        ),
        probes as (
          select cid from q, c2
          order by ${ivfSq("c2.centroid", "q.qv")}, cid limit 4
        ),
        topk as (
          select a.vec_id,
            case when sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("q.qv", "q.qv")}) > 0
                 then ${duckDot("a.embedding", "q.qv")} /
                      (sqrt(${duckDot("a.embedding", "a.embedding")}) * sqrt(${duckDot("q.qv", "q.qv")}))
                 else 0.0 end as cos
          from a3 a join probes p using (cid) cross join q
          order by cos desc, vec_id limit 10
        )
        select vec_id,
          cast(${Parity.duckRound("cos", 6)} as decimal(12,6)) as cos_sim
        from topk order by cos_sim desc, vec_id"""
      }
    ),
    "q_pq_codes" -> Q(
      (s, dir) => {
        import graft.similarity.Pq
        val e = emb(s, dir)
        // 64 dims -> 8 subspaces x 16 centroids: 32x compression; the
        // m bounded per-subspace k-means builds are the operator under
        // test (PlanGuardSpec exemption, ~3 collect jobs per subspace)
        val cb = Pq.train(e, "vec_id", "embedding", dim = 64, m = 8, ks = 16, iters = 2)
        val q = e.filter(col("vec_id") === 7)
          .select(col("embedding")).head()
          .getSeq[Float](0).map(_.toDouble).toSeq
        e.select(col("vec_id"), Pq.encode(col("embedding"), cb).as("_codes"))
          .select(
            col("vec_id"),
            array_join(transform(col("_codes"), x => x.cast("string")), " ")
              .as("codes_join"),
            roundHalfUp(Pq.adcDistance(col("_codes"), q, cb), 6)
              .cast("decimal(14,6)").as("adc_dist"))
          .orderBy("vec_id")
      },
      // Full replay of all 8 per-subspace deterministic builds + the code
      // assignment + the ADC sum against query vec 7's per-subspace
      // distance tables — codes are exact ints; the ADC double survives
      // the 6-decimal rounding on both engines (explicit left-to-right
      // addition both sides).
      Some {
        val (m, subDim, ks) = (8, 8, 16)
        val codeCols = (0 until m).map(s => s"c_$s.cid as c$s").mkString(", ")
        val codeJoins = (1 until m)
          .map(s => s"join a3_$s c_$s using (vec_id)").mkString(" ")
        val qdCtes = (0 until m).map { s =>
          s"""qd_$s as (
            select cid, ${pqSq("q.qv", "centroid", s * subDim, subDim)} as d
            from c2_$s cross join q)"""
        }.mkString(",\n        ")
        val adcJoins = (0 until m)
          .map(s => s"join qd_$s q$s on q$s.cid = codes.c$s").mkString(" ")
        val adcSum = (0 until m).map(s => s"q$s.d").mkString(" + ")
        val concatCodes = (0 until m).map(s => s"c$s").mkString(", ")
        s"""
        with ${pqReplayCtes(m, subDim, ks)},
        q as (
          select list_transform(embedding, x -> cast(x as double)) as qv
          from embeddings where vec_id = 7
        ),
        $qdCtes,
        codes as (
          select c_0.vec_id, $codeCols
          from a3_0 c_0 $codeJoins
        )
        select codes.vec_id,
          concat_ws(' ', $concatCodes) as codes_join,
          cast(${duckRound(adcSum, 6)} as decimal(14,6)) as adc_dist
        from codes $adcJoins
        order by codes.vec_id"""
      }
    ),
    "q_ann_ivf_multi" -> Q(
      (s, dir) => {
        val e = emb(s, dir)
        val (centroids, assigned) =
          graft.similarity.Ivf.build(e, "vec_id", "embedding", k = 16, iters = 2)
        // the query SET is a DataFrame — one job for all queries, no
        // driver loop (mirrors Bm25.retrieveTopK)
        val queries = e.filter(col("vec_id").isin(0, 7, 13))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        graft.similarity.Ivf
          .searchAll(assigned, centroids, "vec_id", "embedding", queries,
            "query_id", "qv", k = 10, nprobe = 4)
          .select(
            col("query_id"),
            col("rank"),
            col("vec_id"),
            roundHalfUp(col("cos_sim"), 6).cast("decimal(12,6)").as("cos_sim"))
          .orderBy("query_id", "rank")
      },
      // Batched replay of q_ann_ivf's index: per-query probe ranking is a
      // window over the |Q| x k centroid distances (same left-fold sqdist,
      // same (dist, cid) tie-break), then exact cosine inside the probed
      // clusters and a per-query (cos desc, vec_id) top-10 — the same cut
      // TopKByScore's bounded heap makes on the Spark side.
      Some(s"""
        with $ivfReplayCtes,
        qs as (
          select vec_id as query_id,
            list_transform(embedding, x -> cast(x as double)) as qv
          from embeddings where vec_id in (0, 7, 13)
        ),
        ${ivfBatchRankCtes("qs", 4)}
        select query_id, cast(rank as int) as rank, vec_id,
          cast(${duckRound("cos", 6)} as decimal(12,6)) as cos_sim
        from ranked where rank <= 10
        order by query_id, rank""")
    ),
    "q_ann_ivfpq" -> Q(
      (s, dir) => {
        import graft.similarity.{Ivf, Pq}
        val e = emb(s, dir)
        val (centroids, assigned) =
          Ivf.build(e, "vec_id", "embedding", k = 16, iters = 2)
        val cb = Pq.train(e, "vec_id", "embedding", dim = 64, m = 8, ks = 16, iters = 2)
        val query = e.filter(col("vec_id") === 7)
          .select(col("embedding")).head()
          .getSeq[Float](0).map(_.toDouble).toSeq
        // the serving shape: codes + cluster id, vectors never reread in
        // stage 1; stage 2 re-ranks the 20-row shortlist exactly
        val enc = Pq.encodeAssigned(assigned, "vec_id", "embedding", cb)
        // the 20-row shortlist feeds BOTH the re-rank and the adc_dist
        // evidence join; cached (bounded: k rows) so the stage-1 probe +
        // ADC scan executes once, not twice
        val shortlist = Pq
          .searchIvfAdc(enc, centroids, "vec_id", "codes", query, cb,
            k = 20, nprobe = 4)
          .cache()
        Pq.rerankExact(shortlist, e, "vec_id", "embedding", query, k = 10)
          .join(shortlist.select(col("vec_id"), col("adc_dist")), "vec_id")
          .select(
            col("vec_id"),
            roundHalfUp(col("adc_dist"), 6).cast("decimal(14,6)").as("adc_dist"),
            roundHalfUp(col("cos_sim"), 6).cast("decimal(12,6)").as("cos_sim"))
          .orderBy("vec_id")
      },
      // The full two-stage IVF-PQ pipeline against query vec 7: probes =
      // the 4 nearest of q_ann_ivf's replayed centroids, stage-1 shortlist
      // = ADC top-20 (q_pq_codes' replayed codebooks + lookup-sum) WITHIN
      // the probed clusters, stage 2 = exact cosine over the 20 survivors,
      // top-10 by (cos desc, vec_id). Both build replays are shared
      // verbatim with q_ann_ivf / q_pq_codes; output carries both stages'
      // evidence columns, sorted by vec_id so rounding can't reorder.
      Some {
        val (m, subDim, ks) = (8, 8, 16)
        val codeCols = (0 until m).map(s => s"c_$s.cid as c$s").mkString(", ")
        val codeJoins = (1 until m)
          .map(s => s"join a3_$s c_$s using (vec_id)").mkString(" ")
        val qdCtes = (0 until m).map { s =>
          s"""qd_$s as (
            select cid, ${pqSq("q.qv", "centroid", s * subDim, subDim)} as d
            from c2_$s cross join q)"""
        }.mkString(",\n        ")
        val adcJoins = (0 until m)
          .map(s => s"join qd_$s q$s on q$s.cid = codes.c$s").mkString(" ")
        val adcSum = (0 until m).map(s => s"q$s.d").mkString(" + ")
        s"""
        with $ivfReplayCtes,
        ${pqReplayCtes(m, subDim, ks)},
        q as (
          select list_transform(embedding, x -> cast(x as double)) as qv
          from embeddings where vec_id = 7
        ),
        probes as (
          select cid from q, c2
          order by ${ivfSq("c2.centroid", "q.qv")}, cid limit 4
        ),
        $qdCtes,
        codes as (
          select c_0.vec_id, $codeCols
          from a3_0 c_0 $codeJoins
        ),
        shortlist as (
          select codes.vec_id, $adcSum as d
          from codes $adcJoins
          join a3 av on av.vec_id = codes.vec_id
          join probes p on av.cid = p.cid
          order by d, codes.vec_id limit 20
        ),
        rr as (
          select s.vec_id, s.d, ${duckCos("e.embedding", "q.qv")} as cos
          from shortlist s join embeddings e using (vec_id) cross join q
          order by cos desc, s.vec_id limit 10
        )
        select vec_id,
          cast(${duckRound("d", 6)} as decimal(14,6)) as adc_dist,
          cast(${duckRound("cos", 6)} as decimal(12,6)) as cos_sim
        from rr order by vec_id"""
      }
    ),
    "q_ann_ivfpq_multi" -> Q(
      (s, dir) => {
        import graft.similarity.{Ivf, Pq}
        val e = emb(s, dir)
        val (centroids, assigned) =
          Ivf.build(e, "vec_id", "embedding", k = 16, iters = 2)
        val cb = Pq.train(e, "vec_id", "embedding", dim = 64, m = 8, ks = 16, iters = 2)
        val enc = Pq.encodeAssigned(assigned, "vec_id", "embedding", cb)
        val queries = e.filter(col("vec_id").isin(0, 7, 13))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Pq.searchAllAdc(enc, centroids, "vec_id", "codes", queries,
            "query_id", "qv", cb, k = 10, nprobe = 4)
          .select(
            col("query_id"),
            col("rank"),
            col("vec_id"),
            roundHalfUp(col("adc_dist"), 6).cast("decimal(14,6)").as("adc_dist"))
          .orderBy("query_id", "rank")
      },
      // Batched replay of q_ann_ivfpq's stage 1: per-query probe windows
      // over the replayed IVF centroids, ONE flattened per-query ADC map
      // (key = subspace*100 + cid) from the replayed PQ codebooks, and a
      // per-query (dist asc, vec_id) top-10 — the same cut TopKByScore's
      // bounded heap makes with score = -adc. The map shape matters: a
      // join per subspace table lets the optimizer pair the qd tables
      // with each other on query_id alone (a 16^8 cross blow-up that
      // spills the disk); one map join per query cannot be reordered into
      // that.
      Some {
        val (m, subDim, ks) = (8, 8, 16)
        val codeCols = (0 until m).map(s => s"c_$s.cid as c$s").mkString(", ")
        val codeJoins = (1 until m)
          .map(s => s"join a3_$s c_$s using (vec_id)").mkString(" ")
        val qdUnion = (0 until m).map { s =>
          s"""select q.query_id, $s * 100 + c.cid as k,
              ${pqSq("q.qv", "c.centroid", s * subDim, subDim)} as d
            from c2_$s c cross join qs q"""
        }.mkString("\n          union all\n          ")
        val adcSum = (0 until m)
          .map(s => s"map_extract(qm.m, $s * 100 + c.c$s)[1]")
          .mkString(" + ")
        s"""
        with $ivfReplayCtes,
        ${pqReplayCtes(m, subDim, ks)},
        qs as (
          select vec_id as query_id,
            list_transform(embedding, x -> cast(x as double)) as qv
          from embeddings where vec_id in (0, 7, 13)
        ),
        pr as (
          select query_id, cid from (
            select q.query_id, c2.cid,
              row_number() over (partition by q.query_id
                order by ${ivfSq("c2.centroid", "q.qv")}, c2.cid) as rn
            from qs q cross join c2
          ) where rn <= 4
        ),
        qd as (
          $qdUnion
        ),
        qmap as (
          select query_id, map(list(k order by k), list(d order by k)) as m
          from qd group by query_id
        ),
        codes as (
          select c_0.vec_id, $codeCols
          from a3_0 c_0 $codeJoins
        ),
        scored as (
          select p.query_id, a.vec_id, $adcSum as dist
          from a3 a join pr p using (cid)
          join codes c on c.vec_id = a.vec_id
          join qmap qm on qm.query_id = p.query_id
        ),
        ranked as (
          select query_id, vec_id, dist,
            row_number() over (partition by query_id
              order by dist, vec_id) as rank
          from scored
        )
        select query_id, cast(rank as int) as rank, vec_id,
          cast(${duckRound("dist", 6)} as decimal(14,6)) as adc_dist
        from ranked where rank <= 10
        order by query_id, rank"""
      }
    ),
    "q_cluster_drift" -> Q(
      (s, dir) => {
        import graft.similarity.Ivf
        val e = emb(s, dir)
        val (centroids, assigned) =
          Ivf.build(e, "vec_id", "embedding", k = 16, iters = 2)
        // index-staleness audit: a deterministic "daily batch" (every
        // third vector) re-assigned with the STORED centroids, histogram
        // PSI against the reference assignment
        val batch = e.filter(pmod(col("vec_id"), lit(3)) === 0)
        Ivf.clusterDrift(centroids, assigned, batch, "vec_id", "embedding")
          .select(
            col("bucket"),
            col("cnt_a"),
            col("cnt_b"),
            roundHalfUp(col("psi"), 9).cast("decimal(14,9)").as("psi"))
          .orderBy("bucket")
      },
      // The replayed IVF assignment serves both sides (the batch's
      // assignment under the final centroids IS a3 restricted to the
      // batch ids); add-0.5 smoothing over the surviving-centroid domain,
      // totals as exact integers — q_drift_psi's conventions
      Some(s"""
        with $ivfReplayCtes,
        kc as (select cast(count(*) as double) as k from c2),
        a as (select cid as bucket, count(*) as cnt_a from a3 group by cid),
        b as (select cid as bucket, count(*) as cnt_b from a3
              where vec_id % 3 = 0 group by cid),
        ta as (select count(*) as tot_a from a3),
        tb as (select count(*) as tot_b from a3 where vec_id % 3 = 0),
        j as (
          select bucket,
            coalesce(cnt_a, 0) as cnt_a, coalesce(cnt_b, 0) as cnt_b,
            (coalesce(cnt_a, 0) + 0.5) / (tot_a + 0.5 * kc.k) as pa,
            (coalesce(cnt_b, 0) + 0.5) / (tot_b + 0.5 * kc.k) as pb
          from a full outer join b using (bucket)
          cross join ta cross join tb cross join kc
        )
        select bucket, cnt_a, cnt_b,
          cast(${duckRound("(pa - pb) * ln(pa / pb)", 9)} as decimal(14,9)) as psi
        from j order by bucket""")
    ),
    "q_semdedup" -> Q(
      (s, dir) =>
        graft.similarity.SemDedup
          .semanticDedup(emb(s, dir), "vec_id", "embedding", k = 16,
            iters = 2, eps = 0.3)
          .select(
            col("vec_id"),
            col("centroid_id"),
            roundHalfUp(col("max_cos_lower"), 6)
              .cast("decimal(12,6)").as("max_cos_lower"),
            col("kept").cast("int").as("kept")
          )
          .orderBy("vec_id"),
      // Replays the shared IVF build (same seeds/rounds as q_ann_ivf), then
      // the within-cluster low-id->high-id pairwise cosine and the lowest-
      // id-wins keep rule. `kept` compares the RAW double max against eps on
      // both engines (identical left-fold dots), so the verdict can't drift
      // from the rounded evidence column. eps=0.3: the synthetic embeddings
      // are near-orthogonal, so a production-ish 0.95 would drop nothing
      // and the oracle would only prove "everything kept".
      Some(s"""
        with $ivfReplayCtes,
        pairs as (
          select r.vec_id, ${duckCos("l.embedding", "r.embedding")} as c
          from a3 l join a3 r on l.cid = r.cid and l.vec_id < r.vec_id
        ),
        mx as (select vec_id, max(c) as mc from pairs group by vec_id)
        select a.vec_id, a.cid as centroid_id,
          cast(${duckRound("mc", 6)} as decimal(12,6)) as max_cos_lower,
          cast(case when mc is null or mc < 0.3 then 1 else 0 end as int) as kept
        from a3 a left join mx using (vec_id)
        order by vec_id""")
    ),
    "q_semdedup_guarded" -> Q(
      (s, dir) =>
        graft.similarity.SemDedup
          .semanticDedup(emb(s, dir), "vec_id", "embedding", k = 16,
            iters = 2, eps = 0.3, maxCompare = Some(8), salts = 4)
          .select(
            col("vec_id"),
            col("centroid_id"),
            roundHalfUp(col("max_cos_lower"), 6)
              .cast("decimal(12,6)").as("max_cos_lower"),
            col("kept").cast("int").as("kept")
          )
          .orderBy("vec_id"),
      // q_semdedup with BOTH mega-cluster guards live: maxCompare=8 caps
      // the compare set to the 8 lowest-id members per cluster (the oracle
      // replays the cap — it is a real recall trade, not an identity), and
      // salts=4 spreads the hot cluster's pairwise work over 4 shuffle keys
      // (result-identical, so the oracle doesn't see it). This is the
      // configuration a 100 TB run would ship with.
      Some(s"""
        with $ivfReplayCtes,
        capped as (
          select vec_id, embedding, cid,
            row_number() over (partition by cid order by vec_id) as rk
          from a3
        ),
        pairs as (
          select r.vec_id, ${duckCos("l.embedding", "r.embedding")} as c
          from capped l join a3 r on l.cid = r.cid and l.vec_id < r.vec_id
          where l.rk <= 8
        ),
        mx as (select vec_id, max(c) as mc from pairs group by vec_id)
        select a.vec_id, a.cid as centroid_id,
          cast(${duckRound("mc", 6)} as decimal(12,6)) as max_cos_lower,
          cast(case when mc is null or mc < 0.3 then 1 else 0 end as int) as kept
        from a3 a left join mx using (vec_id)
        order by vec_id""")
    ),
    "q_coreset" -> Q(
      (s, dir) =>
        graft.similarity.Coreset
          .prototypes(emb(s, dir), "vec_id", "embedding", k = 16, iters = 2,
            perCluster = 10)
          .select(
            col("vec_id"),
            col("centroid_id"),
            roundHalfUp(col("sq_dist"), 6).cast("decimal(14,6)").as("sq_dist"),
            col("rank")
          )
          .orderBy("centroid_id", "rank"),
      // Shared IVF replay + per-cluster re-ranked distance to the FINAL
      // centroid: assignment already minimized that distance, so the
      // recomputed fold equals the _dist the heap ranked on, and the heap's
      // (score desc, id asc) order is exactly (d asc, vec_id asc) here.
      Some(s"""
        with $ivfReplayCtes,
        dists as (
          select a.vec_id, a.cid, ${ivfSq("a.embedding", "c.centroid")} as d
          from a3 a join c2 c on a.cid = c.cid
        ),
        ranked as (
          select vec_id, cid, d,
            cast(row_number() over (partition by cid order by d, vec_id) as int) as rank
          from dists
        )
        select vec_id, cid as centroid_id,
          cast(${duckRound("d", 6)} as decimal(14,6)) as sq_dist, rank
        from ranked where rank <= 10
        order by centroid_id, rank""")
    ),
    "q_knn_classify" -> Q(
      (s, dir) =>
        graft.similarity.KnnClassify
          .audit(emb(s, dir), "vec_id", "embedding", "label", k = 5,
            bits = 24, bands = 2)
          .orderBy("vec_id"),
      // The SRP kNN graph replay (same planes/bands/rank cut as
      // q_ann_topk_graph) plus the label join and the (votes desc, label)
      // majority vote — counts are exact ints, so only the graph's rank-5
      // boundary could diverge, and that is tie-broken by dst on both sides.
      Some(s"""
        with $srpGraphCtes,
        votes as (
          select g.src as vec_id, e.label as predicted_label, count(*) as votes
          from graph g join embeddings e on g.dst = e.vec_id
          group by g.src, e.label
        ),
        best as (
          select vec_id, predicted_label, votes from (
            select vec_id, predicted_label, votes,
              row_number() over (partition by vec_id
                order by votes desc, predicted_label) as rn
            from votes) where rn = 1
        ),
        totals as (select src as vec_id, count(*) as n_neighbors
                   from graph group by src)
        select b.vec_id, b.predicted_label, b.votes, t.n_neighbors,
          e.label as true_label,
          cast(case when b.predicted_label = e.label then 1 else 0 end as int) as correct
        from best b
        join totals t using (vec_id)
        join embeddings e on b.vec_id = e.vec_id
        order by vec_id""")
    )
  )

  // ---- multimodal --------------------------------------------------------

  /** Shared DuckDB replay of the perceptual hashes
    * ([[graft.multimodal.PerceptualHash]]): the synthetic raster pixels
    * are integer functions of (id, x, y), so the oracle recomputes the
    * 8x8 (aHash) / 9x8 (dHash) nearest-neighbor grid samples, integer
    * mean / neighbor compares, and packs bits with a 64-row powers
    * table in hugeint, converting two's-complement to the signed bigint
    * Spark carries. CTE `ph` ends with (media_id, kind, ahash, dhash,
    * hsum) — hsum is the unsigned hugeint aHash the pairs twin blocks on.
    */
  private lazy val duckPhashCte: String = {
    def lum(gx: String, gy: String): String =
      s"(((media_id*7 + ($gx)*13 + ($gy)*101) % 256" +
        s" + (media_id*11 + ($gx)*17 + ($gy)*31) % 256" +
        s" + (media_id*13 + ($gx)*19 + ($gy)*61) % 256) // 3)"
    val powers = (0 until 64)
      .map(k => s"($k, ${BigInt(1) << k}::hugeint)").mkString(", ")
    def signed(x: String): String =
      s"(case when $x >= 9223372036854775808::hugeint " +
        s"then $x - 18446744073709551616::hugeint else $x end)::bigint"
    s"""
    with m as (select doc_id as media_id, doc_id % 3 as k3 from documents
               where doc_id % 3 <> 1),
    rast as (
      select media_id,
        case k3 when 0 then 'image' else 'video' end as kind,
        cast(case k3 when 0 then media_id % 13 + 4 else media_id % 11 + 4 end as bigint) as w,
        cast(case k3 when 0 then media_id % 7 + 4 else media_id % 5 + 4 end as bigint) as h
      from m
    ),
    powers (k, p) as (values $powers),
    cells as (select media_id, kind, w, h, k, p from rast cross join powers),
    alum as (
      select media_id, kind, k, p,
        ${lum("(k % 8) * w // 8", "(k // 8) * h // 8")} as l
      from cells
    ),
    amean as (select media_id, sum(l) // 64 as mn from alum group by media_id),
    abits as (
      select media_id, kind,
        sum(case when l > mn then p else 0::hugeint end) as ahsum
      from alum join amean using (media_id) group by media_id, kind
    ),
    dbits as (
      select media_id,
        sum(case when l0 > l1 then p else 0::hugeint end) as dhsum
      from (
        select media_id, p,
          ${lum("(k % 8) * w // 9", "(k // 8) * h // 8")} as l0,
          ${lum("((k % 8) + 1) * w // 9", "(k // 8) * h // 8")} as l1
        from cells
      ) group by media_id
    ),
    ph as (
      select media_id, kind,
        ${signed("ahsum")} as ahash,
        ${signed("dhsum")} as dhash,
        ahsum as hsum
      from abits join dbits using (media_id)
    )"""
  }

  val multimodalQueries: ListMap[String, Q] = ListMap(
    // Perceptual image hashes over the decoded rasters (PPM images + BMP
    // video keyframes; audio drops): aHash + dHash per media row, the
    // multimodal leg of the dedup story. The Scala side parses real
    // container bytes in one mapPartitions pass; the twin replays the
    // grid samples from the synthetic pixel formulas — a hash mismatch
    // in EITHER the codec or the sampling arithmetic fails the gate.
    "q_image_phash" -> Q(
      (s, dir) =>
        graft.multimodal.PerceptualHash
          .hashes(Multimodal.synthesizeFromDocuments(docs(s, dir)))
          .toDF()
          .select(col("media_id"), col("kind"), col("ahash"), col("dhash"))
          .orderBy("media_id"),
      Some(s"""$duckPhashCte
        select media_id, kind, ahash, dhash from ph order by media_id""")
    ),
    // Audio fingerprint (the WAV counterpart of dHash): 64 time segments
    // of mean |amplitude|, bit = segment louder than its successor, the
    // compare cross-multiplied (exact rational, no FP). The twin replays
    // the synthetic sample formula over a 64-segment grid with empty
    // segments zero-filled — a mismatch in the WAV chunk walk, the
    // segment mapping, or the compare arithmetic hash-fails.
    "q_audio_fingerprint" -> Q(
      (s, dir) =>
        graft.multimodal.PerceptualHash
          .audioHashes(Multimodal.synthesizeFromDocuments(docs(s, dir)))
          .toDF()
          .select(col("media_id"), col("fp"))
          .orderBy("media_id"),
      Some {
        val powers = (0 until 64)
          .map(k => s"($k, ${BigInt(1) << k}::hugeint)").mkString(", ")
        s"""
        with m as (select doc_id as media_id from documents where doc_id % 3 = 1),
        aud as (select media_id, cast(media_id % 50 + 40 as bigint) as n from m),
        smp as (select media_id, n, unnest(range(0, n)) as i from aud),
        sval as (
          select media_id, (i * 64 // n) as seg,
            abs((media_id*31 + i*997) % 65536 - 32768) as av
          from smp
        ),
        segs as (select media_id, seg, sum(av) as s, count(*) as c
                 from sval group by media_id, seg),
        powers (k, p) as (values $powers),
        grid as (select media_id, k, p from aud cross join powers),
        filled as (
          select grid.media_id, grid.k, grid.p,
            coalesce(segs.s, 0) as s, coalesce(segs.c, 0) as c
          from grid left join segs
            on segs.media_id = grid.media_id and segs.seg = grid.k
        ),
        bits as (
          select a.media_id,
            sum(case when a.s * b.c > b.s * a.c then a.p else 0::hugeint end) as hsum
          from filled a join filled b
            on b.media_id = a.media_id and b.k = (a.k + 1) % 64
          group by a.media_id
        )
        select media_id,
          (case when hsum >= 9223372036854775808::hugeint
                then hsum - 18446744073709551616::hugeint else hsum end)::bigint as fp
        from bits order by media_id"""
      }
    ),
    // Hamming-banded image near-dup pairs over the aHash (16-bit quarter
    // blocking — exact for maxHamming <= 15 by pigeonhole — then full
    // popcount verify): which images are perceptually close, never
    // all-pairs. Same candidate shape as q_simhash_pairs, on decoded
    // PIXELS instead of tokens.
    "q_image_near_dup" -> Q(
      (s, dir) =>
        graft.multimodal.PerceptualHash
          .nearDupPairs(
            graft.multimodal.PerceptualHash
              .hashes(Multimodal.synthesizeFromDocuments(docs(s, dir)))
              .toDF(),
            "media_id", "ahash", maxHamming = 8)
          .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
          .orderBy("id_a", "id_b"),
      Some(s"""$duckPhashCte,
        blocks as (
          select media_id, ahash, b.q,
            ((hsum // (1::hugeint << (16 * b.q))) % 65536)::bigint as key
          from ph, (values (0), (1), (2), (3)) b(q)
        ),
        cand as (
          select distinct l.media_id as id_a, r.media_id as id_b,
            cast(bit_count(xor(l.ahash, r.ahash)) as int) as hamming
          from blocks l join blocks r
            on l.q = r.q and l.key = r.key and l.media_id < r.media_id
        )
        select id_a, id_b, hamming from cand
        where hamming <= 8
        order by id_a, id_b""")
    ),
    // Image near-dup CLUSTERS: connected components over the perceptual
    // pairs (one canonical image per re-encode/variant family — the
    // dedup-keep decision for the multimodal corpus). Same label
    // convention as q_dedup_clusters: min id reachable through near-dup
    // edges; the twin replays the closure recursively.
    "q_image_clusters" -> Q(
      (s, dir) =>
        graft.dedup.Dedup
          .connectedComponents(
            graft.multimodal.PerceptualHash.nearDupPairs(
              graft.multimodal.PerceptualHash
                .hashes(Multimodal.synthesizeFromDocuments(docs(s, dir)))
                .toDF(),
              "media_id", "ahash", maxHamming = 8))
          .orderBy("id"),
      Some(s"""${duckPhashCte.replaceFirst("with ", "with recursive ")},
        blocks as (
          select media_id, ahash, b.q,
            ((hsum // (1::hugeint << (16 * b.q))) % 65536)::bigint as key
          from ph, (values (0), (1), (2), (3)) b(q)
        ),
        cand as (
          select distinct l.media_id as id_a, r.media_id as id_b
          from blocks l join blocks r
            on l.q = r.q and l.key = r.key and l.media_id < r.media_id
          where bit_count(xor(l.ahash, r.ahash)) <= 8
        ),
        edges as (
          select id_a as src, id_b as dst from cand
          union
          select id_b, id_a from cand
        ),
        reach(src, dst) as (
          select src, dst from edges
          union
          select r.src, e.dst from reach r join edges e on r.dst = e.src
        )
        select src as id, least(src, min(dst)) as label
        from reach group by src order by id""")
    ),
    // Multi-keyframe video near-dup: every keyframe on the declared 10s
    // grid of the REAL y4m containers is dHashed (not just the first
    // frame), and videos pair by keyframe-hash-SET Jaccard at 2/3 — the
    // SetSimJoin shape on 64-bit keys, candidates from an equi-join on
    // the hash itself (a perceptual hash is its own blocking key). The
    // twin replays every frame's 9x8 grid samples from the synthetic
    // mono formula, packs bits via the hugeint powers table, and
    // re-derives the pairs with plain SQL set arithmetic — a mismatch in
    // the y4m walk, the per-frame hash, or the overlap join hash-fails.
    "q_video_near_dup" -> Q(
      (s, dir) =>
        graft.multimodal.PerceptualHash
          .videoNearDupPairs(
            graft.multimodal.PerceptualHash.videoKeyframeHashes(
              Multimodal.synthesizeVideos(docs(s, dir))),
            // uncapped OPT-OUT (the production default is Some(64)): the
            // DuckDB twin replays the FULL equi-join, and this oracle
            // surface must stay sf-stable even if a scale factor ever
            // pushed a synthetic hash bucket past the cap
            num = 2, den = 3, maxBucket = None)
          .orderBy("id_a", "id_b"),
      Some {
        val powers = (0 until 64)
          .map(k => s"($k, ${BigInt(1) << k}::hugeint)").mkString(", ")
        def mono(gx: String): String =
          s"((family*7 + f*131 + ($gx)*13 + ((k // 8) * h // 8)*101) % 256)"
        val signed =
          "(case when dhsum >= 9223372036854775808::hugeint " +
            "then dhsum - 18446744073709551616::hugeint else dhsum end)::bigint"
        s"""
        with vid as (
          select doc_id as media_id,
            cast(doc_id % 23 as bigint) as family,
            cast((doc_id % 23) % 11 + 4 as bigint) as w,
            cast((doc_id % 23) % 5 + 4 as bigint) as h,
            cast((doc_id % 23) % 24 + 3 + (doc_id // 3) % 3 as bigint) as nf
          from documents where doc_id % 3 = 2
        ),
        powers (k, p) as (values $powers),
        frames as (
          select media_id, family, w, h, unnest(range(0, nf)) as f from vid
        ),
        cells as (select media_id, family, w, h, f, k, p
                  from frames cross join powers),
        dbits as (
          select media_id, f,
            sum(case when l0 > l1 then p else 0::hugeint end) as dhsum
          from (
            select media_id, f, p,
              ${mono("(k % 8) * w // 9")} as l0,
              ${mono("((k % 8) + 1) * w // 9")} as l1
            from cells
          ) group by media_id, f
        ),
        hs as (select distinct media_id, $signed as dhash from dbits),
        sizes as (select media_id, count(*) as sz from hs group by media_id),
        pairs as (
          select l.media_id as id_a, r.media_id as id_b, count(*) as inter
          from hs l join hs r on l.dhash = r.dhash and l.media_id < r.media_id
          group by 1, 2
        )
        select id_a, id_b, inter,
          sa.sz + sb.sz - inter as union_sz,
          cast(inter as double) / cast(sa.sz + sb.sz - inter as double) as jaccard
        from pairs
        join sizes sa on sa.media_id = id_a
        join sizes sb on sb.media_id = id_b
        where inter * 3 >= (sa.sz + sb.sz - inter) * 2
        order by id_a, id_b"""
      }
    ),
    "q_multimodal_meta" -> Q(
      (s, dir) => {
        val media = Multimodal.synthesizeFromDocuments(docs(s, dir)).toDF()
        // maxSide 12 sits inside the synthetic raster dim range (4..16) so
        // the resize path actually exercises both branches
        Multimodal
          .resizeMeta(Multimodal.frameOffsets(media, everyMs = 60000), maxSide = 12)
          .select(
            col("media_id"),
            col("kind"),
            col("meta.width").as("width"),
            col("meta.height").as("height"),
            col("meta.format").as("format"),
            size(col("frame_offsets_ms")).as("n_frames"),
            col("resized_width"),
            col("resized_height")
          )
          .orderBy("media_id")
      },
      // Meta twin of Multimodal.synthesizeOne: honest per-kind dims/format
      // (image=PPM raster dims, audio=0x0 wav, video=BMP keyframe dims with
      // a container-declared durationMs driving the frame grid)
      Some("""
        with m as (select doc_id as media_id, doc_id % 3 as k3 from documents),
        media as (
          select media_id,
            case k3 when 0 then 'image' when 1 then 'audio' else 'video' end as kind,
            cast(case k3 when 0 then media_id % 13 + 4 when 1 then 0
                 else media_id % 11 + 4 end as int) as width,
            cast(case k3 when 0 then media_id % 7 + 4 when 1 then 0
                 else media_id % 5 + 4 end as int) as height,
            case k3 when 0 then 'ppm' when 1 then 'wav' else 'bmp' end as format,
            cast(case k3 when 1 then (media_id % 50 + 40) * 1000 // 16000
                 when 2 then media_id % 300000 + 1000 else 0 end as int) as duration_ms
          from m
        )
        select media_id, kind, width, height, format,
          cast(case when kind = 'video'
                    then len(generate_series(0, duration_ms, 60000))
                    else 0 end as int) as n_frames,
          cast(floor(width * (case when greatest(width, height) > 12
                                   then cast(12 as double) / greatest(width, height)
                                   else cast(1 as double) end)) as int) as resized_width,
          cast(floor(height * (case when greatest(width, height) > 12
                                    then cast(12 as double) / greatest(width, height)
                                    else cast(1 as double) end)) as int) as resized_height
        from media order by media_id""")
    ),
    "q_multimodal_features" -> Q(
      (s, dir) =>
        Multimodal
          .decodeFeatures(
            Multimodal.synthesizeFromDocuments(docs(s, dir)), dim = 8)
          .toDF()
          .select(
            Seq(col("media_id"), col("kind"), col("n_bytes")) ++
              // Per-lane scalar projection: the driver's comparer can't
              // sort/hash a raw array column (round-1 `unhashable ndarray`
              // failure). Lane values are k/1000 for integer k, so the
              // decimal(5,3) cast is exact on both engines.
              (0 until 8).map(j =>
                element_at(col("features"), j + 1)
                  .cast("decimal(5,3)").as(s"f$j")): _*
          )
          .orderBy("media_id"),
      // Decode twin: the synthetic pixels/samples are integer functions of
      // (id, position), so the oracle recomputes the DECODED features —
      // 8-bin luminance histogram for rasters (PPM/BMP), 8-segment
      // mean-|amplitude| profile for WAV — and the exact container byte
      // sizes, all in integer arithmetic ending in exact k/1000 lanes
      // compared as decimal(5,3) strings (see Canon). The Scala side parses
      // real container bytes; the oracle replays the content formulas.
      Some("""
        with m as (select doc_id as media_id, doc_id % 3 as k3 from documents),
        rast as (
          select media_id, k3,
            cast(case k3 when 0 then media_id % 13 + 4 else media_id % 11 + 4 end as int) as w,
            cast(case k3 when 0 then media_id % 7 + 4 else media_id % 5 + 4 end as int) as h
          from m where k3 in (0, 2)
        ),
        px as (select media_id, k3, w, h, unnest(range(0, w*h)) as p from rast),
        rbin as (
          select media_id, k3, w, h,
            ((((media_id*7 + (p % w)*13 + (p // w)*101) % 256)
            + ((media_id*11 + (p % w)*17 + (p // w)*31) % 256)
            + ((media_id*13 + (p % w)*19 + (p // w)*61) % 256)) // 3) * 8 // 256 as bin
          from px
        ),
        rfeat as (
          select media_id, k3, max(w) as w, max(h) as h,
            [sum(case when bin = 0 then 1 else 0 end), sum(case when bin = 1 then 1 else 0 end),
             sum(case when bin = 2 then 1 else 0 end), sum(case when bin = 3 then 1 else 0 end),
             sum(case when bin = 4 then 1 else 0 end), sum(case when bin = 5 then 1 else 0 end),
             sum(case when bin = 6 then 1 else 0 end), sum(case when bin = 7 then 1 else 0 end)] as cnts
          from rbin group by media_id, k3
        ),
        rrows as (
          select media_id,
            case k3 when 0 then 'image' else 'video' end as kind,
            cast(case k3
              when 0 then 9 + len(cast(w as varchar)) + len(cast(h as varchar)) + 3*w*h
              else 54 + ((3*w + 3) // 4 * 4) * h end as int) as n_bytes,
            list_transform(cnts, c -> (c * 1000 // (w*h) / 1000.0)::real) as fs
          from rfeat
        ),
        aud as (select media_id, cast(media_id % 50 + 40 as int) as n from m where k3 = 1),
        smp as (select media_id, n, unnest(range(0, n)) as i from aud),
        sval as (
          select media_id, i * 8 // n as seg,
            abs((media_id*31 + i*997) % 65536 - 32768) as av
          from smp
        ),
        afeat as (
          select media_id,
            [sum(case when seg = 0 then av else 0 end), sum(case when seg = 1 then av else 0 end),
             sum(case when seg = 2 then av else 0 end), sum(case when seg = 3 then av else 0 end),
             sum(case when seg = 4 then av else 0 end), sum(case when seg = 5 then av else 0 end),
             sum(case when seg = 6 then av else 0 end), sum(case when seg = 7 then av else 0 end)] as sums,
            [sum(case when seg = 0 then 1 else 0 end), sum(case when seg = 1 then 1 else 0 end),
             sum(case when seg = 2 then 1 else 0 end), sum(case when seg = 3 then 1 else 0 end),
             sum(case when seg = 4 then 1 else 0 end), sum(case when seg = 5 then 1 else 0 end),
             sum(case when seg = 6 then 1 else 0 end), sum(case when seg = 7 then 1 else 0 end)] as cnts
          from sval group by media_id
        ),
        arows as (
          select a.media_id, 'audio' as kind,
            cast(44 + 2*d.n as int) as n_bytes,
            list_transform(range(0, 8), j ->
              (sums[(j+1)::int] * 1000 // (cnts[(j+1)::int] * 32768) / 1000.0)::real) as fs
          from afeat a join aud d on a.media_id = d.media_id
        ),
        allrows as (select * from rrows union all select * from arows)
        select media_id, kind, n_bytes,
          cast(fs[1] as decimal(5,3)) as f0, cast(fs[2] as decimal(5,3)) as f1,
          cast(fs[3] as decimal(5,3)) as f2, cast(fs[4] as decimal(5,3)) as f3,
          cast(fs[5] as decimal(5,3)) as f4, cast(fs[6] as decimal(5,3)) as f5,
          cast(fs[7] as decimal(5,3)) as f6, cast(fs[8] as decimal(5,3)) as f7
        from allrows order by media_id""")
    )
  )

  // ---- curation (packing / sampling / quantization / tf-idf) -------------

  /** Engine-stable md5 bucket, DuckDB side (SequencePacker.hashBucket /
    * Sampling.hashMille twin).
    */
  private def duckMdBucket(mod: Int): String =
    s"cast(cast('0x' || substr(md5(coalesce(cast(doc_id as varchar), '')), 1, 8) as bigint) % $mod as int)"

  /** Shared packing CTE prefix (SequencePacker.pack twin): tokens ->
    * (n_tokens, bucket) -> running cum_tokens. ONE definition for both
    * packing oracles so they cannot silently disagree about the grid.
    */
  private lazy val duckPackCte: String = s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        b as (
          select doc_id, cast(len(toks) as int) as n_tokens,
                 ${duckMdBucket(8)} as bucket
          from t
        ),
        w as (
          select doc_id, bucket, n_tokens,
            cast(sum(n_tokens) over (partition by bucket order by doc_id
              rows between unbounded preceding and current row) as bigint) as cum_tokens
          from b
        )"""

  /** Fixed BM25 query vocabulary for `q_bm25` (terms present in the
    * synthetic corpus at every SF).
    */
  private val Bm25QueryTerms = Seq("spark", "hash", "window", "stream")

  /** Query set for the multi-query retrieval twins (`q_bm25_topk`,
    * `q_bm25_indexed`).
    */
  private val Bm25QuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "query",
    2 -> "stream", 2 -> "window", 2 -> "batch",
    3 -> "vector", 3 -> "hash")

  /** Shared DuckDB CTE chain ranking EVERY document against every query of
    * [[Bm25QuerySet]] — `r` carries (query_id, doc_id, n_matched, rscore,
    * rank). ONE definition feeds the inline path (`q_bm25_topk`), the
    * stored-index path (`q_bm25_indexed`) and the sparse leg of the hybrid
    * fusion (`q_hybrid_rrf`): the index stores exactly the (tf, dl, N,
    * avgdl) the inline path computes, so all must hash to this replay.
    * Ranking happens on the floor-rounded score in BOTH engines, so every
    * top-k cut is identical; the decimal cast then has nothing to round.
    * tf * 2.2 must be double arithmetic (see q_bm25's literal-cast note).
    */
  private def bm25RankCtes: String = bm25RankCtesOver("documents")

  /** The same chain over a restricted corpus — `src` is any relation
    * expression yielding (doc_id, text); `q_erasure_indexes` passes the
    * retained-documents filter so the twin replays retrieval over a
    * REBUILD from the retained corpus.
    */
  private def bm25RankCtesOver(src: String): String = s"""
        t as (select doc_id, $duckTokens as toks from $src),
        stats as (
          select count(*) as n, cast(sum(len(toks)) as double) / count(*) as avgdl
          from t
        ),
        dl as (select doc_id, len(toks) as dl from t),
        qs (query_id, term) as (
          values ${Bm25QuerySet.map { case (q, t) => s"($q, '$t')" }.mkString(", ")}
        ),
        tf as (
          select doc_id, term, count(*) as tf
          from (select doc_id, unnest(toks) as term from t)
          where term in (select term from qs)
          group by doc_id, term
        ),
        dfreq as (select term, count(*) as df from tf group by term),
        sc as (
          select tf.doc_id, tf.term,
            ln(1 + (cast(n as double) - df + 0.5) / (df + 0.5))
              * (tf * cast(2.2 as double))
              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) as ts
          from tf join dfreq using (term) join dl using (doc_id) cross join stats
        ),
        pq as (
          select query_id, doc_id,
            count(*) as n_matched, ${duckRound("sum(ts)", 6)} as rscore
          from sc join qs using (term) group by query_id, doc_id
        ),
        r as (
          select query_id, doc_id, n_matched, rscore,
            row_number() over (partition by query_id order by rscore desc, doc_id) as rank
          from pq
        )"""

  private def bm25TopKOracle: String = bm25TopKOracleOver("documents")

  private def bm25TopKOracleOver(src: String): String = s"""
        with ${bm25RankCtesOver(src)}
        select query_id, cast(rank as int) as rank, doc_id,
          cast(n_matched as int) as n_matched,
          cast(rscore as decimal(14,6)) as score
        from r where rank <= 10 order by query_id, rank"""

  /** The logical-erasure serve twin (`q_erase_logical`): scores come
    * from the FULL corpus chain — the deletion vector has not settled,
    * so N/avgdl/df still include the masked documents — and the mask
    * subtracts candidates between scoring and ranking, exactly where
    * [[graft.text.Bm25.retrieveTopKIndexed]]'s `maskIds` anti-join
    * sits, so ranks are dense over the retained candidates.
    */
  private def bm25TopKOracleMasked(retainPred: String): String = s"""
        with ${bm25RankCtesOver("documents")},
        rm as (
          select query_id, doc_id, n_matched, rscore,
            row_number() over (partition by query_id
              order by rscore desc, doc_id) as rank
          from pq where $retainPred
        )
        select query_id, cast(rank as int) as rank, doc_id,
          cast(n_matched as int) as n_matched,
          cast(rscore as decimal(14,6)) as score
        from rm where rank <= 10 order by query_id, rank"""

  val curationQueries: ListMap[String, Q] = ListMap(
    "q_seq_pack" -> Q(
      (s, dir) =>
        graft.text.SequencePacker
          .pack(
            docs(s, dir).select(col("doc_id"), col("text")),
            "doc_id",
            TextAnalysis.tokenCount(col("text")),
            budget = 512,
            buckets = 8)
          .select(
            col("doc_id"),
            col("bucket"),
            col("n_tokens"),
            col("cum_tokens"),
            col("pack_id"))
          .orderBy("doc_id"),
      Some(s"""$duckPackCte
        select doc_id, bucket, n_tokens, cum_tokens,
          cast(floor((cum_tokens - n_tokens) / 512) as int) as pack_id
        from w order by doc_id""")
    ),
    "q_seq_pack_chunks" -> Q(
      (s, dir) =>
        graft.text.SequencePacker
          .chunks(
            graft.text.SequencePacker.pack(
              docs(s, dir).select(col("doc_id"), col("text")),
              "doc_id",
              TextAnalysis.tokenCount(col("text")),
              budget = 512,
              buckets = 8),
            budget = 512)
          .select(col("doc_id"), col("bucket"), col("pack_id"), col("chunk_tokens"))
          .orderBy("doc_id", "pack_id"),
      Some(s"""$duckPackCte,
        c as (
          select doc_id, bucket, n_tokens, cum_tokens,
            cum_tokens - n_tokens as strt,
            unnest(generate_series(
              cast(floor((cum_tokens - n_tokens) / 512) as int),
              cast(floor((cum_tokens - 1) / 512) as int))) as pack_id
          from w where n_tokens > 0
        )
        select doc_id, bucket, cast(pack_id as int) as pack_id,
          cast(least(cum_tokens, (pack_id + 1) * 512)
               - greatest(strt, pack_id * 512) as int) as chunk_tokens
        from c order by doc_id, pack_id""")
    ),
    "q_stratified_sample" -> Q(
      (s, dir) =>
        graft.operators.Sampling
          .stratifiedSample(
            docs(s, dir).select(col("doc_id"), col("n_chars")),
            "doc_id",
            when(col("n_chars") < 200, "short")
              .when(col("n_chars") < 1000, "medium")
              .otherwise("long"),
            rates = Map("short" -> 0.25, "medium" -> 0.5),
            defaultRate = 0.75)
          .select(col("doc_id"), col("stratum"), col("mille"))
          .orderBy("doc_id"),
      Some(s"""
        with b as (
          select doc_id,
            case when n_chars < 200 then 'short'
                 when n_chars < 1000 then 'medium'
                 else 'long' end as stratum,
            ${duckMdBucket(1000)} as mille
          from documents
        )
        select doc_id, stratum, mille from b
        where mille < (case stratum when 'short' then 250
                                    when 'medium' then 500
                                    else 750 end)
        order by doc_id""")
    ),
    "q_weighted_sample" -> Q(
      (s, dir) =>
        graft.operators.Sampling
          .weightedPerGroup(
            docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
            "doc_id", "source", col("n_chars"), n = 5)
          .select(col("doc_id"), col("source"), col("n_chars"), col("es_rank"))
          .orderBy("source", "es_rank"),
      // Efraimidis–Spirakis replay: identical md5-derived u (exact
      // power-of-two division), identical ln(u)/w ranking key, same
      // (key desc, id) tie-break
      Some(s"""
        select doc_id, source, n_chars, es_rank from (
          select doc_id, source, n_chars,
            cast(row_number() over (partition by source order by
              ln((cast('0x' || substr(md5(cast(doc_id as varchar)), 1, 8) as bigint) + 1.0)
                 / 4294967296.0) / n_chars desc, doc_id) as int) as es_rank
          from documents
          where n_chars is not null and n_chars > 0
        ) where es_rank <= 5
        order by source, es_rank""")
    ),
    "q_embed_quantize" -> Q(
      (s, dir) => {
        import graft.similarity.Quantize
        emb(s, dir)
          .withColumn("_scale", Quantize.scaleOf(col("embedding")))
          .withColumn("_q", Quantize.quantize(col("embedding"), col("_scale")))
          .select(
            col("vec_id"),
            roundHalfUp(col("_scale"), 9).cast("decimal(18,9)").as("scale_q"),
            Quantize.qNorm2(col("_q")).as("q_norm2"),
            roundHalfUp(
              Quantize.reconstructionError(col("embedding"), col("_q"), col("_scale")),
              6).cast("decimal(14,6)").as("recon_err")
          )
          .orderBy("vec_id")
      },
      Some(s"""
        with s as (
          select vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(cast(x as double)))) / 127.0 as scale
          from embeddings
        ),
        q as (
          select vec_id, embedding, scale,
            list_transform(embedding, x ->
              case when scale > 0
                   then greatest(-127::bigint, least(127::bigint,
                          cast(floor(cast(x as double) / scale + 0.5) as bigint)))
                   else 0::bigint end) as qv
          from s
        ),
        e as (
          select vec_id, scale, qv,
            list_reduce(list_prepend(0::bigint, qv), (a, b) -> a + b * b) as q_norm2,
            sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i ->
              (cast(embedding[i] as double) - qv[i] * scale) *
              (cast(embedding[i] as double) - qv[i] * scale))), (a, b) -> a + b)) as err
          from q
        )
        select vec_id,
          cast(${duckRound("scale", 9)} as decimal(18,9)) as scale_q,
          cast(q_norm2 as bigint) as q_norm2,
          cast(${duckRound("err", 6)} as decimal(14,6)) as recon_err
        from e order by vec_id""")
    ),
    "q_decontaminate" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        graft.text.Decontaminate
          .overlapStats(
            corpus = d.filter(col("doc_id") % 50 =!= 0),
            benchmark = d.filter(col("doc_id") % 50 === 0),
            "doc_id",
            col("text"),
            k = 5)
          .select(
            col("doc_id"),
            col("n_shingles"),
            col("n_overlap"),
            roundHalfUp(col("overlap_frac"), 6)
              .cast("decimal(9,6)").as("overlap_frac"))
          .orderBy("doc_id")
      },
      // 5-shingle twin of the minhash oracle's 3-shingle CTE (same
      // short-doc whole-sequence clamp); benchmark = every 50th doc id
      Some(s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        sh as (
          select doc_id,
            list_distinct(list_transform(
              range(1, cast(greatest(len(toks) - 4, 1) as int) + 1),
              i -> array_to_string(list_slice(toks, i, i + 4), ' '))) as shs
          from t
        ),
        ex as (select doc_id, unnest(shs) as shingle from sh),
        bench as (select distinct shingle from ex where doc_id % 50 = 0),
        corp as (select * from ex where doc_id % 50 <> 0),
        tot as (select doc_id, count(*) as n_shingles from corp group by doc_id),
        ov as (
          select c.doc_id, count(*) as n_overlap
          from corp c join bench b using (shingle) group by c.doc_id
        )
        select tot.doc_id, n_shingles,
          coalesce(n_overlap, 0) as n_overlap,
          cast(${duckRound("coalesce(n_overlap, 0) / cast(n_shingles as double)", 6)}
               as decimal(9,6)) as overlap_frac
        from tot left join ov using (doc_id) order by doc_id""")
    ),
    "q_lm_surprisal" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        // corpus N computed in-plan (broadcast single-row agg) — no driver
        // pre-scan, one job
        graft.text.LmScore
          .surprisal(d, "doc_id", col("text"))
          .select(
            col("doc_id"),
            col("n_tokens"),
            roundHalfUp(col("surprisal"), 6)
              .cast("decimal(12,6)").as("surprisal"))
          .orderBy("doc_id")
      },
      Some(s"""
        with toks as (
          select doc_id, unnest($duckTokens) as term from documents
        ),
        tf as (select doc_id, term, count(*) as tf from toks group by doc_id, term),
        cc as (select term, cast(sum(tf) as bigint) as c from tf group by term),
        n as (select cast(sum(tf) as bigint) as n from tf),
        agg as (
          select tf.doc_id,
            cast(sum(tf.tf) as bigint) as n_tokens,
            sum(tf.tf * ln(cast(n.n as double) / c)) / sum(tf.tf) as s
          from tf join cc using (term) cross join n
          group by tf.doc_id
        )
        select doc_id, n_tokens,
          cast(${duckRound("s", 6)} as decimal(12,6)) as surprisal
        from agg order by doc_id""")
    ),
    "q_tfidf_topk" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        // corpus N computed in-plan (broadcast single-row agg) — no driver
        // pre-scan, one job
        graft.text.TfIdf
          .topTerms(d, "doc_id", col("text"), k = 3)
          .select(
            col("doc_id"),
            col("term"),
            col("tf").cast("int").as("tf"),
            col("df").cast("int").as("df"),
            roundHalfUp(col("score"), 6).cast("decimal(18,6)").as("score"),
            col("rank").cast("int").as("rank"))
          .orderBy("doc_id", "rank")
      },
      Some(s"""
        with toks as (
          select doc_id, unnest($duckTokens) as term from documents
        ),
        tf as (select doc_id, term, count(*) as tf from toks group by doc_id, term),
        dfreq as (select term, count(*) as df from tf group by term),
        n as (select count(*) as n from documents),
        scored as (
          select tf.doc_id, tf.term, tf.tf, dfreq.df,
            tf.tf * ln(cast(n.n + 1 as double) / cast(dfreq.df + 1 as double)) as score
          from tf join dfreq using (term) cross join n
        ),
        ranked as (
          select *, row_number() over (partition by doc_id
            order by score desc, term) as rank
          from scored
        )
        select doc_id, term, cast(tf as int) as tf, cast(df as int) as df,
          cast(${duckRound("score", 6)} as decimal(18,6)) as score,
          cast(rank as int) as rank
        from ranked where rank <= 3 order by doc_id, rank""")
    ),
    "q_bm25" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        // N and avgdl computed in-plan (broadcast single-row agg) — no
        // driver pre-scan, one job
        graft.text.Bm25
          .score(d, "doc_id", col("text"), Bm25QueryTerms)
          .select(
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            roundHalfUp(col("score"), 6).cast("decimal(14,6)").as("score"))
          .orderBy("doc_id")
      },
      // k1=1.2 b=0.75; N and avgdl from the same corpus. Non-binary-exact
      // literals multiplying INTEGER columns are cast to double: DuckDB
      // evaluates bare decimal-literal x integer in EXACT decimal
      // arithmetic (3*2.2 = 6.6 exactly) while Spark uses IEEE doubles
      Some(s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        stats as (
          select count(*) as n, cast(sum(len(toks)) as double) / count(*) as avgdl
          from t
        ),
        dl as (select doc_id, len(toks) as dl from t),
        tf as (
          select doc_id, term, count(*) as tf
          from (select doc_id, unnest(toks) as term from t)
          where term in (${Bm25QueryTerms.map(t => s"'$t'").mkString(", ")})
          group by doc_id, term
        ),
        dfreq as (select term, count(*) as df from tf group by term),
        s as (
          select tf.doc_id,
            ln(1 + (cast(n as double) - df + 0.5) / (df + 0.5))
              * (tf * cast(2.2 as double))
              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) as ts
          from tf join dfreq using (term) join dl using (doc_id) cross join stats
        )
        select doc_id, cast(count(*) as int) as n_matched,
          cast(${duckRound("sum(ts)", 6)} as decimal(14,6)) as score
        from s group by doc_id order by doc_id""")
    ),
    "q_substring_dedup" -> Q(
      (s, dir) =>
        graft.dedup.SubstringDedup
          .duplicateSpans(docs(s, dir), "doc_id", col("text"), k = 5)
          .select(
            col("doc_id"),
            col("span_id"),
            col("start_tok").cast("int").as("start_tok"),
            col("end_tok").cast("int").as("end_tok"),
            col("n_tokens"),
            col("n_shingles"))
          .orderBy("doc_id", "span_id"),
      // positioned 5-shingles (clamped like WordShinglesExpr), 60-bit md5
      // hash, count(*)>1 dup mark, gaps-and-islands merge with gap > k
      Some(s"""
        with t as (
          select doc_id, toks from (select doc_id, $duckTokens as toks from documents
                                    where text is not null) where len(toks) > 0
        ),
        p as (
          select doc_id, len(toks) as n_toks, toks,
            unnest(range(1, cast(greatest(len(toks) - 4, 1) as int) + 1)) as i
          from t
        ),
        sh as (
          select doc_id, n_toks, i - 1 as pos,
            cast('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 15)
                 as bigint) as h
          from p
        ),
        dup as (select h from sh group by h having count(*) > 1),
        fl as (
          select doc_id, n_toks, pos,
            case when lag(pos) over (partition by doc_id order by pos) is null
                   or pos - lag(pos) over (partition by doc_id order by pos) > 5
                 then 1 else 0 end as nw
          from sh join dup using (h)
        ),
        g as (
          select doc_id, n_toks, pos,
            sum(nw) over (partition by doc_id order by pos rows unbounded preceding) - 1 as span_id
          from fl
        )
        select doc_id, cast(span_id as int) as span_id,
          cast(min(pos) as int) as start_tok,
          cast(max(least(pos + 4, n_toks - 1)) as int) as end_tok,
          cast(max(least(pos + 4, n_toks - 1)) - min(pos) + 1 as int) as n_tokens,
          cast(count(*) as int) as n_shingles
        from g group by doc_id, span_id order by doc_id, span_id""")
    ),
    "q_winnow" -> Q(
      (s, dir) =>
        graft.text.Winnow
          .fingerprints(docs(s, dir), "doc_id", col("text"), k = 3, w = 4)
          .orderBy("doc_id", "pos"),
      // same folded (hash, -pos) key: h * 2^20 + (2^20-1 - pos); complete
      // windows of 4, plus the pos-0 window of short docs
      Some(s"""
        with t as (
          select doc_id, toks from (select doc_id, $duckTokens as toks from documents
                                    where text is not null) where len(toks) > 0
        ),
        p as (
          select doc_id, toks,
            unnest(range(1, cast(greatest(len(toks) - 2, 1) as int) + 1)) as i
          from t
        ),
        g as (
          select doc_id, i - 1 as pos,
            cast('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 8)
                 as bigint) * 1048576 + (1048575 - (i - 1)) as key
          from p
        ),
        wnd as (
          select doc_id, pos,
            min(key) over (partition by doc_id order by pos
                           rows between current row and 3 following) as sel,
            count(*) over (partition by doc_id order by pos
                           rows between current row and 3 following) as cnt
          from g
        ),
        chosen as (
          select distinct doc_id, sel from wnd
          where cnt = 4 or (pos = 0 and cnt < 4)
        )
        select doc_id,
          cast(1048575 - (sel % 1048576) as int) as pos,
          cast(sel // 1048576 as bigint) as fp
        from chosen order by doc_id, pos""")
    ),
    "q_chunk_sliding" -> Q(
      (s, dir) =>
        graft.text.Chunker
          .slidingChunks(docs(s, dir), "doc_id", col("text"), size = 32, stride = 24)
          .orderBy("doc_id", "chunk_id"),
      // starts at multiples of 24; last start = max(ceil((n-32)/24), 0);
      // list_slice clamps the tail exactly like Spark's slice
      Some(s"""
        with t as (
          select doc_id, toks from (select doc_id, $duckTokens as toks from documents
                                    where text is not null) where len(toks) > 0
        ),
        c as (
          select doc_id, toks, len(toks) as n,
            unnest(range(0, greatest(cast(ceil((len(toks) - 32) * 1.0 / 24) as int), 0) + 1))
              as chunk_id
          from t
        )
        select doc_id, cast(chunk_id as int) as chunk_id,
          cast(chunk_id * 24 as int) as start_tok,
          cast(least(32, n - chunk_id * 24) as int) as chunk_tokens,
          array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
            as chunk_text
        from c order by doc_id, chunk_id""")
    ),
    "q_drift_psi" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val even = d.filter(col("doc_id") % 2 === 0)
        val odd = d.filter(col("doc_id") % 2 === 1)
        // slice totals recovered in-plan from the per-bucket counts (tiny
        // whole-frame window) — no driver pre-count, one job
        graft.validate.Drift
          .psiByBucket(
            even, odd,
            least(floor(col("n_chars") / 100).cast("long"), lit(9L)).cast("int"),
            domainSize = 10)
          .select(
            col("bucket"),
            col("cnt_a"),
            col("cnt_b"),
            roundHalfUp(col("psi"), 9).cast("decimal(14,9)").as("psi"))
          .orderBy("bucket")
      },
      // add-0.5 smoothing over the fixed 10-bucket domain; totals are exact
      // integers so the literal-vs-subquery difference cannot drift
      Some(s"""
        with d as (
          select doc_id,
            cast(least(cast(floor(n_chars / 100) as bigint), 9) as int) as bucket
          from documents
        ),
        a as (select bucket, count(*) as cnt_a from d where doc_id % 2 = 0 group by bucket),
        b as (select bucket, count(*) as cnt_b from d where doc_id % 2 = 1 group by bucket),
        ta as (select count(*) as tot_a from d where doc_id % 2 = 0),
        tb as (select count(*) as tot_b from d where doc_id % 2 = 1),
        j as (
          select bucket,
            coalesce(cnt_a, 0) as cnt_a, coalesce(cnt_b, 0) as cnt_b,
            (coalesce(cnt_a, 0) + 0.5) / (tot_a + 5.0) as pa,
            (coalesce(cnt_b, 0) + 0.5) / (tot_b + 5.0) as pb
          from a full outer join b using (bucket) cross join ta cross join tb
        )
        select bucket, cnt_a, cnt_b,
          cast(${duckRound("(pa - pb) * ln(pa / pb)", 9)} as decimal(14,9)) as psi
        from j order by bucket""")
    ),
    "q_bm25_topk" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val queries = Bm25QuerySet.toDF("query_id", "term")
        // N and avgdl computed in-plan (broadcast single-row agg) — no
        // driver pre-scan, one job
        graft.text.Bm25
          .retrieveTopK(d, "doc_id", col("text"), queries, topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            col("score").cast("decimal(14,6)").as("score"))
          .orderBy("query_id", "rank")
      },
      // shared twin: see bm25TopKOracle's scaladoc
      Some(bm25TopKOracle)
    ),
    "q_bm25_indexed" -> Q(
      (s, dir) => {
        import s.implicits._
        // the index IS the operator under test (the q_shards_readback
        // pattern), exercised in its DAILY-INGEST shape: build on half
        // the corpus, APPEND the other half (exact stats merge), then
        // retrieval runs purely against the loaded files — corpus text
        // never read at query time, and the twin replays the one-shot
        // full corpus, so append must be bit-identical to a full rebuild
        val idx = s"${sys.props("java.io.tmpdir")}/graft_bm25_idx_${math.abs(dir.hashCode)}"
        val all = docs(s, dir)
        graft.text.Bm25.writeSearchIndex(
          all.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", col("text"), idx)
        graft.text.Bm25.appendSearchIndex(
          all.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", col("text"), idx)
        val (postings, stats) = graft.text.Bm25.loadSearchIndex(s, idx)
        graft.text.Bm25
          .retrieveTopKIndexed(postings, stats, "doc_id",
            Bm25QuerySet.toDF("query_id", "term"), topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            col("score").cast("decimal(14,6)").as("score"))
          .orderBy("query_id", "rank")
      },
      // IDENTICAL twin to q_bm25_topk — the stored index must reproduce
      // the inline retrieval bit-for-bit at the rounded ranking grain
      Some(bm25TopKOracle)
    ),
    "q_compact_serve" -> Q(
      (s, dir) => {
        import s.implicits._
        // small-file compaction is content-preserving end to end: build
        // on half the corpus, append the other half (each epoch lands
        // delta files), COMPACT the store back to canonical sized files
        // (Bm25.compactSearchIndex), then serve — against the SAME
        // full-rebuild twin q_bm25_indexed uses. The compaction must be
        // invisible at the rounded ranking grain, and the file count
        // must actually drop (the lit(1)-guard column pins that the
        // rewrite really ran instead of no-opping).
        val idx = s"${sys.props("java.io.tmpdir")}/graft_bm25_cpt_${math.abs(dir.hashCode)}"
        new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(idx), true)
        val all = docs(s, dir)
        graft.text.Bm25.writeSearchIndex(
          all.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", col("text"), idx)
        graft.text.Bm25.appendSearchIndex(
          all.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", col("text"), idx)
        val (before, after) =
          graft.text.Bm25.compactSearchIndex(s, idx, targetBytes = 8L << 20)
        require(after < before,
          s"compaction must reduce the postings file count ($before -> $after)")
        val (postings, stats) = graft.text.Bm25.loadSearchIndex(s, idx)
        graft.text.Bm25
          .retrieveTopKIndexed(postings, stats, "doc_id",
            Bm25QuerySet.toDF("query_id", "term"), topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            col("score").cast("decimal(14,6)").as("score"))
          .orderBy("query_id", "rank")
      },
      // the stored-index twin again: compaction must serve bit-identically
      Some(bm25TopKOracle)
    ),
    // GDPR erasure through the SERVING index (Erasure scaladoc: erasure
    // that leaves documents recoverable from a postings index is not
    // erasure): build the BM25 index over the FULL corpus, erase the
    // subjects' documents from the STORE (postings purge + exact
    // N/token-total decrement, Bm25.eraseFromSearchIndex), then serve.
    // The twin replays retrieval over a REBUILD from the retained
    // corpus — so the hash match proves erased docs are neither
    // retrievable nor able to influence ranking through stale
    // N/avgdl/df. Build jobs bounded (PlanGuardSpec exemption).
    "q_erasure_indexes" -> Q(
      (s, dir) => {
        import s.implicits._
        val idx =
          s"${sys.props("java.io.tmpdir")}/graft_bm25_erase_${math.abs(dir.hashCode)}"
        val all = docs(s, dir)
        graft.text.Bm25.writeSearchIndex(all, "doc_id", col("text"), idx)
        val keys = all.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"))
        graft.text.Bm25.eraseFromSearchIndex(s, idx, keys, "doc_id")
        val (postings, stats) = graft.text.Bm25.loadSearchIndex(s, idx)
        graft.text.Bm25
          .retrieveTopKIndexed(postings, stats, "doc_id",
            Bm25QuerySet.toDF("query_id", "term"), topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            col("score").cast("decimal(14,6)").as("score"))
          .orderBy("query_id", "rank")
      },
      Some(bm25TopKOracleOver("(select * from documents where doc_id % 7 <> 0)"))
    ),
    // logical erasure through the SERVING index — q_erasure_indexes' fast
    // path (graft.operators.DeletionVectors): the subjects' key set lands
    // as one request-sized deletion vector (NO store rewrite — the index
    // on disk is untouched), and retrieval masks the vector between
    // scoring and ranking. The twin replays the FULL-corpus ranking chain
    // and subtracts the same ids before the rank — so the hash match
    // proves masked docs are never returned, ranks stay dense over the
    // retained candidates, and scores still carry the UNSETTLED
    // N/avgdl/df (the module's documented eventual-consistency window;
    // q_erasure_indexes pins the settled end state where those stats
    // subtract). Build jobs bounded (PlanGuardSpec exemption).
    "q_erase_logical" -> Q(
      (s, dir) => {
        import s.implicits._
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_bm25_dv_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        graft.text.Bm25.writeSearchIndex(all, "doc_id", col("text"), s"$root/search")
        graft.operators.DeletionVectors.append(s, root,
          all.filter(pmod(col("doc_id"), lit(17)) === 3).select(col("doc_id")))
        require(graft.operators.DeletionVectors.load(s, root).nonEmpty,
          "erase-logical: the appended vector must load")
        // served through the DEFAULT-masked entry point (round 11): the
        // caller passes no maskIds — forgetting the mask is no longer
        // possible on this path, and the oracle pins that default
        graft.text.Bm25
          .searchServing(s, s"$root/search", root,
            Bm25QuerySet.toDF("query_id", "term"), topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            col("score").cast("decimal(14,6)").as("score"))
          .orderBy("query_id", "rank")
      },
      Some(bm25TopKOracleMasked("doc_id % 17 <> 3"))
    ),
    // SUBJECT-keyed erasure (CurateCli.runEraseLogicalBySubject): a real
    // Art. 17 request names a PERSON who owns MANY documents — the verb
    // resolves the subjects through the owner mapping (one semi-join,
    // durable content-addressed capture under .rights-resolved/) and
    // lands the documents' global deletion vector; the masked serve must
    // hide every owned document. The twin resolves through the SAME
    // ownership rule (subject = doc_id % 97) as a predicate, so the hash
    // match pins the resolution step end to end — the front door the
    // whole rights layer assumed upstream until round 11. Build jobs
    // bounded (PlanGuardSpec exemption).
    "q_erase_by_subject" -> Q(
      (s, dir) => {
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_bysubj_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        // owner mapping: 97 subjects, each owning many documents
        all.select(pmod(col("doc_id"), lit(97)).as("subject_id"),
          col("doc_id"))
          .write.parquet(s"$root/mapping")
        // the request names subjects, never row ids
        s.range(97).select(col("id").as("subject_id"))
          .filter(pmod(col("subject_id"), lit(13)) === 5)
          .write.parquet(s"$root/subjects")
        graft.cli.CurateCli.runEraseLogicalBySubject(
          s, s"$root/subjects", s"$root/mapping", root)
        graft.operators.DeletionVectors.maskServing(s, root, all)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""
        select source, count(*) as n_docs,
          cast(sum(n_chars) as bigint) as sum_chars
        from documents
        where (doc_id % 97) % 13 <> 5
        group by source order by source""")
    ),
    // GDPR Art. 16 rectification through the SERVING index (the Art. 17
    // q_erasure_indexes' dual — graft.operators.Rectify scaladoc:
    // rectification that leaves the OLD text retrievable from a postings
    // index, or ranking through stale stats, has not rectified anything):
    // build the BM25 index over the full corpus, REPLACE every
    // doc_id % 41 == 0 document's text in the STORE (postings + docs-leg
    // rows re-derived from the corrected text, corpus stats recomputed —
    // Bm25.rectifySearchIndex, one commit), then serve. The twin replays
    // retrieval over a REBUILD from the corrected corpus — the hash match
    // proves the old text is gone, the new text is retrievable, and
    // N/avgdl/df reflect the corrected token counts exactly (the appended
    // " rectified data spark" suffix shifts dl, avgdl AND the probed
    // 'spark' tf/df, so stale stats cannot hide). Build jobs bounded
    // (PlanGuardSpec exemption).
    "q_rectify" -> Q(
      (s, dir) => {
        import s.implicits._
        val idx =
          s"${sys.props("java.io.tmpdir")}/graft_bm25_rectify_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(idx), true)
        val all = docs(s, dir)
        graft.text.Bm25.writeSearchIndex(all, "doc_id", col("text"), idx)
        val corrected = all.filter(pmod(col("doc_id"), lit(41)) === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" rectified data spark")).as("text"))
        graft.text.Bm25.rectifySearchIndex(s, idx, corrected, "doc_id", col("text"))
        val (postings, stats) = graft.text.Bm25.loadSearchIndex(s, idx)
        graft.text.Bm25
          .retrieveTopKIndexed(postings, stats, "doc_id",
            Bm25QuerySet.toDF("query_id", "term"), topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_matched").cast("int").as("n_matched"),
            col("score").cast("decimal(14,6)").as("score"))
          .orderBy("query_id", "rank")
      },
      Some(bm25TopKOracleOver(
        "(select doc_id, case when doc_id % 41 = 0 " +
          "then text || ' rectified data spark' else text end as text " +
          "from documents)"))
    ),
    // Store-consistency auditor (fsck): build the BM25 and exact prefix
    // indexes in-query, then verify the invariants their REDUNDANT state
    // makes checkable — stored stats bit-equal to a docs-leg recompute,
    // postings ⊆ membership legs, per-id prefix counts exactly what the
    // stored sz implies at the index threshold, no unrecovered commit
    // markers. The literal oracle pins the full check list at ok=1: a
    // maintenance change that breaks an invariant (or silently DROPS a
    // check) hash-fails. Build jobs bounded (PlanGuard exemption).
    "q_fsck" -> Q(
      (s, dir) => {
        import s.implicits._
        val root = s"${sys.props("java.io.tmpdir")}/graft_fsck_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        // r14 (guide §2.6): the two index builds are independent store
        // trees, and the two census legs each read only their own tree —
        // overlap them so one chain's small jobs back-fill the other's
        // scheduling gaps. Same checks, same order, same output.
        graft.operators.Par.unit(
          () => graft.text.Bm25.writeSearchIndex(
            all, "doc_id", col("text"), s"$root/search"),
          () => {
            val sets = all.select(col("doc_id"),
              array_distinct(transform(
                graft.dedup.Dedup.wordShingles(col("text"), 3), x => md5(x))).as("sh"))
            graft.dedup.SetSimJoin.writeIndex(sets, "doc_id", "sh", 2, 5, s"$root/exact")
          })
        val checks = graft.operators.Par.run[Seq[graft.operators.Fsck.Check]](Seq(
          () => graft.operators.Fsck.searchIndex(s, s"$root/search"),
          () => graft.operators.Fsck.exactIndex(s, s"$root/exact"))).flatten
        checks.map(c => (c.component, c.check, if (c.ok) 1 else 0))
          .toDF("component", "check", "ok")
          .orderBy("component", "check")
      },
      Some("""
        select * from (values
          ('exact', 'no_pending_marker', 1),
          ('exact', 'no_retired_tree', 1),
          ('exact', 'no_stage_tree', 1),
          ('exact', 'postings_subset_sets', 1),
          ('exact', 'prefix_count_exact', 1),
          ('exact', 'sets_unique', 1),
          ('search', 'dl_consistent', 1),
          ('search', 'docs_unique', 1),
          ('search', 'no_pending_marker', 1),
          ('search', 'no_retired_tree', 1),
          ('search', 'no_stage_tree', 1),
          ('search', 'postings_subset_docs', 1),
          ('search', 'stats_exact', 1)
        ) t(component, "check", ok)
        order by component, "check"""")
    ),
    "q_fsck_stores" -> Q(
      (s, dir) => {
        import s.implicits._
        // the auditor's OTHER store families (q_fsck covers the search
        // and exact indexes): a dense IVF index, a two-batch shard tree,
        // and an SCD-2 snapshot store with real supersessions — built
        // in-query, then audited. The literal oracle pins every check
        // name and verdict, so a broken invariant OR a silently-dropped
        // check both hash-fail.
        val root = s"${sys.props("java.io.tmpdir")}/graft_fsckst_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        // r14 (guide §2.6): the five store fixtures live in disjoint
        // subtrees and the census legs each read only their own tree —
        // this flow is ~125 small jobs whose cost is scheduling latency,
        // not compute, so independent chains overlap. Chains with real
        // ordering stay sequential INSIDE their thunk (snapshot
        // write->merge, events merge 1->2, dv-append before the fake
        // dead lease lands at the same root). Same checks, same order.
        import graft.pipeline.Snapshot
        import graft.operators.EventStatsStore
        graft.operators.Par.unit(
          () => graft.operators.Shards.write(
            all.filter(col("doc_id") % 2 === 0), "doc_id",
            s"$root/shards/batch=0", 4, orderCols = Seq("source")),
          () => graft.operators.Shards.write(
            all.filter(col("doc_id") % 2 === 1), "doc_id",
            s"$root/shards/batch=1", 4, orderCols = Seq("source")),
          () => {
            val e = emb(s, dir)
            val (centroids, assigned) =
              graft.similarity.Ivf.build(e, "vec_id", "embedding", k = 8, iters = 2)
            graft.similarity.Ivf.writeIndex(
              centroids, assigned, "vec_id", "embedding", s"$root/dense")
          },
          () => {
            val b0 = all.select(col("doc_id"), col("source"), col("n_chars"),
              lit(1).as("updated_at"))
            Snapshot.initStore(b0, "doc_id", "updated_at",
              s"$root/snapshot", buckets = 4)
            val b1 = all.filter(col("doc_id") % 3 === 0)
              .select(col("doc_id"), col("source"),
                (col("n_chars") + 7).as("n_chars"), lit(2).as("updated_at"))
            Snapshot.mergeStore(s, s"$root/snapshot", b1, "doc_id", "updated_at",
              buckets = 4)
          },
          () => {
            // hourly-count store: a bootstrap merge then a second-day
            // merge, so the audited tree holds real multi-batch day
            // partitions
            val hourly = all.groupBy(col("source"),
                timestamp_seconds((col("doc_id") % 48) * 3600L).as("hour"))
              .agg(count(lit(1)).as("n"))
            EventStatsStore.merge(s, s"$root/events", hourly, Seq("source"),
              batchId = 1L)
            val hourly2 = all.filter(col("doc_id") % 3 === 0)
              .groupBy(col("source"),
                timestamp_seconds((col("doc_id") % 48) * 3600L + 86400L * 2)
                  .as("hour"))
              .agg(count(lit(1)).as("n"))
            EventStatsStore.merge(s, s"$root/events", hourly2, Seq("source"),
              batchId = 2L)
          },
          () => {
            // pending-sweep debt surface: a leftover .retention-keys
            // capture (a retention that dropped its batch directories and
            // crashed before the erase) must surface as debt — the
            // round-9 audit blind spot — while the erase/rectify captures
            // read clean
            all.select(col("doc_id")).limit(5)
              .write.mode("overwrite").parquet(s"$root/.retention-keys")
            // logical-erasure debt: a pending deletion vector is
            // serving-safe (reads mask it) but still outstanding
            // physical-purge work, so the auditor must report it
            // not-settled — while the crashed-settle capture check reads
            // clean
            graft.operators.DeletionVectors.append(s, root,
              all.select(col("doc_id")).filter(col("doc_id") % 97 === 0))
            // writer-lease debt: a dead process's leftover lease (epoch
            // stamp 0 = held forever, holder is not this JVM) must
            // surface as stale — mutating verbs refuse until break-lease
            // runs
            val lout = fs.create(
              new org.apache.hadoop.fs.Path(s"$root/.lease"), true)
            lout.write("dead-process|erase|0".getBytes("UTF-8"))
            lout.close()
            // rights-metadata census (round 12): an admission-log batch
            // and a subject-resolution capture must both surface to the
            // auditor — Art. 30 processing records with their own
            // retention clock
            all.select(col("doc_id")).limit(7)
              .withColumn("purpose", lit("training"))
              .withColumn("admitted_at", lit(8L))
              .write.mode("overwrite").parquet(s"$root/.admissions/batch=0")
            // a STREAMING sink's admission tree lives under the index leg
            // (StreamingPipeline.gateAdmission writes
            // <indexDir>/.admissions, and the CLI layout's search index
            // is <state>/search) — round 12's census was blind to it; the
            // unified discovery (Fsck.admissionRoots) must census it as
            // its own row
            all.select(col("doc_id")).limit(5)
              .withColumn("purpose", lit("training"))
              .withColumn("admitted_at", lit(9L))
              .write.mode("overwrite")
              .parquet(s"$root/search/.admissions/batch=s0")
            all.select(col("doc_id")).limit(3)
              .write.mode("overwrite")
              .parquet(s"$root/.rights-resolved/req=abc123")
          })
        val checks = graft.operators.Par.run[Seq[graft.operators.Fsck.Check]](Seq(
          () => graft.operators.Fsck.denseIndex(s, s"$root/dense"),
          () => graft.operators.Fsck.shards(s, s"$root/shards"),
          () => graft.operators.Fsck.snapshotStore(s, s"$root/snapshot", "doc_id"),
          () => graft.operators.Fsck.eventStats(s, s"$root/events"),
          () => graft.operators.Fsck.pendingSweepDebt(s, root),
          () => graft.operators.Fsck.dvDebt(s, root),
          () => graft.operators.Fsck.leaseDebt(s, root),
          () => graft.operators.Fsck.recordsCensus(s, root))).flatten
        checks.map(c => (c.component, c.check, if (c.ok) 1 else 0))
          .toDF("component", "check", "ok")
          .orderBy("component", "check")
      },
      Some("""
        select * from (values
          ('dense', 'assigned_subset_centroids', 1),
          ('dense', 'centroid_dims_consistent', 1),
          ('dense', 'centroid_ids_unique', 1),
          ('dense', 'no_null_vectors', 1),
          ('dense', 'no_pending_marker', 1),
          ('dense', 'no_retired_tree', 1),
          ('dense', 'no_stage_tree', 1),
          ('dense', 'vec_dims_consistent', 1),
          ('dv', 'no_pending_settle', 1),
          ('dv', 'no_settle_debt', 0),
          ('erase', 'no_pending_sweep', 1),
          ('events', 'counts_positive', 1),
          ('lease', 'no_stale_lease', 0),
          ('events', 'day_consistent', 1),
          ('events', 'no_pending_marker', 1),
          ('events', 'no_retired_tree', 1),
          ('events', 'no_stage_tree', 1),
          ('events', 'rows_unique', 1),
          ('records', 'admissions_census', 1),
          ('records', 'admissions_census_search', 1),
          ('records', 'rights_resolved_census', 1),
          ('rectify', 'no_pending_sweep', 1),
          ('retention', 'no_pending_sweep', 0),
          ('shards', 'no_swap_debris', 1),
          ('shards', 'positions_dense', 1),
          ('snapshot', 'manifest_clean', 1),
          ('snapshot', 'no_stage_tree', 1),
          ('snapshot', 'one_current_per_key', 1),
          ('snapshot', 'validity_chained', 1)
        ) t(component, "check", ok)
        order by component, "check"""")
    ),
    "q_hybrid_rrf" -> Q(
      (s, dir) => {
        import s.implicits._
        // hybrid retrieval: BM25 sparse leg + exact-cosine dense leg,
        // fused by RRF. Dense query vectors are embeddings 0/1/2 serving
        // query ids 1/2/3 — a bounded (3 x dim) build-time fetch, the
        // q_ann_ivf query-vector precedent
        val qvecs = emb(s, dir)
          .filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map(r => (r.getAs[Long]("vec_id").toInt + 1,
            r.getSeq[Float](1).map(_.toDouble).toSeq))
          .toSeq.sortBy(_._1)
        val sparse = graft.text.Bm25
          .retrieveTopK(docs(s, dir), "doc_id", col("text"),
            Bm25QuerySet.toDF("query_id", "term"), topK = 20)
          .select(col("query_id"), col("rank"), col("doc_id"))
        val dense = graft.similarity.Hybrid
          .bruteForceTopKAll(emb(s, dir), "vec_id", "embedding", qvecs, k = 20)
          .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
        graft.similarity.Hybrid
          .rrfFuse(Seq(sparse, dense), "doc_id", k0 = 60, topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_lists").cast("int").as("n_lists"),
            col("rrf_score").cast("decimal(12,6)").as("rrf_score"))
          .orderBy("query_id", "rank")
      },
      Some(s"""
        with $bm25RankCtes,
        sparse as (select query_id, doc_id, rank from r where rank <= 20),
        qv as (
          select cast(vec_id + 1 as int) as query_id, embedding as qvec
          from embeddings where vec_id < 3
        ),
        dcos as (
          select q.query_id, e.vec_id as doc_id,
            ${duckRound(duckCos("e.embedding", "q.qvec"), 6)} as c
          from embeddings e cross join qv q
        ),
        dense as (
          select query_id, doc_id,
            row_number() over (partition by query_id order by c desc, doc_id) as rank
          from dcos
        ),
        u as (
          select query_id, doc_id, rank from sparse
          union all
          select query_id, doc_id, rank from dense where rank <= 20
        ),
        f as (
          select query_id, doc_id, count(*) as n_lists,
            sum(cast(1.0 as double) / (60 + rank)) as rrf
          from u group by 1, 2
        ),
        rr as (
          select query_id, doc_id, n_lists,
            ${duckRound("rrf", 6)} as rrf_r,
            row_number() over (
              partition by query_id
              order by ${duckRound("rrf", 6)} desc, doc_id) as rank
          from f
        )
        select query_id, cast(rank as int) as rank, doc_id,
          cast(n_lists as int) as n_lists,
          cast(rrf_r as decimal(12,6)) as rrf_score
        from rr where rank <= 10 order by query_id, rank""")
    ),
    "q_hybrid_indexed" -> Q(
      (s, dir) => {
        import s.implicits._
        // the full serving stack off PERSISTED indexes (the
        // q_bm25_indexed pattern — the index round-trip IS the operator
        // under test): stored BM25 postings sparse leg + stored IVF dense
        // leg, fused with RRF; corpus text and raw vectors are never read
        // at query time
        val idx = s"${sys.props("java.io.tmpdir")}/graft_hybrid_idx_${math.abs(dir.hashCode)}"
        val e = emb(s, dir)
        // r14 (guide §2.6): the sparse and dense index builds read
        // different tables and write disjoint trees — overlap them
        graft.operators.Par.unit(
          () => graft.text.Bm25
            .writeSearchIndex(docs(s, dir), "doc_id", col("text"), s"$idx/bm25"),
          () => {
            val (centroids, assigned) =
              graft.similarity.Ivf.build(e, "vec_id", "embedding", k = 16, iters = 2)
            graft.similarity.Ivf
              .writeIndex(centroids, assigned, "vec_id", "embedding", s"$idx/ivf")
          })
        // dense query vectors are embeddings 0/1/2 serving query ids
        // 1/2/3 — aligned with the sparse Bm25QuerySet ids
        val vecQ = e.filter(col("vec_id") < 3)
          .select((col("vec_id") + 1).cast("int").as("query_id"),
            col("embedding").as("qv"))
        graft.similarity.Hybrid
          .searchIndexed(s, s"$idx/bm25", s"$idx/ivf", "doc_id", "vec_id",
            "embedding", Bm25QuerySet.toDF("query_id", "term"), vecQ, "qv",
            kPerLeg = 20, nprobe = 4, topK = 10)
          .select(
            col("query_id"),
            col("rank").cast("int").as("rank"),
            col("doc_id"),
            col("n_lists").cast("int").as("n_lists"),
            col("rrf_score").cast("decimal(12,6)").as("rrf_score"))
          .orderBy("query_id", "rank")
      },
      // sparse leg = the identical bm25RankCtes replay (the stored index
      // reproduces inline retrieval bit-for-bit — q_bm25_indexed's
      // contract); dense leg = the identical batched IVF replay
      // (q_ann_ivf_multi's contract, query CTE renamed vq to dodge
      // bm25RankCtes' qs); fusion = q_hybrid_rrf's RRF arithmetic. Each
      // leg cut at 20, fused top-10 on the rounded score with id
      // tie-break.
      Some(s"""
        with $bm25RankCtes,
        $ivfReplayCtes,
        vq as (
          select cast(vec_id + 1 as int) as query_id,
            list_transform(embedding, x -> cast(x as double)) as qv
          from embeddings where vec_id < 3
        ),
        ${ivfBatchRankCtes("vq", 4)},
        sparse as (select query_id, doc_id, rank from r where rank <= 20),
        dense as (
          select query_id, vec_id as doc_id, rank
          from ranked where rank <= 20
        ),
        u as (
          select query_id, doc_id, rank from sparse
          union all
          select query_id, doc_id, rank from dense
        ),
        f as (
          select query_id, doc_id, count(*) as n_lists,
            sum(cast(1.0 as double) / (60 + rank)) as rrf
          from u group by 1, 2
        ),
        rr as (
          select query_id, doc_id, n_lists,
            ${duckRound("rrf", 6)} as rrf_r,
            row_number() over (
              partition by query_id
              order by ${duckRound("rrf", 6)} desc, doc_id) as rank
          from f
        )
        select query_id, cast(rank as int) as rank, doc_id,
          cast(n_lists as int) as n_lists,
          cast(rrf_r as decimal(12,6)) as rrf_score
        from rr where rank <= 10 order by query_id, rank""")
    ),
    "q_lm_bigram" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        // corpus N computed in-plan (broadcast single-row agg) — no driver
        // pre-scan, one job
        graft.text.LmScore
          .bigramSurprisal(d, "doc_id", col("text"), lambda = 0.7)
          .select(
            col("doc_id"),
            col("n_bigrams"),
            roundHalfUp(col("surprisal2"), 6)
              .cast("decimal(12,6)").as("surprisal2"))
          .orderBy("doc_id")
      },
      // Jelinek-Mercer interpolation in DOUBLE arithmetic on both engines:
      // bare 0.7/(1-0.7) would be exact DECIMALs in DuckDB (0.3, not
      // Spark's 0.30000000000000004), so the literals are cast explicitly
      Some(s"""
        with t as (select doc_id, $duckTokens as toks from documents where text is not null),
        uni as (
          select t2, cast(sum(1) as bigint) as c2
          from (select unnest(toks) as t2 from t) group by t2
        ),
        n as (select cast(sum(len(toks)) as bigint) as n from t),
        bg as (
          select doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') as bigram
          from (select doc_id, toks, unnest(range(1, cast(len(toks) as int))) as i
                from t where len(toks) >= 2)
        ),
        tf2 as (select doc_id, bigram, count(*) as tf from bg group by doc_id, bigram),
        c12 as (
          select bigram, sum(tf) as c12,
            split_part(bigram, ' ', 1) as t1, split_part(bigram, ' ', 2) as t2
          from tf2 group by bigram
        ),
        c1 as (select t1, sum(c12) as c1 from c12 group by t1),
        bs as (
          select bigram, c12.c12, c1.c1, uni.c2
          from c12 join c1 using (t1) join uni using (t2)
        ),
        agg as (
          select tf2.doc_id, cast(sum(tf) as bigint) as n_bigrams,
            sum(tf * (-ln(cast(0.7 as double) * c12 / c1 + (1 - cast(0.7 as double)) * c2 / n))) / sum(tf) as s
          from tf2 join bs using (bigram) cross join n group by tf2.doc_id
        )
        select doc_id, n_bigrams,
          cast(${duckRound("s", 6)} as decimal(12,6)) as surprisal2
        from agg order by doc_id""")
    ),
    "q_target_mix" -> Q(
      (s, dir) =>
        graft.operators.Mixer
          .targetMix(
            docs(s, dir),
            "doc_id",
            "source",
            TextAnalysis.tokenCount(col("text")),
            Map("src0" -> 0.25, "src1" -> 0.15, "src2" -> 0.10, "src3" -> 0.05),
            budgetTokens = 2000L)
          .select(col("doc_id"), col("stratum"), col("mille"))
          .orderBy("doc_id"),
      // rate(s) = min(1, budget*w/tok(s)); same floor(x*1000+0.5) per-mille
      // threshold as the Scala side; unweighted sources drop (rate 0)
      Some(s"""
        with t as (select doc_id, source, $duckTokens as toks from documents),
        ws (source, w) as (
          values ('src0', 0.25), ('src1', 0.15), ('src2', 0.10), ('src3', 0.05)
        ),
        st as (select source, cast(sum(len(toks)) as bigint) as tok from t group by source),
        r as (
          select source,
            cast(floor(least(1.0, 2000 * cast(w as double) / tok) * 1000 + 0.5) as int) as thresh
          from st join ws using (source) where tok > 0
        ),
        d as (select doc_id, source, ${duckMdBucket(1000)} as mille from documents)
        select doc_id, source as stratum, mille
        from d join r using (source) where mille < thresh
        order by doc_id""")
    ),
    // consent-scoped admission (policy/Consent, GDPR Art. 6/7): the
    // registry is the SCD-2 snapshot store keyed by subject|purpose —
    // bootstrap grants for ~2/3 of subjects, then a WITHDRAWAL batch
    // (Art. 7(3)) and a late-grant batch merge on top, and the gate
    // admits exactly the subjects whose CURRENT state grants the
    // purpose, absence-is-denial. The twin replays the event log with a
    // latest-event-wins window (timestamps are distinct per key by
    // construction, so the SCD-2 supersede order is total), so the hash
    // match pins bootstrap + merge + current + gate end to end. Build
    // jobs bounded (PlanGuardSpec exemption).
    "q_consent_gate" -> Q(
      (s, dir) => {
        import graft.operators.StableHash
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_consent_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        Consent.init(s, root, all
          .select(col("doc_id").as("subject_id"))
          .withColumn("purpose", lit("training"))
          .withColumn("granted", StableHash.bucket(col("subject_id"), 3) =!= 0)
          .withColumn("updated_at", lit(1L)))
        Consent.withdraw(s, root,
          all.filter(StableHash.bucket(col("doc_id"), 7) === 0)
            .select(col("doc_id")),
          "training", updatedAt = 2L)
        Consent.update(s, root, all
          .filter(StableHash.bucket(col("doc_id"), 11) === 3 &&
            StableHash.bucket(col("doc_id"), 7) =!= 0)
          .select(col("doc_id").as("subject_id"))
          .withColumn("purpose", lit("training"))
          .withColumn("granted", lit(true))
          .withColumn("updated_at", lit(2L)))
        Consent.gate(s, root, all, "training")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some(s"""
        with b as (
          select doc_id, source, n_chars,
            ${duckMdBucket(3)} as h3, ${duckMdBucket(7)} as h7,
            ${duckMdBucket(11)} as h11
          from documents
        ),
        ev as (
          select doc_id, 1 as ts, (h3 <> 0) as g from b
          union all select doc_id, 2 as ts, false as g from b where h7 = 0
          union all select doc_id, 2 as ts, true as g from b
            where h11 = 3 and h7 <> 0
        ),
        cur as (
          select doc_id, g from (
            select doc_id, g,
              row_number() over (partition by doc_id order by ts desc) as rn
            from ev
          ) where rn = 1
        )
        select b.source, count(*) as n_docs,
          cast(sum(b.n_chars) as bigint) as sum_chars
        from b join cur using (doc_id)
        where cur.g
        group by b.source order by b.source""")
    ),
    // purpose-scoped logical erasure (policy/Consent x
    // operators/DeletionVectors): every subject grants TWO purposes, one
    // slice withdraws ONLY "training" (Art. 7(3) — a purpose-scoped
    // vector) and another slice files a plain Art. 17 erasure (a GLOBAL
    // vector). The query serves the corpus under BOTH purposes: the
    // training serve must hide the withdrawn slice AND the erased slice;
    // the analytics serve hides ONLY the erased slice — the withdrawal
    // of one purpose must not destroy the other purpose's lawful
    // utility. The twin replays both masks as plain predicates, so the
    // hash match pins the vector routing (purpose tree vs global) and
    // the serve-scope union end to end. Build jobs bounded
    // (PlanGuardSpec exemption).
    "q_consent_purpose" -> Q(
      (s, dir) => {
        import graft.operators.{DeletionVectors, StableHash}
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_cpurpose_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        val consent = s"$root/consent"
        val subs = all.select(col("doc_id").as("subject_id"))
        // r14 (guide §2.6): registry chain and the global vector append
        // touch disjoint subtrees — overlap them (q_access_consent note)
        graft.operators.Par.unit(
          () => {
            Consent.init(s, consent,
              subs.withColumn("purpose", lit("training"))
                .withColumn("granted", lit(true))
                .withColumn("updated_at", lit(1L))
                .unionByName(subs.withColumn("purpose", lit("analytics"))
                  .withColumn("granted", lit(true))
                  .withColumn("updated_at", lit(1L))))
            Consent.withdraw(s, consent,
              all.filter(StableHash.bucket(col("doc_id"), 7) === 0)
                .select(col("doc_id")),
              "training", updatedAt = 2L, stateDir = Some(root))
          },
          () => { DeletionVectors.append(s, root,
            all.filter(StableHash.bucket(col("doc_id"), 11) === 4)
              .select(col("doc_id"))); () })
        def serve(purpose: String): DataFrame =
          DeletionVectors
            .maskServing(s, root, all, purpose = Some(purpose))
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .withColumn("purpose", lit(purpose))
        serve("training").unionByName(serve("analytics"))
          .select(col("purpose"), col("source"), col("n_docs"),
            col("sum_chars"))
          .orderBy("purpose", "source")
      },
      Some(s"""
        with b as (
          select doc_id, source, n_chars,
            ${duckMdBucket(7)} as h7, ${duckMdBucket(11)} as h11
          from documents
        )
        select 'analytics' as purpose, source, count(*) as n_docs,
          cast(sum(n_chars) as bigint) as sum_chars
        from b where h11 <> 4
        group by source
        union all
        select 'training' as purpose, source, count(*) as n_docs,
          cast(sum(n_chars) as bigint) as sum_chars
        from b where h11 <> 4 and h7 <> 0
        group by source
        order by purpose, source""")
    ),
    // the Art. 7(1) retroactive-lawfulness audit (Consent.retroAudit):
    // subjects granted at DIFFERENT times (one slice only after the
    // admission stamp), one slice withdrawn before it — the audit joins
    // the admission log against the registry's SCD-2 validity intervals
    // and returns every document admitted while its subject's
    // then-current state did NOT grant the purpose (absence is denial).
    // The twin replays the event log with a latest-event-at-or-before-
    // admission window, so the hash match pins the interval join against
    // an independent as-of reconstruction. Build jobs bounded
    // (PlanGuardSpec exemption).
    "q_consent_asof" -> Q(
      (s, dir) => {
        import graft.operators.StableHash
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_casof_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        val consent = s"$root/consent"
        // grants land at ts 2, EXCEPT the h3==0 slice which only grants
        // at ts 10 — after the admission stamp below
        Consent.init(s, consent, all
          .select(col("doc_id").as("subject_id"))
          .withColumn("purpose", lit("training"))
          .withColumn("granted", lit(true))
          .withColumn("updated_at",
            when(StableHash.bucket(col("subject_id"), 3) === 0, lit(10L))
              .otherwise(lit(2L))))
        // the h5==0 slice withdraws at ts 6 — before the admission stamp
        Consent.update(s, consent, all
          .filter(StableHash.bucket(col("doc_id"), 5) === 0)
          .select(col("doc_id").as("subject_id"))
          .withColumn("purpose", lit("training"))
          .withColumn("granted", lit(false))
          .withColumn("updated_at", lit(6L)))
        // every document admitted at ts 8, subject == document
        val admissions = all.select(col("doc_id"),
          col("doc_id").as("subject_id"), col("source"))
          .withColumn("admitted_at", lit(8L))
        Consent.retroAudit(s, consent, admissions, "training")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_violations"))
          .orderBy("source")
      },
      Some(s"""
        with b as (
          select doc_id, source,
            ${duckMdBucket(3)} as h3, ${duckMdBucket(5)} as h5
          from documents
        ),
        ev as (
          select doc_id, case when h3 = 0 then 10 else 2 end as ts, true as g
          from b
          union all select doc_id, 6 as ts, false as g from b where h5 = 0
        ),
        state_at_8 as (
          select doc_id, g from (
            select doc_id, g,
              row_number() over (partition by doc_id order by ts desc) as rn
            from ev where ts <= 8
          ) where rn = 1
        )
        select b.source, count(*) as n_violations
        from b left join state_at_8 using (doc_id)
        where coalesce(state_at_8.g, false) = false
        group by b.source order by b.source""")
    ),
    // Art. 15(1)(a)+(b) consent disclosure through the access verb
    // (CurateCli.runAccess with consentDir): the subject-access report
    // carries the FULL consent history (every purpose/verdict version —
    // the Art. 7(1) demonstration includes superseded grants) and the
    // Art. 7(3) withdrawals currently in force (per-purpose masked-key
    // counts, purpose trees only — global Art. 17 masks are pending
    // erasure, disclosed separately). The twin replays history, current
    // verdicts, and masks as predicates over the same event rules, so
    // the hash match pins registry history + the post-merge vector sync
    // + the disclosure join end to end. Build jobs bounded (PlanGuardSpec
    // exemption).
    "q_access_consent" -> Q(
      (s, dir) => {
        import graft.operators.{DeletionVectors, StableHash}
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_acc_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val consent = s"$root/consent"
        val all = docs(s, dir)
        val subs = all.select(col("doc_id").as("subject_id"))
        // everyone grants training at ts 1; the h3!=0 slice also grants
        // ads; the h7==0 slice withdraws training at ts 5 (a purpose
        // mask lands via the post-merge sync); h11==4 files an Art. 17
        // erasure (a global vector — NOT in the purpose disclosure)
        // r14 (guide §2.6): the registry chain (init before withdraw),
        // the GLOBAL vector append (its own content-addressed dv= dir,
        // disjoint from the withdraw's purpose tree), and the three
        // fixture writes below are independent store subtrees — overlap
        // them; runAccess reads only after the barrier.
        graft.operators.Par.unit(
          () => {
            Consent.init(s, consent,
              subs.withColumn("purpose", lit("training"))
                .withColumn("granted", lit(true))
                .withColumn("updated_at", lit(1L))
                .unionByName(subs
                  .filter(StableHash.bucket(col("subject_id"), 3) =!= 0)
                  .withColumn("purpose", lit("ads"))
                  .withColumn("granted", lit(true))
                  .withColumn("updated_at", lit(1L))))
            Consent.withdraw(s, consent,
              all.filter(StableHash.bucket(col("doc_id"), 7) === 0)
                .select(col("doc_id")),
              "training", updatedAt = 5L, stateDir = Some(root))
          },
          () => { DeletionVectors.append(s, root,
            all.filter(StableHash.bucket(col("doc_id"), 11) === 4)
              .select(col("doc_id"))); () },
          // admission records in BOTH layouts (round 13): a
          // batch-pipeline tree under the state root and a STREAMING
          // tree under the search leg — the disclosure must surface both
          // through the unified discovery (Fsck.admissionRoots; the
          // record layout's writers are oracled end-to-end by
          // q_consent_stream/q_consent_gate — here the fixture plants
          // records so what's pinned is the READ side). Distinct
          // purposes per tree, so a missed tree hash-fails.
          () => all.filter(StableHash.bucket(col("doc_id"), 5) === 0)
            .select(col("doc_id"))
            .withColumn("purpose", lit("training"))
            .withColumn("admitted_at", lit(3L))
            .write.mode("overwrite").parquet(s"$root/.admissions/batch=0"),
          () => all.filter(StableHash.bucket(col("doc_id"), 5) === 1)
            .select(col("doc_id"))
            .withColumn("purpose", lit("ads"))
            .withColumn("admitted_at", lit(8L))
            .write.mode("overwrite")
            .parquet(s"$root/search/.admissions/batch=s0"),
          () => all.select(col("doc_id"))
            .write.mode("overwrite").parquet(s"$root/keys"))
        graft.cli.CurateCli.runAccess(s, s"$root/keys", root,
          s"$root/report", consentDir = Some(consent))
        val hist = s.read.parquet(s"$root/report/consent_state")
        val history = hist.groupBy(col("purpose"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("history"))
        val current = hist
          .filter(col("valid_to").isNull && col("granted"))
          .groupBy(col("purpose"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("current_granted"))
        val masks = s.read.parquet(s"$root/report/purpose_masks")
          .select(col("purpose"), col("n_masked_keys").as("n"))
          .withColumn("kind", lit("masked"))
        // Art. 15(1)(a)+(c): the disclosed admission history, per purpose
        // — one tree per purpose by construction, so each count pins one
        // layout's discovery
        val admitted = s.read.parquet(s"$root/report/admissions")
          .groupBy(col("purpose"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("admitted"))
        history.unionByName(current).unionByName(masks)
          .unionByName(admitted)
          .select(col("kind"), col("purpose"), col("n"))
          .orderBy("kind", "purpose")
      },
      Some(s"""
        with b as (
          select doc_id,
            ${duckMdBucket(3)} as h3, ${duckMdBucket(5)} as h5,
            ${duckMdBucket(7)} as h7
          from documents
        )
        select 'admitted' as kind, 'ads' as purpose,
          count(*) as n from b where h5 = 1
        union all
        select 'admitted', 'training', count(*) from b where h5 = 0
        union all
        select 'current_granted', 'ads', count(*) from b where h3 <> 0
        union all
        select 'current_granted', 'training', count(*)
          from b where h7 <> 0
        union all
        select 'history', 'ads', count(*) from b where h3 <> 0
        union all
        select 'history', 'training',
          cast(count(*) + sum(case when h7 = 0 then 1 else 0 end) as bigint)
          from b
        union all
        select 'masked', 'training', count(*) from b where h7 = 0
        order by kind, purpose""")
    ),
    // vector-tree compaction (operators/DeletionVectors.compact, the
    // CurateCli compact-vectors verb): many overlapping request-sized
    // vectors — three global (Art. 17) appends and two purpose-scoped
    // (Art. 7(3)) ones — merge into ONE vector per tree (min stamps
    // preserved), and the masked serves afterwards are byte-identical
    // to the uncompacted masks: the purpose-scoped serve subtracts the
    // compacted global + training trees, the other-purpose serve only
    // the global one. The twin replays every mask as a plain predicate,
    // so the hash match pins merge + promote + source retirement end to
    // end. Build jobs bounded (PlanGuardSpec exemption).
    "q_dv_compact" -> Q(
      (s, dir) => {
        import graft.operators.{DeletionVectors, StableHash}
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_dvc_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val all = docs(s, dir)
        // r14 (guide §2.6): each append lands in its own content-
        // addressed dv= directory (distinct key sets, two distinct
        // trees), and five appends cannot reach the auto-compact
        // threshold — all five overlap safely
        graft.operators.Par.unit(
          ((0 until 3).map[() => Unit](i => () => { DeletionVectors.append(s, root,
            all.filter(StableHash.bucket(col("doc_id"), 11) === i)
              .select(col("doc_id"))); () }) ++
          (0 until 2).map[() => Unit](i => () => { DeletionVectors.append(s, root,
            all.filter(StableHash.bucket(col("doc_id"), 7) === i)
              .select(col("doc_id")), purpose = Some("training")); () })): _*)
        val trees = graft.cli.CurateCli.runCompactVectors(s, root).toSet
        require(trees == Set(("global", 3, 1), ("purpose=training", 2, 1)),
          s"q_dv_compact: compaction did not merge the trees: $trees")
        def serve(purpose: String): DataFrame =
          DeletionVectors
            .maskServing(s, root, all, purpose = Some(purpose))
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .withColumn("purpose", lit(purpose))
        serve("training").unionByName(serve("analytics"))
          .select(col("purpose"), col("source"), col("n_docs"),
            col("sum_chars"))
          .orderBy("purpose", "source")
      },
      Some(s"""
        with b as (
          select doc_id, source, n_chars,
            ${duckMdBucket(11)} as h11, ${duckMdBucket(7)} as h7
          from documents
        )
        select 'analytics' as purpose, source, count(*) as n_docs,
          cast(sum(n_chars) as bigint) as sum_chars
        from b where h11 not in (0, 1, 2)
        group by source
        union all
        select 'training' as purpose, source, count(*) as n_docs,
          cast(sum(n_chars) as bigint) as sum_chars
        from b where h11 not in (0, 1, 2) and h7 not in (0, 1)
        group by source
        order by purpose, source""")
    ),
    // registry version retention (Consent.expireVersions /
    // Snapshot.expireSuperseded, the `consent-expire` verb — GDPR Art.
    // 5(1)(e) applied to the Art. 7(1) record itself): every subject
    // grants at ts 1, one slice withdraws at ts 5 (superseding the
    // grant), a sub-slice re-grants at ts 9 (superseding the
    // withdrawal). Expiring at cutoff 6 must drop EXACTLY the versions
    // whose valid_to is before 6 (the ts-1 grants superseded at 5) while
    // every current verdict and every younger superseded version
    // survives byte-identical — record retention that cannot change
    // what the registry says today. The 'dropped' row pins the verb's
    // return count; a second expire at the same cutoff must be a no-op
    // (replay safety). The twin replays the SCD-2 chains as modular
    // slice arithmetic, so the hash match pins merge + bucket-pruned
    // expiry + survivor chains end to end. Build jobs bounded
    // (PlanGuardSpec exemption).
    "q_consent_expire" -> Q(
      (s, dir) => {
        import graft.operators.StableHash
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_cexp_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val consent = s"$root/consent"
        val all = docs(s, dir)
        val subs = all.select(col("doc_id").as("subject_id"))
        Consent.init(s, consent,
          subs.withColumn("purpose", lit("training"))
            .withColumn("granted", lit(true))
            .withColumn("updated_at", lit(1L))
            .unionByName(subs
              .filter(StableHash.bucket(col("subject_id"), 3) =!= 0)
              .withColumn("purpose", lit("ads"))
              .withColumn("granted", lit(true))
              .withColumn("updated_at", lit(1L))))
        // h7==0 withdraws training at 5 (their ts-1 grant gets
        // valid_to=5); the h2==0 sub-slice re-grants at 9 (their
        // withdrawal gets valid_to=9 — young history, must survive)
        Consent.update(s, consent,
          subs.filter(StableHash.bucket(col("subject_id"), 7) === 0)
            .withColumn("purpose", lit("training"))
            .withColumn("granted", lit(false))
            .withColumn("updated_at", lit(5L)))
        Consent.update(s, consent,
          subs.filter(StableHash.bucket(col("subject_id"), 7) === 0 &&
              StableHash.bucket(col("subject_id"), 2) === 0)
            .withColumn("purpose", lit("training"))
            .withColumn("granted", lit(true))
            .withColumn("updated_at", lit(9L)))
        val dropped = Consent.expireVersions(s, consent, cutoffMs = 6L)
        // replay safety: the same cutoff again touches nothing
        require(Consent.expireVersions(s, consent, cutoffMs = 6L) == 0L,
          "q_consent_expire: expiry replay was not a no-op")
        val st = graft.pipeline.Snapshot.loadStore(s, consent)
        // scalar counts (not groupBy), so an empty slice still yields
        // its zero row and both engines emit the same row set
        def cnt(kind: String, purpose: String, granted: Boolean,
            f: org.apache.spark.sql.Column): DataFrame =
          st.filter(f).agg(count(lit(1)).as("n"))
            .withColumn("kind", lit(kind))
            .withColumn("purpose", lit(purpose))
            .withColumn("granted", lit(granted))
        val cur = col("valid_to").isNull
        val droppedRow = s.range(1).select(
          lit(dropped).as("n"), lit("dropped").as("kind"),
          lit("training").as("purpose"), lit(true).as("granted"))
        cnt("current", "ads", granted = true,
            cur && col("purpose") === "ads" && col("granted"))
          .unionByName(cnt("current", "training", granted = true,
            cur && col("purpose") === "training" && col("granted")))
          .unionByName(cnt("current", "training", granted = false,
            cur && col("purpose") === "training" && !col("granted")))
          .unionByName(cnt("superseded", "training", granted = false,
            col("valid_to").isNotNull && col("purpose") === "training" &&
              !col("granted")))
          .unionByName(droppedRow)
          .select(col("kind"), col("purpose"), col("granted"), col("n"))
          .orderBy("kind", "purpose", "granted")
      },
      Some(s"""
        with b as (
          select doc_id,
            ${duckMdBucket(2)} as h2, ${duckMdBucket(3)} as h3,
            ${duckMdBucket(7)} as h7
          from documents
        )
        select 'current' as kind, 'ads' as purpose, true as granted,
          count(*) as n from b where h3 <> 0
        union all
        select 'current', 'training', false, count(*)
          from b where h7 = 0 and h2 <> 0
        union all
        select 'current', 'training', true, count(*)
          from b where h7 <> 0 or h2 = 0
        union all
        select 'dropped', 'training', true, count(*) from b where h7 = 0
        union all
        select 'superseded', 'training', false, count(*)
          from b where h7 = 0 and h2 = 0
        order by kind, purpose, granted""")
    ),
    // dead-letter triage lifecycle (StreamingPipeline.consentSink
    // quarantine x Consent.resubmitDeadLetter): a consent stream where
    // one slice's WITHDRAWALS carry a malformed purpose — the sink must
    // quarantine them without wedging (the valid grants process), and
    // the resubmit under a purpose correction must carry them into the
    // registry AND the purpose masks exactly as if never quarantined
    // (a missed resubmit over-serves subjects who opted out — the
    // direction that matters). The twin replays the slice arithmetic,
    // so the hash match pins quarantine split + corrected merge +
    // post-merge vector sync + masked serve end to end. Build jobs
    // bounded (PlanGuardSpec exemption).
    "q_dead_letter" -> Q(
      (s, dir) => {
        import graft.operators.StableHash
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_dlq_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val consent = s"$root/consent"
        val all = docs(s, dir)
        val subs = all.select(col("doc_id").as("subject_id"))
        // one event per subject: h3==0 WITHDRAWS under a malformed
        // purpose (quarantined), everyone else grants the valid slug
        val h3 = StableHash.bucket(col("subject_id"), 3)
        val events = subs
          .withColumn("purpose",
            when(h3 === 0, lit("bad purpose")).otherwise(lit("training")))
          .withColumn("granted", h3 =!= 0)
          .withColumn("updated_at", lit(2L))
        val input = s"$root/events"
        events.write.mode("overwrite").parquet(input)
        graft.streaming.StreamingPipeline.consentSink(
          s.readStream.schema(s.read.parquet(input).schema).parquet(input),
          consent, s"$root/ckpt", stateDir = Some(root))
          .awaitTermination()
        val nQuarantined = Consent.deadLetter(s, consent).count()
        val nResubmitted = Consent.resubmitDeadLetter(s, consent, batch = 0L,
          remap = Map("bad purpose" -> "training"), stateDir = Some(root))
        val nAfter = Consent.deadLetter(s, consent).count()
        val st = Consent.currentState(s, consent)
        def cnt(kind: String, f: DataFrame): DataFrame =
          f.agg(count(lit(1)).as("n")).withColumn("kind", lit(kind))
        val served = graft.operators.DeletionVectors
          .maskServing(s, root, all, purpose = Some("training"))
        cnt("current_denied", st.filter(!col("granted")))
          .unionByName(cnt("current_granted", st.filter(col("granted"))))
          .unionByName(s.range(1).select(lit(nQuarantined).as("n"),
            lit("quarantined").as("kind")))
          .unionByName(s.range(1).select(lit(nAfter).as("n"),
            lit("quarantine_after").as("kind")))
          .unionByName(s.range(1).select(lit(nResubmitted).as("n"),
            lit("resubmitted").as("kind")))
          .unionByName(cnt("served_training", served))
          .select(col("kind"), col("n"))
          .orderBy("kind")
      },
      Some(s"""
        with b as (
          select doc_id, ${duckMdBucket(3)} as h3 from documents
        )
        select 'current_denied' as kind, count(*) as n from b where h3 = 0
        union all
        select 'current_granted', count(*) from b where h3 <> 0
        union all
        select 'quarantine_after', 0
        union all
        select 'quarantined', count(*) from b where h3 = 0
        union all
        select 'resubmitted', count(*) from b where h3 = 0
        union all
        select 'served_training', count(*) from b where h3 <> 0
        order by kind""")
    ),
    // consent-gated STREAMING admission (StreamingPipeline
    // .searchIndexSink + ConsentGateCfg, GDPR Art. 6 x 7(1)): a corpus
    // streams into the BM25 index behind the consent gate — subjects
    // whose current state denies (withdrawn, or never registered:
    // absence is denial) never reach the index or the admission log;
    // each admitted document lands one durable admission row, and the
    // Art. 7(1) retro audit over that log flags the slice whose grant
    // only became valid AFTER the pinned admission stamp. The twin
    // replays the gate (current-state) and the audit (as-of-stamp) as
    // plain predicates, so the hash match pins gate + log + interval
    // audit end to end through the streaming path. Build jobs bounded
    // (PlanGuardSpec exemption).
    "q_consent_stream" -> Q(
      (s, dir) => {
        import graft.operators.StableHash
        import graft.policy.Consent
        val root =
          s"${sys.props("java.io.tmpdir")}/graft_cstream_${math.abs(dir.hashCode)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val consent = s"$root/consent"
        val idx = s"$root/search"
        // half the corpus streams in (the h2 slice bounds the in-query
        // index build); per-subject verdicts by disjoint slices
        val all = docs(s, dir)
          .filter(StableHash.bucket(col("doc_id"), 2) === 0)
        val b = all.select(col("doc_id").as("subject_id"))
          .withColumn("h3", StableHash.bucket(col("subject_id"), 3))
          .withColumn("h5", StableHash.bucket(col("subject_id"), 5))
          .withColumn("h7", StableHash.bucket(col("subject_id"), 7))
        def ev(f: org.apache.spark.sql.Column, at: Long) = b.filter(f)
          .select(col("subject_id"))
          .withColumn("purpose", lit("training"))
          .withColumn("granted", lit(true))
          .withColumn("updated_at", lit(at))
        // h5==0: granted at 2 (withdrawn below at 5 — the gate denies);
        // h3==0 (h5!=0): granted only at 10, AFTER the admission stamp
        // (the gate admits on current state; the retro audit flags);
        // h7==0 (h5!=0, h3!=0): never registered (absence is denial);
        // everyone else: granted at 2 (lawful end to end)
        Consent.init(s, consent,
          ev(col("h5") === 0, 2L)
            .unionByName(ev(col("h5") =!= 0 && col("h3") === 0, 10L))
            .unionByName(ev(
              col("h5") =!= 0 && col("h3") =!= 0 && col("h7") =!= 0, 2L)))
        Consent.update(s, consent, b.filter(col("h5") === 0)
          .select(col("subject_id"))
          .withColumn("purpose", lit("training"))
          .withColumn("granted", lit(false))
          .withColumn("updated_at", lit(5L)))
        // the stream: file source -> consent-gated BM25 index sink
        val input = s"$root/input"
        all.select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(input)
        graft.streaming.StreamingPipeline.searchIndexSink(
          s.readStream.schema(s.read.parquet(input).schema).parquet(input),
          idx, s"$root/ckpt",
          consent = Some(graft.cli.CurateCli.ConsentGateCfg(
            consent, "training", admittedAt = Some(8L))))
          .awaitTermination()
        // the audit surface: per source, what was admitted and what of
        // it lacked then-current consent at the admission stamp
        val adm = s.read.parquet(s"$idx/.admissions")
          .select(col("doc_id"), col("admitted_at"))
          .withColumn("subject_id", col("doc_id"))
        val viol = Consent.retroAudit(s, consent, adm, "training")
          .select(col("doc_id")).withColumn("_v", lit(1L))
        adm.join(all.select(col("doc_id"), col("source")), Seq("doc_id"))
          .join(viol, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_admitted"),
            sum(coalesce(col("_v"), lit(0L))).as("n_violations"))
          .orderBy("source")
      },
      Some(s"""
        with b as (
          select doc_id, source,
            ${duckMdBucket(2)} as h2, ${duckMdBucket(3)} as h3,
            ${duckMdBucket(5)} as h5, ${duckMdBucket(7)} as h7
          from documents
        ),
        adm as (
          select * from b
          where h2 = 0 and h5 <> 0 and (h3 = 0 or h7 <> 0)
        )
        select source, count(*) as n_admitted,
          cast(sum(case when h3 = 0 then 1 else 0 end) as bigint)
            as n_violations
        from adm group by source order by source""")
    ),
    "q_mixture_budget" -> Q(
      (s, dir) => {
        // exact-budget mixture (operators/Mixture): per source, admit
        // documents in deterministic (md5(id), id) order until the char
        // budget fills — the absolute-token-count counterpart of
        // q_target_mix's rate sampling. The twin replays the admission
        // rule with the same window; the running sum's distributed
        // two-pass plan (range partitions + offsets) must be invisible
        // in the values.
        val budgets = (0 until 20)
          .map(i => s"src$i" -> (1500L + 250L * (i % 5))).toMap
        graft.operators.Mixture
          .budgeted(docs(s, dir).select(col("doc_id"), col("source"),
            col("n_chars")),
            "doc_id", "source", col("n_chars"), budgets)
          .select(col("doc_id"), col("source"),
            col("cum_before").cast("long").as("cum_before"))
          .orderBy("doc_id")
      },
      Some {
        val cases = (0 until 20)
          .map(i => s"when 'src$i' then ${1500L + 250L * (i % 5)}")
          .mkString(" ")
        s"""
        with ordd as (
          select doc_id, source, n_chars, md5(cast(doc_id as varchar)) as h
          from documents
        ),
        run as (
          select doc_id, source,
            coalesce(sum(n_chars) over (partition by source
              order by h, doc_id
              rows between unbounded preceding and 1 preceding), 0) as cum_before
          from ordd
        )
        select doc_id, source, cast(cum_before as bigint) as cum_before
        from run
        where cum_before < (case source $cases else 0 end)
        order by doc_id"""
      }
    ),
    "q_curate_e2e" -> Q(
      (s, dir) => {
        // the COMPOSED curation pipeline as one oracled query — every
        // stage is individually oracled (q_dedup_exact,
        // q_dedup_minhash_pairs, q_decontaminate, q_text_quality,
        // q_mixture_budget, q_seq_pack); this chains them over
        // `documents` so stage ORDER and interface drift the per-stage
        // twins cannot see (e.g. the mixture admitting a document dedup
        // should have dropped, or packing running before admission)
        // hash-fail. Thresholds compare on the rounded grid each
        // per-stage oracle already proved engine-identical (4 decimals
        // for quality, 6 for overlap), so a boundary document cannot
        // flip on 15th-decimal engine drift.
        import graft.dedup.Dedup
        val all = docs(s, dir)
        // 1. exact dedup: keep the min doc_id of every byte-identical text
        val d0 = all.join(
          Dedup.exactDedup(all, "doc_id", "text")
            .select(col("keep_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        // 2. near-dedup: drop every id band-shadowed by a smaller id
        // (the conservative lower-id-wins rule — exactly replayable,
        // and over-dropping only a near-dup's near-dup)
        val d1 = d0.join(
          Dedup.minhashCandidatePairs(d0, "doc_id", "text")
            .select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        // 3. decontamination: the benchmark slice (every 50th RAW doc)
        // leaves the pipeline entirely; surviving corpus docs with >= 0.5
        // 5-shingle overlap against it drop
        val corpus = d1.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        val clean = graft.text.Decontaminate
          .overlapStats(
            corpus = corpus,
            benchmark = all.filter(pmod(col("doc_id"), lit(50)) === 0),
            "doc_id", col("text"), k = 5)
          .filter(roundHalfUp(col("overlap_frac"), 6) < 0.5)
          .select(col("doc_id"))
        val d2 = corpus.join(clean, Seq("doc_id"), "left_semi")
        // 4. quality gate on the 4-decimal grid
        val d3 = d2
          .withColumn("_st", TextAnalysis.textStats(col("text")))
          .filter(roundHalfUp(
            TextAnalysis.qualityScoreOfStats(col("_st")), 4) >= 0.5)
          .drop("_st")
        // 5. exact-budget mixture (the q_mixture_budget budgets)
        val budgets = (0 until 20)
          .map(i => s"src$i" -> (1500L + 250L * (i % 5))).toMap
        val admitted = graft.operators.Mixture
          .budgeted(d3.select(col("doc_id"), col("source"), col("n_chars")),
            "doc_id", "source", col("n_chars"), budgets)
          .select(col("doc_id"), col("source"))
        // 6. deterministic sequence packing of the admitted set
        graft.text.SequencePacker
          .pack(
            all.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("text")),
            "doc_id", TextAnalysis.tokenCount(col("text")),
            budget = 512, buckets = 8)
          .join(admitted, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("bucket"),
            col("n_tokens"), col("cum_tokens"), col("pack_id"))
          .orderBy("doc_id")
      },
      Some {
        val budgetCases = (0 until 20)
          .map(i => s"when 'src$i' then ${1500L + 250L * (i % 5)}")
          .mkString(" ")
        val qualityScore = duckRound(
          "least(n / 64.0, 1.0) * 0.3 + " +
            "least(sw / greatest(n, 1.0) * 8.0, 1.0) * 0.3 + " +
            "greatest(1.0 - punct * 4.0, 0.0) * 0.2 + " +
            "(case when mtl between 3.0 and 9.0 then cast(1.0 as double) else cast(0.5 as double) end) * 0.2",
          4)
        // the composition of the per-stage twins' own CTEs, stage for
        // stage: k0/d0 = q_dedup_exact, the minhash body + shadowed/d1 =
        // q_dedup_minhash_pairs, sh5..d2 = q_decontaminate, qt/qm/d3 =
        // q_text_quality, ordd/run/adm = q_mixture_budget, pt/pb/pw =
        // q_seq_pack (duckPackCte's grid over the admitted set)
        s"""
        with k0 as (
          select min(doc_id) as doc_id from documents group by md5(text)
        ),
        d0 as (select d.* from documents d join k0 using (doc_id)),
        ${duckMinhashBodyOver("d0").trim},
        e as (
          select doc_id, band, hash from bands
          unpivot (hash for band in (band_0, band_1, band_2, band_3))
        ),
        shadowed as (
          select distinct r.doc_id
          from e l join e r on l.band = r.band and l.hash = r.hash
            and l.doc_id < r.doc_id
        ),
        d1 as (
          select * from d0
          where doc_id not in (select doc_id from shadowed)
        ),
        t5 as (select doc_id, $duckTokens as toks from documents),
        sh5 as (
          select doc_id,
            list_distinct(list_transform(
              range(1, cast(greatest(len(toks) - 4, 1) as int) + 1),
              i -> array_to_string(list_slice(toks, i, i + 4), ' '))) as shs
          from t5
        ),
        ex as (select doc_id, unnest(shs) as shingle from sh5),
        bench as (select distinct shingle from ex where doc_id % 50 = 0),
        corpex as (
          select ex.doc_id, shingle from ex
          join d1 using (doc_id) where ex.doc_id % 50 <> 0
        ),
        tot as (select doc_id, count(*) as n_shingles from corpex group by doc_id),
        ov as (
          select c.doc_id, count(*) as n_overlap
          from corpex c join bench b using (shingle) group by c.doc_id
        ),
        d2 as (
          select d1.* from d1 join tot using (doc_id)
          left join ov using (doc_id)
          where ${duckRound(
            "coalesce(n_overlap, 0) / cast(n_shingles as double)", 6)} < 0.5
        ),
        qt as (select doc_id, text, $duckTokens as toks from d2),
        qm as (
          select doc_id,
            cast(len(toks) as double) as n,
            case when len(toks) > 0
                 then cast(list_sum(list_transform(toks, x -> length(x))) as double) / cast(len(toks) as double)
                 else 0.0 end as mtl,
            case when length(text) > 0
                 then cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) as double) / cast(length(text) as double)
                 else 0.0 end as punct,
            cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as double) as sw
          from qt
        ),
        d3 as (
          select d2.* from d2 join qm using (doc_id)
          where $qualityScore >= 0.5
        ),
        ordd as (
          select doc_id, source, n_chars, md5(cast(doc_id as varchar)) as h
          from d3
        ),
        run as (
          select doc_id, source,
            coalesce(sum(n_chars) over (partition by source
              order by h, doc_id
              rows between unbounded preceding and 1 preceding), 0) as cum_before
          from ordd
        ),
        adm as (
          select doc_id, source from run
          where cum_before < (case source $budgetCases else 0 end)
        ),
        pt as (
          select d.doc_id, $duckTokens as toks
          from documents d join adm using (doc_id)
        ),
        pb as (
          select doc_id, cast(len(toks) as int) as n_tokens,
                 ${duckMdBucket(8)} as bucket
          from pt
        ),
        pw as (
          select doc_id, bucket, n_tokens,
            cast(sum(n_tokens) over (partition by bucket order by doc_id
              rows between unbounded preceding and current row) as bigint) as cum_tokens
          from pb
        )
        select pw.doc_id, adm.source, bucket, n_tokens, cum_tokens,
          cast(floor((cum_tokens - n_tokens) / 512) as int) as pack_id
        from pw join adm on pw.doc_id = adm.doc_id
        order by pw.doc_id"""
      }
    ),
    "q_char_entropy" -> Q(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            roundHalfUp(TextAnalysis.charEntropy(col("text")), 6)
              .cast("decimal(10,6)").as("entropy"))
          .orderBy("doc_id"),
      // H = sum cnt*ln(N/cnt)/N over code points; DuckDB's
      // string_split(text,'') yields code points, matching the expression
      Some(s"""
        with ch as (
          select doc_id, unnest(string_split(text, '')) as c
          from documents where text is not null
        ),
        cc as (select doc_id, c, count(*) as cnt from ch group by doc_id, c),
        n as (select doc_id, cast(sum(cnt) as bigint) as n from cc group by doc_id),
        e as (
          select cc.doc_id,
            sum(cnt * ln(cast(n as double) / cnt)) / n as h
          from cc join n using (doc_id) group by cc.doc_id, n
        )
        select doc_id,
          cast(${duckRound("h", 6)} as decimal(10,6)) as entropy
        from e order by doc_id""")
    ),
    "q_substring_stats" -> Q(
      (s, dir) =>
        graft.dedup.SubstringDedup
          .dupStats(docs(s, dir), "doc_id", col("text"), k = 5)
          .select(
            col("doc_id"),
            col("n_tokens"),
            col("dup_tokens"),
            roundHalfUp(col("dup_frac"), 6).cast("decimal(9,6)").as("dup_frac"))
          .orderBy("doc_id"),
      // the spans CTE of q_substring_dedup + a per-doc rollup with a
      // zero-fill left join (docs without duplicated spans report 0)
      Some(s"""
        with t as (
          select doc_id, toks from (select doc_id, $duckTokens as toks from documents
                                    where text is not null) where len(toks) > 0
        ),
        p as (
          select doc_id, len(toks) as n_toks, toks,
            unnest(range(1, cast(greatest(len(toks) - 4, 1) as int) + 1)) as i
          from t
        ),
        sh as (
          select doc_id, n_toks, i - 1 as pos,
            cast('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 15)
                 as bigint) as h
          from p
        ),
        dup as (select h from sh group by h having count(*) > 1),
        fl as (
          select doc_id, n_toks, pos,
            case when lag(pos) over (partition by doc_id order by pos) is null
                   or pos - lag(pos) over (partition by doc_id order by pos) > 5
                 then 1 else 0 end as nw
          from sh join dup using (h)
        ),
        g as (
          select doc_id, n_toks, pos,
            sum(nw) over (partition by doc_id order by pos rows unbounded preceding) - 1 as span_id
          from fl
        ),
        spans as (
          select doc_id,
            max(least(pos + 4, n_toks - 1)) - min(pos) + 1 as span_tokens
          from g group by doc_id, span_id
        ),
        per_doc as (select doc_id, cast(sum(span_tokens) as bigint) as dup_tokens
                    from spans group by doc_id),
        base as (
          select doc_id, cast(len(toks) as bigint) as n_tokens from
            (select doc_id, $duckTokens as toks from documents where text is not null)
        )
        select base.doc_id, n_tokens,
          coalesce(dup_tokens, 0) as dup_tokens,
          cast(${duckRound(
            "case when n_tokens > 0 then coalesce(dup_tokens, 0) / cast(n_tokens as double) else 0.0 end",
            6)} as decimal(9,6)) as dup_frac
        from base left join per_doc using (doc_id) order by base.doc_id""")
    ),
    "q_vocab" -> Q(
      (s, dir) =>
        graft.text.Vocab
          .build(docs(s, dir), "doc_id", "text", minCount = 5)
          .orderBy("vocab_id"),
      // Counts are exact ints and the id assignment is totally ordered by
      // (count desc, token), so the replay is representation-safe with no
      // canonicalization.
      Some(s"""
        with toks as (
          select doc_id, unnest($duckTokens) as token
          from documents where text is not null
        ),
        counts as (
          select token, count(*) as n_occurrences, count(distinct doc_id) as n_docs
          from toks group by token having count(*) >= 5
        )
        select token, n_occurrences, n_docs,
          cast(row_number() over (order by n_occurrences desc, token) - 1 as bigint) as vocab_id
        from counts order by vocab_id""")
    ),
    "q_vocab_oov" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val vocab = graft.text.Vocab.build(d, "doc_id", "text", minCount = 5)
        graft.text.Vocab
          .oovStats(d, vocab, "doc_id", "text")
          .select(
            col("doc_id"),
            col("n_tokens"),
            col("n_oov"),
            roundHalfUp(col("oov_rate"), 6).cast("decimal(9,6)").as("oov_rate")
          )
          .orderBy("doc_id")
      },
      Some(s"""
        with toks as (
          select doc_id, unnest($duckTokens) as token
          from documents where text is not null
        ),
        vocab as (
          select token from toks group by token having count(*) >= 5
        ),
        stats as (
          select t.doc_id, count(*) as n_tokens,
            count(case when v.token is null then 1 end) as n_oov
          from toks t left join vocab v on t.token = v.token
          group by t.doc_id
        )
        select doc_id, n_tokens, n_oov,
          cast(${duckRound(
            "case when n_tokens > 0 then n_oov / cast(n_tokens as double) else 0.0 end",
            6)} as decimal(9,6)) as oov_rate
        from stats order by doc_id""")
    ),
    "q_profile" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
        val aggs = cols.flatMap(c =>
          Seq(count(col(c)).as(s"_nn_$c"), count_distinct(col(c)).as(s"_nd_$c")))
        val rows = cols.map(c =>
          struct(lit(c).as("col_name"), col(s"_nn_$c").as("n_nonnull"),
            col(s"_nd_$c").as("n_distinct")))
        d.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(rows: _*)).as("r"))
          .select(col("r.col_name"), col("r.n_nonnull"), col("r.n_distinct"))
          .orderBy("col_name")
      },
      // Column profiling (the ingest summary shape generalized): Spark plans
      // the multi-distinct agg as one Expand pass; counts are exact ints.
      Some("""
        select 'doc_id' as col_name, count(doc_id) as n_nonnull, count(distinct doc_id) as n_distinct from documents
        union all
        select 'text', count(text), count(distinct text) from documents
        union all
        select 'lang', count(lang), count(distinct lang) from documents
        union all
        select 'source', count(source), count(distinct source) from documents
        union all
        select 'n_chars', count(n_chars), count(distinct n_chars) from documents
        order by col_name""")
    ),
    "q_lang_confusion" -> Q(
      (s, dir) =>
        docs(s, dir)
          .withColumn("_st", TextAnalysis.textStats(col("text")))
          .groupBy(
            col("lang"),
            TextAnalysis.langIdOfStats(col("_st")).as("lang_guess"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "lang_guess"),
      Some(s"""
        with t as (select doc_id, lang, text, $duckTokens as toks from documents),
        h as (
          select doc_id, lang, text,
            len(list_filter(toks, x -> lower(x) in ('the','a','of','and','to','in','is','that'))) as en,
            len(list_filter(toks, x -> lower(x) in ('le','la','de','et','les','des','un','une'))) as fr,
            len(list_filter(toks, x -> lower(x) in ('der','die','das','und','ist','von','ein','mit'))) as de,
            len(list_filter(toks, x -> lower(x) in ('el','la','de','y','los','que','un','en'))) as es
          from t
        ),
        g as (
          select lang,
            case when regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') then 'zh'
                 when greatest(en, fr, de, es) = 0 then 'unknown'
                 when en = greatest(en, fr, de, es) then 'en'
                 when fr = greatest(en, fr, de, es) then 'fr'
                 when de = greatest(en, fr, de, es) then 'de'
                 else 'es' end as lang_guess
          from h
        )
        select lang, lang_guess, count(*) as n
        from g group by lang, lang_guess
        order by lang, lang_guess""")
    ),
    "q_quality_rank" -> Q(
      (s, dir) =>
        graft.text.QualitySelect
          .ranks(docs(s, dir))
          .select(
            col("doc_id"),
            col("source"),
            col("q6").cast("decimal(10,6)").as("q6"),
            col("decile"),
            roundHalfUp(col("pct"), 6).cast("decimal(9,6)").as("pct")
          )
          .orderBy("doc_id"),
      // Rank key is the floor-rounded score + id tie-break on both engines;
      // percent_rank/ntile definitions match between Spark and DuckDB.
      Some(s"""
        with qm as (
          select doc_id, source,
            cast(len(toks) as double) as n,
            case when len(toks) > 0
                 then cast(list_sum(list_transform(toks, x -> length(x))) as double) / cast(len(toks) as double)
                 else 0.0 end as mtl,
            case when length(text) > 0
                 then cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) as double) / cast(length(text) as double)
                 else 0.0 end as punct,
            cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as double) as sw
          from (select doc_id, source, text, $duckTokens as toks from documents)
        ),
        qual as (
          select doc_id, source, ${duckRound(
            "least(n / 64.0, 1.0) * 0.3 + " +
              "least(sw / greatest(n, 1.0) * 8.0, 1.0) * 0.3 + " +
              "greatest(1.0 - punct * 4.0, 0.0) * 0.2 + " +
              "(case when mtl between 3.0 and 9.0 then cast(1.0 as double) else cast(0.5 as double) end) * 0.2",
            6)} as q6
          from qm
        )
        select doc_id, source, cast(q6 as decimal(10,6)) as q6,
          cast(ntile(10) over (partition by source order by q6 desc, doc_id) as int) as decile,
          cast(${duckRound(
            "percent_rank() over (partition by source order by q6 desc, doc_id)", 6
          )} as decimal(9,6)) as pct
        from qual order by doc_id""")
    ),
    "q_bpe_tokens" -> Q(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            graft.text.Bpe.bpeTokenCount(col("text")).as("n_bpe"),
            array_join(graft.text.Bpe.bpeTokens(col("text")), " ")
              .as("bpe_join"))
          .orderBy("doc_id"),
      // The DuckDB twin replays the SAME bundled merge table (the chain
      // below is generated from Bpe.merges) as unrolled replace() calls
      // over a U+241F-separated char list: the table is well-formed
      // (rank-sequential == greedy) and replace() is leftmost-first
      // non-overlapping, which is exactly one BPE merge pass.
      Some(s"""
        with pt as (
          select doc_id,
            regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') as ws
          from documents
        ),
        seg as (
          select doc_id,
            flatten(list_transform(ws, w ->
              regexp_extract_all($duckBpeChain, '$BpeSep([^$BpeSep]+)$BpeSep', 1))) as toks
          from pt
        )
        select doc_id, cast(len(toks) as int) as n_bpe,
          array_to_string(toks, ' ') as bpe_join
        from seg order by doc_id""")
    ),
    "q_bpe_ids" -> Q(
      (s, dir) => {
        // encode-to-ids: the trainer-facing shape (vocab lookup fused into
        // the tokenize expression; OOV -> -1). CSE collapses the three
        // bpe_ids calls into one evaluation per row.
        val ids = graft.text.Bpe.bpeEncode(col("text"))
        docs(s, dir)
          .select(
            col("doc_id"),
            size(ids).cast("int").as("n_ids"),
            array_join(transform(ids, x => x.cast("string")), " ").as("ids_join"),
            size(filter(ids, x => x === lit(graft.text.BpeVocab.OovId)))
              .cast("int").as("n_oov"))
          .orderBy("doc_id")
      },
      // Same unrolled merge chain as q_bpe_tokens, then a vocab-map lookup
      // generated from the ACTIVE BpeVocab — both engines read one table.
      Some(s"""
        with pt as (
          select doc_id,
            regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') as ws
          from documents
        ),
        seg as (
          select doc_id,
            flatten(list_transform(ws, w ->
              regexp_extract_all($duckBpeChain, '$BpeSep([^$BpeSep]+)$BpeSep', 1))) as toks
          from pt
        ),
        enc as (
          select doc_id,
            list_transform(toks,
              t -> coalesce(map_extract($duckVocabMap, t)[1], -1)) as ids
          from seg
        )
        select doc_id, cast(len(ids) as int) as n_ids,
          array_to_string(list_transform(ids, x -> cast(x as varchar)), ' ') as ids_join,
          cast(len(list_filter(ids, x -> x = -1)) as int) as n_oov
        from enc order by doc_id""")
    ),
    "q_quality_model" -> Q(
      (s, dir) => {
        import graft.text.LinearTextModel
        // model-based filtering: distill the quality HEURISTIC into a
        // hashed bag-of-words linear model trained in-engine (two
        // bounded-collect passes — PlanGuard-exempted), then score every
        // document with the pure narrow expression. The real-pipeline
        // shape: the teacher signal is expensive or sampled, the student
        // model gates the full corpus.
        val corpus = docs(s, dir)
          .select(col("doc_id"), col("text"),
            graft.text.TextAnalysis.qualityScore(col("text")).as("_y"))
        val m = LinearTextModel.train(corpus, "text", "_y",
          d = 256, alpha = 5.0)
        corpus
          .select(
            col("doc_id"),
            roundHalfUp(LinearTextModel.score(col("text"), m), 6)
              .cast("decimal(12,6)").as("model_score"),
            roundHalfUp(col("_y"), 4).cast("decimal(10,4)").as("quality_score"))
          .orderBy("doc_id")
      },
      // Full replay of both training passes: the teacher label is
      // q_text_quality's score expression; instances = token md5-bucket
      // ids (d=256); rates = (sum_y + 5*ybar)/(cnt + 5) per feature; raw
      // doc score = mean rate over instances; then the closed-form 1-D
      // least-squares calibration a*raw + b with the same explicit-sums
      // formula the Spark trainer uses. Pure add/multiply/divide — no
      // transcendentals — so both engines agree at the compared
      // 6-decimal rounding.
      Some(s"""
        with t as (select doc_id, text, $duckTokens as toks from documents),
        m as (
          select doc_id, toks,
            cast(len(toks) as double) as n,
            case when len(toks) > 0
                 then cast(list_sum(list_transform(toks, x -> length(x))) as double) / cast(len(toks) as double)
                 else 0.0 end as mtl,
            case when length(text) > 0
                 then cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) as double) / cast(length(text) as double)
                 else 0.0 end as punct,
            cast(len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','that'))) as double) as sw
          from t
        ),
        yt as (
          select doc_id, toks,
            least(n / 64.0, 1.0) * 0.3 +
              least(sw / greatest(n, 1.0) * 8.0, 1.0) * 0.3 +
              greatest(1.0 - punct * 4.0, 0.0) * 0.2 +
              (case when mtl between 3.0 and 9.0 then cast(1.0 as double) else cast(0.5 as double) end) * 0.2 as y
          from m
        ),
        gl as (select sum(y) / count(*) as yb, cast(count(*) as double) as n from yt),
        inst as (
          select doc_id,
            cast(cast('0x' || substr(md5(tok), 1, 8) as bigint) % 256 as int) as idx
          from (select doc_id, unnest(toks) as tok from yt)
        ),
        rates as (
          select i.idx, (sum(y.y) + 5.0 * g.yb) / (count(*) + 5.0) as w
          from inst i join yt y using (doc_id), gl g
          group by i.idx, g.yb
        ),
        sums as (
          select i.doc_id, sum(r.w) as sw from inst i join rates r using (idx)
          group by i.doc_id
        ),
        raw as (
          select y.doc_id, y.y,
            case when len(y.toks) = 0 then g.yb else s.sw / len(y.toks) end as r
          from yt y left join sums s using (doc_id), gl g
        ),
        calib as (
          select sum(r) as sr, sum(r * r) as srr, sum(r * y) as sry,
            sum(y) as sy, any_value(g.n) as n
          from raw, gl g
        ),
        ab as (
          select a, (sy - a * sr) / n as b from (
            select case when (srr - sr * sr / n) = 0 then 0.0
                        else (sry - sr * sy / n) / (srr - sr * sr / n) end as a,
              sr, sy, n
            from calib)
        )
        select r.doc_id,
          cast(${duckRound("ab.a * r.r + ab.b", 6)} as decimal(12,6)) as model_score,
          cast(${duckRound("r.y", 4)} as decimal(10,4)) as quality_score
        from raw r, ab
        order by r.doc_id"""
      )
    ),
    "q_heavy_hitters" -> Q(
      (s, dir) => {
        // two-pass exact heavy hitters: the Misra-Gries sketch PROPOSES
        // (bounded candidate collect — PlanGuard-exempted), the exact
        // recount DECIDES — so the output is deterministic and the
        // DuckDB twin can replay it as a plain filtered group-by even
        // though a sketch ran underneath
        graft.text.HeavyHitters
          .heavyHitterTokens(docs(s, dir), col("text"), minFrac = 0.01)
          .select(col("token"), col("cnt"))
          .orderBy(col("cnt").desc, col("token"))
      },
      // The oracle needs no sketch: exact counts with the same
      // ceil(total * frac) threshold — if the sketch ever dropped a true
      // heavy hitter, this hash-fails
      Some(s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        inst as (select unnest(toks) as token from t),
        tot as (select cast(count(*) as bigint) as n from inst)
        select token, count(*) as cnt
        from inst, tot
        group by token, tot.n
        having count(*) >= cast(ceil(tot.n * 0.01) as bigint)
        order by cnt desc, token""")
    ),
    "q_shards" -> Q(
      (s, dir) =>
        graft.operators.Shards
          .assign(
            docs(s, dir).select(col("doc_id"), col("source")),
            "doc_id", n = 8, orderCols = Seq("source"))
          .select(col("doc_id"), col("source"), col("shard"), col("shard_pos"))
          .orderBy("doc_id"),
      // Shard assignment is the shared md5 bucket; shard_pos replays the
      // (source, doc_id) within-shard order as a row_number window
      Some(s"""
        with s as (
          select doc_id, source, ${duckMdBucket(8)} as shard from documents
        )
        select doc_id, source, shard,
          cast(row_number() over (partition by shard order by source, doc_id) - 1
               as bigint) as shard_pos
        from s order by doc_id""")
    ),
    "q_shards_readback" -> Q(
      (s, dir) => {
        // the write IS the operator under test: materialize the shards,
        // read the FILES back, and compare the read-back (membership,
        // within-shard order, one-file-per-shard census) to the oracle's
        // pure assignment replay — end-to-end proof the sink preserves
        // the deterministic layout, not just that assign() computes it
        val out = s"${sys.props("java.io.tmpdir")}/graft_shards_rb_${math.abs(dir.hashCode)}"
        graft.operators.Shards.write(
          docs(s, dir).select(col("doc_id"), col("source")),
          "doc_id", out, n = 8, orderCols = Seq("source"))
        graft.operators.Shards.readBackAudit(s, out)
          .select(
            col("doc_id"), col("source"),
            col("shard").cast("int").as("shard"),
            col("shard_pos"),
            col("files_in_shard"))
          .orderBy("doc_id")
      },
      // The oracle never sees the files: it replays assignment + order
      // from the source table and pins files_in_shard = 1, so any loss,
      // reorder, duplicate, or split file in the round-trip hash-fails
      Some(s"""
        with s as (
          select doc_id, source, ${duckMdBucket(8)} as shard from documents
        )
        select doc_id, source, shard,
          cast(row_number() over (partition by shard order by source, doc_id) - 1
               as bigint) as shard_pos,
          cast(1 as bigint) as files_in_shard
        from s order by doc_id""")
    ),
    "q_shards_pruned" -> Q(
      (s, dir) => {
        import graft.operators.{ColRange, Shards}
        // the self-manifesting store is the operator under test
        // (q_pruned_scan pattern): Shards.write emits its own `_stats`
        // manifest, and the box read consults ONLY that manifest to pick
        // files. The twin replays the box on the raw table, so a file
        // the manifest wrongly skipped (or double-read) hash-fails.
        // Build jobs bounded (PlanGuardSpec exemption).
        val out = s"${sys.props("java.io.tmpdir")}/graft_shards_pr_${math.abs(dir.hashCode)}"
        Shards.write(
          docs(s, dir).select(
            col("doc_id"), col("source"), col("lang"), col("n_chars")),
          "doc_id", out, n = 8, orderCols = Seq("source"))
        Shards
          .prunedRead(s, out,
            Seq(ColRange("source", "src0", "src19"),
              ColRange("doc_id", 0L, 300L)))
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
            col("shard").cast("int").as("shard"))
          .orderBy("doc_id")
      },
      // lexicographic source slice (src0,src1,src10..src19 — NOT
      // src2..src9) + id slice, replayed directly on the raw table
      Some(s"""
        select doc_id, source, lang, n_chars, ${duckMdBucket(8)} as shard
        from documents
        where source between 'src0' and 'src19' and doc_id between 0 and 300
        order by doc_id""")
    ),
    // Feature hashing (Weinberger et al., ICML'09): model-free signed
    // d=32 text vectors from md5 lane/sign hashes — integer-exact, so
    // the sparse form oracles with no rounding at all. The dense form
    // feeds the vector stack (PCA moments, IVF, kNN) with zero
    // vocabulary state.
    "q_feature_hash" -> Q(
      (s, dir) =>
        graft.text.FeatureHash
          .vectorizeSparse(docs(s, dir), "doc_id", "text", d = 32)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id", "lane"),
      Some(s"""
        with t as (select doc_id, $duckTokens as toks from documents),
        e as (select doc_id, unnest(toks) as tok from t),
        l as (select doc_id,
                cast(${graft.sketch.Hll.duck.hash60("'fh|' || tok")} % 32 as int) as lane,
                case when ${graft.sketch.Hll.duck.hash60("'fhs|' || tok")} % 2 = 0
                     then 1 else -1 end as sgn
              from e)
        select doc_id, lane, cast(sum(sgn) as bigint) as v
        from l group by doc_id, lane
        order by doc_id, lane""")
    ),
    // Native Jaro-Winkler linkage scoring: the codegen'd expression is
    // fitted BIT-FOR-BIT to DuckDB's jaro_winkler_similarity, so the
    // compared column is the RAW double — no rounding shield anywhere.
    "q_jaro_linkage" -> Q(
      (s, dir) => {
        import graft.operators.RecordLinkage
        import graft.text.JaroWinklerExpr
        val p = Tables.read(s, dir, "part").select(
          col("p_partkey").as("id"),
          col("p_type").as("bk1"), col("p_size").as("bk2"),
          RecordLinkage.normalize(col("p_name")).as("nm"))
        val a = p.as("a"); val b = p.as("b")
        a.join(b,
            col("a.bk1") === col("b.bk1") && col("a.bk2") === col("b.bk2") &&
              col("a.id") < col("b.id"))
          .select(
            col("a.id").as("id_a"), col("b.id").as("id_b"),
            JaroWinklerExpr.jaroWinkler(col("a.nm"), col("b.nm")).as("jw"))
          .orderBy(col("jw").desc, col("id_a"), col("id_b"))
          .limit(100)
      },
      Some("""
        with p as (
          select p_partkey as id, p_type as bk1, p_size as bk2,
            regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g') as nm
          from part
        )
        select a.id as id_a, b.id as id_b,
          jaro_winkler_similarity(a.nm, b.nm) as jw
        from p a join p b
          on a.bk1 = b.bk1 and a.bk2 = b.bk2 and a.id < b.id
        order by jw desc, id_a, id_b
        limit 100""")
    ),
    // BPE merge-rule LEARNING (Sennrich et al., ACL'16): six merges
    // derived from the corpus, each iteration one vocabulary-level pair
    // count + a single-row argmax collect (k-means loop shape). The twin
    // unrolls the same six supersteps as a CTE chain with scalar-
    // subquery replace patterns — learned table replayed rule-for-rule.
    "q_bpe_learn" -> Q(
      (s, dir) =>
        graft.text.BpeLearn
          .learn(docs(s, dir), "text", numMerges = 6)
          .orderBy("rank"),
      Some {
        val S = graft.text.BpeLearn.Sep
        def pairs(src: String) = s"""
          select p1, p2, sum(cnt) as n from (
            select syms[i] as p1, syms[i + 1] as p2, cnt
            from (select string_split(substr(enc, 2, length(enc) - 2), '$S$S') as syms,
                         cnt from $src) t,
                 unnest(range(1, len(t.syms))) as u(i)
            where len(syms) >= 2
          ) group by p1, p2"""
        val chain = (1 to 6).map { k =>
          val prev = s"w${k - 1}"
          s"""
          p$k as (${pairs(prev)}),
          m$k as (select p1, p2, n from p$k order by n desc, p1, p2 limit 1),
          w$k as (select replace(enc,
                    (select '$S' || p1 || '$S$S' || p2 || '$S' from m$k),
                    (select '$S' || p1 || p2 || '$S' from m$k)) as enc, cnt
                  from $prev)"""
        }.mkString(",")
        val out = (1 to 6)
          .map(k => s"select $k as rank, p1, p2, n from m$k")
          .mkString(" union all ")
        s"""
        with t as (select $duckTokens as toks from documents),
        wf as (select w, count(*) as cnt
               from (select unnest(toks) as w from t) where length(w) > 0
               group by w),
        w0 as (select '$S' || array_to_string(string_split(w, ''), '$S$S') || '$S' as enc,
                 cnt from wf),
        $chain
        select cast(rank as int) as rank, p1, p2, cast(n as bigint) as n
        from ($out)
        order by rank"""
      }
    ),
    // Blocked record linkage (Fellegi-Sunter with fixed weights): the
    // entity-resolution audit the anonymization pipeline lacks — two
    // spellings of one entity inflate k-anonymity counts. Candidates are
    // bounded per (type, size) block; scoring is codegen'd levenshtein
    // arithmetic; output a deterministic top-100.
    "q_record_linkage" -> Q(
      (s, dir) => {
        import graft.operators.RecordLinkage
        val part = Tables.read(s, dir, "part")
        RecordLinkage
          .link(part, "p_partkey",
            Seq("p_type", "p_size"),
            "p_name", "p_brand", "p_retailprice", balTol = 1.0)
          .select(
            col("id_a"), col("id_b"),
            roundHalfUp(col("name_sim"), 4).cast("decimal(9,4)").as("name_sim"),
            roundHalfUp(col("addr_sim"), 4).cast("decimal(9,4)").as("addr_sim"),
            col("bal_sim").cast("int").as("bal_sim"),
            roundHalfUp(col("score"), 4).cast("decimal(9,4)").as("score"),
            col("score").as("score_raw")
          )
          .orderBy(col("score_raw").desc, col("id_a"), col("id_b"))
          .limit(100)
          // final sort on the RAW double too — sorting by the rounded
          // decimal here while the DuckDB twin orders by scored.score
          // would reorder rows whose raw scores differ but round equal
          .orderBy(col("score_raw").desc, col("id_a"), col("id_b"))
          .drop("score_raw")
      },
      Some(s"""
        with p as (
          select p_partkey as id, p_type as bk1, p_size as bk2,
            regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g') as nm,
            regexp_replace(lower(p_brand), '[^a-z0-9 ]', '', 'g') as ad,
            cast(p_retailprice as double) as bal
          from part
        ),
        pairs as (
          select a.id as id_a, b.id as id_b,
            case when greatest(len(a.nm), len(b.nm)) = 0 then 1.0
                 else 1.0 - cast(levenshtein(a.nm, b.nm) as double)
                          / cast(greatest(len(a.nm), len(b.nm)) as double) end as name_sim,
            case when greatest(len(a.ad), len(b.ad)) = 0 then 1.0
                 else 1.0 - cast(levenshtein(a.ad, b.ad) as double)
                          / cast(greatest(len(a.ad), len(b.ad)) as double) end as addr_sim,
            case when abs(a.bal - b.bal) <= 1.0 then 1.0 else 0.0 end as bal_sim
          from p a join p b
            on a.bk1 = b.bk1 and a.bk2 = b.bk2 and a.id < b.id
        ),
        scored as (
          select id_a, id_b, name_sim, addr_sim, bal_sim,
            name_sim * 0.5 + addr_sim * 0.3 + bal_sim * 0.2 as score
          from pairs
        )
        select id_a, id_b,
          cast(${duckRound("name_sim", 4)} as decimal(9,4)) as name_sim,
          cast(${duckRound("addr_sim", 4)} as decimal(9,4)) as addr_sim,
          cast(bal_sim as int) as bal_sim,
          cast(${duckRound("score", 4)} as decimal(9,4)) as score
        from scored
        order by scored.score desc, id_a, id_b
        limit 100""")
    )
  )

  val all: ListMap[String, Q] =
    textQueries ++ dedupQueries ++ similarityQueries ++ corpusQueries ++
      multimodalQueries ++ curationQueries
}
