package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the embedding-compression layer of a
  * production ANN stack (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split each D-dim vector into `m`
  * subspaces of D/m dims, k-means each subspace to `ks` centroids, and
  * store per vector only the `m` centroid ids — 64 float dims (256 bytes)
  * become 8 small ints, a 32x compression that turns a 100 TB embedding
  * corpus into an in-memory-searchable 3 TB code table.
  *
  * Search uses ADC (asymmetric distance computation): the query stays
  * exact; its distance to every centroid of every subspace is a tiny
  * m x ks lookup table, and a vector's approximate squared distance is m
  * table lookups summed — a narrow codegen'd expression over the code
  * array, no vector arithmetic per row.
  *
  * Scale shape: ALL m subspace k-means train together — each Lloyd
  * iteration is ONE pass over the corpus (every row explodes to its m
  * (subspace, nearest-centroid, subvector) cells, and a single
  * (sub, cid, dim) mean aggregation updates every codebook; the shuffle
  * carries m x ks x subDim partial sums per partition, not rows). A
  * subspace-by-subspace loop would pay m x iters corpus scans for the
  * same result. Encoding is a pure per-row expression (broadcast-literal
  * codebooks inside [[NearestCentroidExpr]]); ADC top-k is a TakeOrdered
  * over the code table, never a shuffle of vectors.
  *
  * Determinism mirrors [[Ivf.build]] exactly: seeds = first ks ids,
  * ascending-index distance folds, strict-< argmin tie-break, clusters
  * that lose all members DROP from the codebook (cids keep their original
  * values, codes always reference surviving cids) — so codes are
  * engine-replayable and the q_pq_codes oracle replays every subspace's
  * build in DuckDB.
  */
object Pq {

  /** A trained codebook: `centroids(s)` = the surviving (cid, centroid)
    * pairs of subspace s, ascending by cid (possibly fewer than `ks` when
    * a Lloyd iteration emptied a cluster — same semantics as
    * [[Ivf.updateCentroids]]).
    */
  final case class Codebook(
      m: Int,
      ks: Int,
      subDim: Int,
      centroids: IndexedSeq[IndexedSeq[(Int, Seq[Double])]]) {
    require(centroids.size == m, "pq: codebook must have one entry per subspace")

    /** Squared distance between `q`'s subspace-s slice and a centroid —
      * the same ascending-index left fold from 0.0 as
      * [[NearestCentroidExpr]], so driver-side ADC tables match
      * engine-side distances bit-for-bit.
      */
    def subDistance(q: Seq[Double], s: Int, cent: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < subDim) {
        val d = q(s * subDim + i) - cent(i)
        acc += d * d
        i += 1
      }
      acc
    }
  }

  /** Train a codebook: `iters` Lloyd iterations, ONE corpus pass each,
    * updating all m subspaces together. D must be divisible by m.
    */
  def train(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      ks: Int = 16,
      iters: Int = 2
  ): Codebook = {
    require(m > 0 && ks > 0 && iters >= 0, "pq: m, ks positive; iters >= 0")
    require(dim % m == 0, s"pq: dim $dim not divisible by m $m")
    val subDim = dim / m
    // bounded job 1: the first ks vectors by id seed EVERY subspace
    val seedRows = df
      .orderBy(col(idCol))
      .limit(ks)
      .select(transform(col(vecCol), x => x.cast("double")).as("_v"))
      .collect()
      .map(_.getSeq[Double](0))
    // an empty frame would otherwise yield empty codebooks that crash
    // encode/adcDistance later with obscure empty-collection errors
    require(seedRows.nonEmpty, "pq: cannot train a codebook on an empty frame")
    var cb: IndexedSeq[IndexedSeq[(Int, Seq[Double])]] =
      (0 until m).map { s =>
        seedRows.zipWithIndex.map { case (v, i) =>
          (i, v.slice(s * subDim, (s + 1) * subDim).toSeq)
        }.toIndexedSeq
      }
    // one bounded collect per iteration: m x ks x subDim means
    (0 until iters).foreach { _ =>
      val cells = array((0 until m).map { s =>
        struct(
          lit(s).as("sub"),
          codeOf(col(vecCol), s, cb).as("cid"),
          slice(col(vecCol), s * subDim + 1, subDim).as("sv"))
      }: _*)
      val means = df
        .select(explode(cells).as("e"))
        .select(col("e.sub").as("sub"), col("e.cid").as("cid"),
          posexplode(col("e.sv")).as(Seq("dim", "v")))
        .groupBy(col("sub"), col("cid"), col("dim"))
        .agg(avg(col("v").cast("double")).as("mean"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      cb = (0 until m).map { s =>
        means.keys.collect { case (`s`, cid, _) => cid }
          .toIndexedSeq.distinct.sorted.map { cid =>
            (cid, (0 until subDim).map(d => means((s, cid, d))).toSeq)
          }
      }
    }
    Codebook(m, ks, subDim, cb)
  }

  /** The surviving-cid code of subspace s: argmin position over the
    * broadcast-literal matrix, mapped back to the original cid (the
    * [[Ivf]] assignCollected shape).
    */
  private def codeOf(vec: Column, s: Int, cb: IndexedSeq[IndexedSeq[(Int, Seq[Double])]]): Column = {
    val mat = cb(s).map(_._2)
    val ids = cb(s).map(_._1)
    element_at(
      typedLit(ids),
      NearestCentroidExpr
        .nearestCentroid(slice(vec, s * mat.head.size + 1, mat.head.size), mat)
        .getField("centroid_id") + 1)
  }

  /** `array<int>` of `m` centroid ids for a vector column — a pure
    * codegen'd per-row expression (one broadcast-literal argmin per
    * subspace).
    */
  def encode(vec: Column, cb: Codebook): Column =
    array((0 until cb.m).map(s => codeOf(vec, s, cb.centroids)): _*)

  /** Approximate squared distance of an ENCODED vector to an exact query:
    * m lookups into the flattened query-to-centroid table, summed left to
    * right (fixed order — engine-replayable). The table is cid-indexed per
    * subspace (gaps from dropped clusters hold 0.0 and are never looked
    * up — codes only reference surviving cids).
    */
  def adcDistance(codes: Column, query: Seq[Double], cb: Codebook): Column = {
    require(query.size == cb.m * cb.subDim,
      s"pq: query dim ${query.size} != ${cb.m * cb.subDim}")
    val segSizes = cb.centroids.map(cs => cs.map(_._1).max + 1)
    val offsets = segSizes.scanLeft(0)(_ + _)
    val table: Seq[Double] = (0 until cb.m).flatMap { s =>
      val byCid = cb.centroids(s).toMap
      (0 until segSizes(s)).map(cid =>
        byCid.get(cid).map(cent => cb.subDistance(query, s, cent)).getOrElse(0.0))
    }
    val flat = typedLit(table)
    (0 until cb.m)
      .map(s => element_at(flat, lit(offsets(s) + 1) + element_at(codes, s + 1)))
      .reduce(_ + _)
  }

  /** Top-k nearest by ADC distance over a code table: (idCol, adc_dist),
    * ascending. A TakeOrdered over m-int codes — the 100 TB search shape
    * (the vector column is never read).
    */
  def adcTopK(
      encoded: DataFrame,
      idCol: String,
      codesCol: String,
      query: Seq[Double],
      cb: Codebook,
      k: Int
  ): DataFrame = {
    require(k > 0, s"pq: k must be positive, got $k")
    encoded
      .select(col(idCol), adcDistance(col(codesCol), query, cb).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** PQ codes joined with IVF cluster assignment — the serving-index row
    * shape of a production IVF-PQ ANN stack: (id, m-int code word,
    * centroid_id). Write it with [[Ivf.writeIndex]] (vecCol = the codes
    * column) to get a cluster-partitioned on-disk index that is ~32x
    * smaller than the vector table and never rereads a vector at query
    * time.
    */
  def encodeAssigned(
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebook,
      codesCol: String = "codes"
  ): DataFrame = {
    require(codesCol != idCol && codesCol != "centroid_id",
      s"pq: codesCol $codesCol collides with an output column")
    assigned.select(col(idCol), encode(col(vecCol), cb).as(codesCol), col("centroid_id"))
  }

  /** IVF-PQ ANN search: rank by ADC distance inside the `nprobe` clusters
    * nearest to the query — the composition of [[Ivf.search]]'s probe
    * stage with [[adcDistance]]'s table lookups. The scan side is the
    * CODE table from [[encodeAssigned]] (m small ints per row, cluster-
    * partitioned when loaded via [[Ivf.loadIndex]], so partition pruning
    * skips every unprobed cluster's files); the query stays exact. At
    * 100 TB this is the only search shape that avoids both a full scan
    * AND a vector read: probe selection is a k-row broadcast, ADC is a
    * codegen'd lookup-sum, and the top-k is a TakeOrdered over ids.
    *
    * @return (idCol, adc_dist) ascending — approximate squared distance
    */
  def searchIvfAdc(
      encoded: DataFrame,
      centroids: DataFrame,
      idCol: String,
      codesCol: String,
      query: Seq[Double],
      cb: Codebook,
      k: Int,
      nprobe: Int = 2
  ): DataFrame = {
    require(k > 0, s"pq: k must be positive, got $k")
    require(nprobe > 0, s"pq: nprobe must be positive, got $nprobe")
    val probes = centroids
      .withColumn("_dist", Ivf.sqDist(col("centroid"), typedLit(query)))
      .orderBy(col("_dist"), col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))
    encoded
      .join(broadcast(probes), "centroid_id")
      .select(col(idCol), adcDistance(col(codesCol), query, cb).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** ADC distance from an exact query VECTOR COLUMN to a code word: per
    * subspace, the squared distance between the query slice and the
    * literal centroid the code references — the same ascending-index fold
    * and left-to-right subspace sum as [[adcDistance]]'s precomputed
    * table, so both formulations are bit-identical. Used by the batched
    * search, where the query is a column and a per-query driver-side
    * table would defeat the one-job shape.
    */
  private def adcDistanceToVec(qv: Column, codes: Column, cb: Codebook): Column =
    (0 until cb.m).map { s =>
      val segSize = cb.centroids(s).map(_._1).max + 1
      val byCid = cb.centroids(s).toMap
      // cid-indexed matrix; gaps from dropped clusters hold zeros and are
      // never referenced (codes only name surviving cids)
      val matFull: Seq[Seq[Double]] =
        (0 until segSize).map(cid => byCid.getOrElse(cid, Seq.fill(cb.subDim)(0.0)))
      Ivf.sqDist(
        slice(qv, s * cb.subDim + 1, cb.subDim),
        element_at(typedLit(matFull), element_at(codes, s + 1) + 1))
    }.reduce(_ + _)

  /** Batched IVF-PQ search — a query DATAFRAME against the code table in
    * one job, the [[Ivf.searchAll]] shape over the 32x-compressed index:
    * per-query probe selection is a literal centroid explode + window,
    * the probe list broadcasts onto the cluster-partitioned code table,
    * ADC is a pure per-row expression, and the per-query top-k is the
    * [[TopKByScore]] bounded heap — never a global sort, vectors never
    * read.
    *
    * @return (queryIdCol, rank, idCol, adc_dist) — rank 1..k per query by
    *         (adc_dist asc, id asc); bit-identical to per-query
    *         [[searchIvfAdc]] results
    */
  def searchAllAdc(
      encoded: DataFrame,
      centroids: DataFrame,
      idCol: String,
      codesCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      cb: Codebook,
      k: Int,
      nprobe: Int = 2
  ): DataFrame = {
    require(k > 0, s"pq: k must be positive, got $k")
    require(nprobe > 0, s"pq: nprobe must be positive, got $nprobe")
    val reserved = Seq("_qv", "_c", "_d", "_rn", "centroid_id")
    require(!reserved.exists(queries.columns.contains),
      s"pq: queries frame must not already have ${reserved.mkString("/")} columns")
    require(!reserved.contains(queryIdCol),
      s"pq: queryIdCol $queryIdCol is a reserved name")
    require(queryIdCol != idCol,
      s"pq: queryIdCol and idCol are both '$idCol' — the output needs distinct names")
    val centLit = typedLit(
      centroids.select(col("centroid_id"), col("centroid"))
        .orderBy(col("centroid_id"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .toSeq)
    val perCentroid = queries
      .select(
        col(queryIdCol),
        transform(col(queryVecCol), x => x.cast("double")).as("_qv"))
      .select(col(queryIdCol), col("_qv"), explode(centLit).as("_c"))
      .select(
        col(queryIdCol), col("_qv"),
        col("_c._1").as("centroid_id"),
        Ivf.sqDist(col("_c._2"), col("_qv")).as("_d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("_d"), col("centroid_id"))
    val probes = perCentroid
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(col(queryIdCol), col("_qv"), col("centroid_id"))
    encoded
      .join(broadcast(probes), "centroid_id")
      .select(
        col(queryIdCol),
        col(idCol),
        adcDistanceToVec(col("_qv"), col(codesCol), cb).as("_adc"))
      .groupBy(col(queryIdCol))
      .agg(TopKByScore.topK(col(idCol), -col("_adc"), k).as("_top"))
      .select(col(queryIdCol), inline(col("_top")))
      .select(
        col(queryIdCol),
        col("rank"),
        col("dst").as(idCol),
        (-col("score")).as("adc_dist"))
  }

  /** Exact re-rank of an ADC shortlist: join the (small) candidate id set
    * back to the vector table and rank by true cosine — candidates
    * broadcast, so the corpus side is a semi-joined narrow probe, never a
    * scan. The standard two-stage IVF-PQ recipe: `searchIvfAdc(k = R)`
    * for a cheap R-candidate shortlist, then exact distances on R rows
    * only.
    *
    * @return (idCol, cos_sim) descending, top `k`
    */
  def rerankExact(
      candidates: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int
  ): DataFrame = {
    require(k > 0, s"pq: k must be positive, got $k")
    corpus
      .join(broadcast(candidates.select(col(idCol))), idCol)
      .select(
        col(idCol),
        Similarity.cosine(col(vecCol), typedLit(query)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Driver-side decode for audits: the reconstruction of a code word. */
  def decode(codes: Seq[Int], cb: Codebook): Seq[Double] =
    (0 until cb.m).flatMap { s =>
      val byCid = cb.centroids(s).toMap
      byCid(codes(s))
    }

  /** Persist a codebook: one row per (sub, cid, centroid) plus the
    * parameters — self-describing, one tiny file. The PQ leg of the
    * index-persistence trilogy ([[graft.dedup.Dedup.writeBandIndex]],
    * [[Ivf.writeIndex]]): train once, encode/search every session from
    * the stored table.
    */
  def writeCodebook(cb: Codebook, dir: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.m
      (cid, cent) <- cb.centroids(s)
    } yield (s, cid, cent, cb.m, cb.ks, cb.subDim)
    rows.toDF("sub", "cid", "centroid", "m", "ks", "sub_dim")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** Right-to-rectification (GDPR Art. 16) through the stored IVF-PQ
    * index ([[encodeAssigned]]'s (id, code word, centroid_id) rows
    * written by [[Ivf.writeIndex]] with vecCol = the codes column):
    * REPLACE the corrected documents' code words and cluster assignments
    * with values re-derived from the corrected VECTORS under the index's
    * frozen codebook and stored centroids — one
    * [[graft.operators.Rectify.updateByKey]] pass (broadcast left join;
    * the partitionBy rewrite relocates rows whose nearest centroid
    * changed), whole-directory retire/promote swap — so
    * [[searchIvfAdc]]/[[searchAllAdc]] over the rectified index is
    * exactly what a rebuild-with-these-centroids-and-codebook over the
    * corrected vectors serves. Codebook and centroids stay frozen: both
    * are training-sample statistics, not per-subject data
    * ([[Ivf.eraseFromIndex]] scaladoc), and [[Ivf.clusterDrift]] is the
    * staleness audit when rectified vectors pile away from them.
    * Replace-only: corrected ids absent from the index update nothing.
    * This is the path [[Ivf.rectifyIndex]]'s layout guard points at —
    * there the stored rows hold raw vectors, here codes derived from
    * them, and a rectification must re-derive whichever the store
    * actually holds. Returns rows rectified.
    */
  def rectifyIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corrected: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebook,
      codesCol: String = "codes"
  ): Long = {
    import graft.operators.{PartitionSwap, Rectify}
    PartitionSwap.recoverDir(spark, s"$dir/assigned")
    val stored = spark.read.parquet(s"$dir/assigned").columns.toSet
    require(stored == Set(idCol, codesCol, "centroid_id"),
      s"pq rectify: assigned/ columns (${stored.mkString(", ")}) are not " +
        s"the IVF-PQ layout ($idCol, $codesCol, centroid_id) — a plain " +
        "vector layout rectifies via Ivf.rectifyIndex")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("centroid_id"), col("centroid"))
    val replaced = Ivf.assign(corrected, idCol, vecCol, centroids)
      .select(col(idCol), encode(col(vecCol), cb).as(codesCol), col("centroid_id"))
    Rectify.updateByKey(spark, s"$dir/assigned", replaced, idCol,
      writeTo = (df, tmp) =>
        df.write.mode("overwrite").partitionBy("centroid_id").parquet(tmp))
  }

  /** Load a codebook written by [[writeCodebook]]. */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession, dir: String): Codebook = {
    val rows = spark.read.parquet(dir).collect()
    require(rows.nonEmpty, s"pq: empty codebook at $dir")
    val head = rows.head
    val (m, ks, subDim) =
      (head.getAs[Int]("m"), head.getAs[Int]("ks"), head.getAs[Int]("sub_dim"))
    val bySub = rows
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"), r.getSeq[Double](r.fieldIndex("centroid")).toSeq))
      .groupBy(_._1)
    Codebook(m, ks, subDim,
      (0 until m).map(s =>
        bySub.getOrElse(s, Array.empty).sortBy(_._2).map(t => (t._2, t._3)).toIndexedSeq))
  }
}
