package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) index for approximate nearest-neighbor search — the
  * partition-based alternative to SRP-LSH ([[Similarity]]).
  *
  * Build: deterministic Lloyd's k-means. Assignment broadcasts the k x dim
  * centroid matrix inside a native [[NearestCentroidExpr]] (narrow map-only
  * argmin, no shuffle — the MLlib KMeans shape); the centroid update is
  * posexplode -> groupBy (cluster, dim) avg -> array reassembly, whose
  * shuffle is k*dim partial sums per partition, not n rows. Seeds are the
  * first k vectors by id, so the index is reproducible.
  *
  * Search: probe only the `nprobe` nearest centroids (broadcast compare),
  * then exact cosine inside those clusters — the classic recall/cost dial.
  * At 100 TB the corpus is hash-partitioned by cluster id so one probe
  * touches 1/k of the data.
  */
object Ivf {

  private[similarity] def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v
    )

  /** Assign each vector to its nearest centroid — a narrow map-only pass.
    *
    * The centroid matrix is always small (k x dim), so it is collected once
    * and embedded in a [[NearestCentroidExpr]] broadcast literal; the
    * per-row argmin runs inside whole-stage codegen with NO shuffle. The
    * naive formulation (crossJoin + window argmin) shuffles n*k rows per
    * Lloyd's iteration — the single worst scaling mistake an IVF build can
    * make at a billion vectors.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame =
    assignCollected(df, vecCol, collectCentroids(centroids))

  private def collectCentroids(centroids: DataFrame): Array[(Int, Seq[Double])] =
    centroids
      .select(col("centroid_id"), col("centroid"))
      .orderBy(col("centroid_id"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))

  private def assignCollected(
      df: DataFrame,
      vecCol: String,
      collected: Array[(Int, Seq[Double])]
  ): DataFrame = {
    val mat = collected.map(_._2).toSeq
    val ids = collected.map(_._1).toSeq
    df.withColumn("_nc", NearestCentroidExpr.nearestCentroid(col(vecCol), mat))
      .withColumn("centroid_id",
        element_at(typedLit(ids), col("_nc").getField("centroid_id") + 1))
      .withColumn("_dist", col("_nc").getField("dist"))
      .drop("_nc")
  }

  /** Recompute centroids as per-dimension means of their members. */
  def updateCentroids(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("centroid_id"), col("dim"))
      .agg(avg(col("v").cast("double")).as("mean"))
      .groupBy(col("centroid_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("mean")))),
          s => s.getField("mean")
        ).as("centroid")
      )

  /** Build the index: returns (centroids, assignments). */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 3
  ): (DataFrame, DataFrame) = {
    var centroids = df
      .orderBy(col(idCol))
      .limit(k)
      .select(
        (row_number().over(Window.orderBy(col(idCol))) - 1).as("centroid_id"),
        transform(col(vecCol), x => x.cast("double")).as("centroid")
      )
    // no caching: assignment is a narrow map from df + a collected centroid
    // literal, and each iteration's frames are consumed exactly once (the
    // next assign() collects the k x dim update), so cached state would
    // only accumulate executor memory across iterations
    (0 until iters).foreach { _ =>
      centroids = updateCentroids(assign(df, idCol, vecCol, centroids), vecCol)
    }
    // collect the final matrix ONCE and return a literal centroids frame —
    // returning the lazy update plan would re-run the whole scan+shuffle
    // job on every downstream action over `centroids`
    val finalC = collectCentroids(centroids)
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = finalC.toSeq
      .toDF("centroid_id", "centroid")
    (centDf, assignCollected(df, vecCol, finalC))
  }

  /** The 100 TB k-means recipe: train centroids on a DETERMINISTIC sample
    * and pay ONE full-corpus assignment pass, instead of [[build]]'s
    * iters+1 uncached full scans. The sample is the md5 per-mille bucket
    * of the id ([[graft.operators.StableHash]] — engine-stable and
    * join-stable, same convention as [[graft.operators.Sampling]]), so
    * the trained index is reproducible run-to-run and engine-to-engine.
    *
    * `frac = 1.0` keeps every row, making this exactly [[build]] (same
    * seeds, same iterations) — the equivalence the spec pins. At scale
    * you size `frac` so the sample fits one executor-friendly scan
    * (k-means centroid quality degrades slowly in sample rate; assignment
    * is always exact over the full corpus).
    */
  def buildOnSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 3,
      frac: Double = 0.1
  ): (DataFrame, DataFrame) = {
    require(frac > 0 && frac <= 1, s"ivf: frac must be in (0, 1], got $frac")
    // floor(frac*1000 + 0.5) per-mille threshold — the Sampling/Mixer cut
    val thresh = math.floor(frac * 1000 + 0.5).toInt
    require(thresh >= 1,
      s"ivf: frac=$frac rounds to an EMPTY per-mille sample — use frac >= 0.0005")
    val sample = df.filter(
      graft.operators.StableHash.bucket(col(idCol), 1000) < thresh)
    var centroids = sample
      .orderBy(col(idCol))
      .limit(k)
      .select(
        (row_number().over(Window.orderBy(col(idCol))) - 1).as("centroid_id"),
        transform(col(vecCol), x => x.cast("double")).as("centroid")
      )
    (0 until iters).foreach { _ =>
      centroids = updateCentroids(assign(sample, idCol, vecCol, centroids), vecCol)
    }
    val finalC = collectCentroids(centroids)
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = finalC.toSeq.toDF("centroid_id", "centroid")
    // the ONE full pass: exact assignment of the whole corpus
    (centDf, assignCollected(df, vecCol, finalC))
  }

  /** Persist a built index under `dir`: `centroids/` (one small file —
    * the k x dim matrix) and `assigned/` PARTITIONED BY cluster id, so a
    * loaded index is physically cluster-partitioned on disk and a probe
    * join touches only the probed clusters' files (dynamic partition
    * pruning on `centroid_id`). A production ANN service builds once with
    * [[buildOnSample]], writes here, and serves every session from
    * [[loadIndex]] instead of re-running k-means.
    */
  def writeIndex(
      centroids: DataFrame,
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String
  ): Unit = {
    centroids
      .select(col("centroid_id"), col("centroid"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    assigned
      .select(col(idCol), col(vecCol), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/assigned")
  }

  /** Load an index written by [[writeIndex]]: (centroids, assigned).
    * Self-heals a compaction/erasure swap that crashed between retire
    * and promote (`assigned/` absent, `assigned__retired` holding the
    * data) — without this, every read path would fail until some later
    * maintenance verb happened to run the recovery.
    *
    * This is the MAINTENANCE reader: raw store state, logically-erased
    * subjects included. Serve through [[searchServing]] /
    * [[searchAllServing]] (default-masked) or pass `maskIds` explicitly.
    */
  def loadIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): (DataFrame, DataFrame) = {
    graft.operators.PartitionSwap.recoverDir(spark, s"$dir/assigned")
    (
      spark.read.parquet(s"$dir/centroids").select(col("centroid_id"), col("centroid")),
      spark.read.parquet(s"$dir/assigned"))
  }

  /** Append a batch to a stored index ([[writeIndex]] layout) — the
    * daily-ingest maintenance of the index-persistence family (band
    * index: `Dedup.appendBandIndex`; BM25 postings:
    * `Bm25.appendSearchIndex`; IVF: here). The batch is assigned with the
    * STORED centroids — the same narrow broadcast-literal argmin as
    * [[assign]], one pass over the batch only — and appended in the same
    * cluster-partitioned layout, so probe pruning keeps working and the
    * append is EXACT: the appended index serves [[search]]/[[searchAll]]
    * identically to an index rebuilt from the concatenated corpus with
    * these centroids. Centroid staleness (fresh data drifting away from
    * what k-means was trained on) is deliberately out of scope here —
    * [[clusterDrift]] is the detector, re-running [[buildOnSample]] the
    * heal.
    *
    * Cache-invalidation caveat (CurateCli.runIncremental's lesson): the
    * batch frame must not derive from a cached plan that reads this
    * index's own files, or the append invalidates that cache and the
    * lineage silently recomputes against the appended files.
    */
  def appendIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String
  ): Unit = {
    val spark = batch.sparkSession
    // self-heal a torn retire/promote swap before appending — an append
    // landing while `assigned/` is absent would silently found a NEW
    // store next to the retired one (loadIndex scaladoc)
    graft.operators.PartitionSwap.recoverDir(spark, s"$dir/assigned")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("centroid_id"), col("centroid"))
    assign(batch, idCol, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id").parquet(s"$dir/assigned")
  }

  /** Compact the accumulated append-epoch delta files
    * ([[graft.operators.Compaction]] scaladoc): each [[appendIndex]]
    * epoch `mode("append")`s one file per touched `centroid_id=`
    * partition, so a probed cluster eventually opens one file per
    * epoch. Rewrites the CURRENT assignments back into sized files per
    * cluster partition ([[graft.operators.Compaction.compactPartitioned]])
    * — content-identical for any layout (raw vectors or PQ codes ride
    * through untouched), value-idempotent, crash-safe via the
    * single-directory swap ([[graft.operators.PartitionSwap.prepare]]
    * heals a torn promote first, [[graft.operators.PartitionSwap.replace]]
    * promotes). Returns (assigned files before, after).
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20
  ): (Int, Int) = {
    import graft.operators.{Compaction, PartitionSwap}
    val assigned = s"$dir/assigned"
    val stage = PartitionSwap.prepare(spark, assigned)
    val counts = Compaction.compactPartitioned(
      spark, assigned, stage, targetBytes, Seq("centroid_id"))
    PartitionSwap.replace(spark, assigned, stage)
    counts
  }

  /** Right-to-rectification (GDPR Art. 16) through the stored ANN index:
    * REPLACE the corrected documents' vectors in `assigned/` and
    * re-assign them to their nearest stored centroid — one
    * [[graft.operators.Rectify.updateByKey]] pass (broadcast left join,
    * no shuffle; the `partitionBy` rewrite relocates a row whose nearest
    * centroid changed), whole-directory retire/promote swap, so search
    * over the rectified index with the same centroids is exactly what a
    * rebuild-with-these-centroids over the corrected vectors serves (the
    * [[appendIndex]] exactness argument). Replace-only: corrected ids
    * absent from the index update nothing. Centroids stay — they are
    * training-sample statistics ([[eraseFromIndex]] scaladoc), and
    * [[clusterDrift]] is the staleness audit when many rectified vectors
    * pile away from them. Refuses IVF-PQ layouts: stored PQ codes are
    * derived from the vector and would go stale — those rectify through
    * [[graft.similarity.Pq.rectifyIvfPqIndex]], which re-encodes under
    * the frozen codebook. Returns rows rectified.
    */
  def rectifyIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corrected: DataFrame,
      idCol: String,
      vecCol: String
  ): Long = {
    import graft.operators.{PartitionSwap, Rectify}
    PartitionSwap.recoverDir(spark, s"$dir/assigned")
    val stored = spark.read.parquet(s"$dir/assigned").columns.toSet
    val extra = stored -- Set(idCol, vecCol, "centroid_id")
    require(extra.isEmpty,
      s"ivf rectify: assigned/ carries derived column(s) ${extra.mkString(", ")} " +
        "(an IVF-PQ layout?) that a vector replacement would leave stale — " +
        "rectify through Pq.rectifyIvfPqIndex, which re-encodes under the " +
        "frozen codebook")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("centroid_id"), col("centroid"))
    val reassigned = assign(corrected, idCol, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("centroid_id"))
    Rectify.updateByKey(spark, s"$dir/assigned", reassigned, idCol,
      writeTo = (df, tmp) =>
        df.write.mode("overwrite").partitionBy("centroid_id").parquet(tmp))
  }

  /** Right-to-erasure through the stored ANN index: purge the erased
    * documents' rows from `assigned/` (which, in the IVF-PQ layout, also
    * carries their PQ codes — one purge covers both). Centroids stay:
    * they are aggregate statistics of the training sample, not
    * per-subject data, and [[search]]/[[searchAll]] over the retained
    * rows with the same centroids is exactly what a rebuild-with-these-
    * centroids serves (the [[appendIndex]] exactness argument in
    * reverse). Broadcast anti-join, centroid partitioning re-declared on
    * the rewrite so probe pruning keeps working. Returns rows removed.
    */
  def eraseFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      keys: DataFrame,
      idCol: String
  ): Long = {
    graft.operators.Erasure.eraseByKey(
      spark, s"$dir/assigned", keys, idCol, Seq("centroid_id"))
  }

  /** Cluster-distribution drift: PSI between the stored index's
    * assignment histogram and a NEW batch assigned with the same
    * centroids — the ANN-index staleness audit. A persisted index serves
    * well only while incoming data still looks like what k-means was
    * trained on; when fresh batches pile into few clusters, probe recall
    * degrades silently. This is the detector: assignment of the batch is
    * the same narrow broadcast-literal argmin as [[assign]], the
    * histogram compare is [[graft.validate.Drift.psiByBucket]]'s one-job
    * in-plan-totals variant over `centroid_id`, and the domain is the
    * surviving-centroid count — so the audit costs one narrow pass over
    * the batch plus a tiny per-cluster aggregation of each side.
    *
    * @return one row per observed cluster: `bucket` (centroid id),
    *         `cnt_a` (reference), `cnt_b` (batch), `psi` contribution;
    *         the index is their sum — alert when it crosses ~0.2
    */
  def clusterDrift(
      centroids: DataFrame,
      referenceAssigned: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val k = collectCentroids(centroids).length // bounded: k rows
    graft.validate.Drift.psiByBucket(
      referenceAssigned,
      assign(batch, idCol, vecCol, centroids),
      col("centroid_id"),
      domainSize = k)
  }

  /** Logical-erasure mask on the dense serve path
    * ([[graft.operators.DeletionVectors]] — the
    * [[graft.text.Bm25.retrieveTopKIndexed]] `maskIds` convention):
    * subtract the request-sized vector from the CANDIDATE set, after the
    * probe join and before the top-k, so masked ids are never returned
    * and k results still come back. The anti-join broadcasts the mask
    * while it is request-sized and degrades to a shuffle join under
    * unsettled-backlog bytes ([[graft.operators.DeletionVectors.hinted]])
    * and sits above the cluster-partition pruning, which it leaves
    * intact.
    */
  private def applyMask(
      df: DataFrame,
      idCol: String,
      maskIds: Option[DataFrame]
  ): DataFrame =
    maskIds match {
      case None => df
      case Some(m) =>
        val keys = m.select(col(m.columns.head).as(idCol)).distinct()
        df.join(graft.operators.DeletionVectors.hinted(keys),
          Seq(idCol), "left_anti")
    }

  /** ANN search: exact cosine within the `nprobe` clusters nearest to the
    * query vector.
    */
  def search(
      assigned: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nprobe: Int = 2,
      maskIds: Option[DataFrame] = None
  ): DataFrame = {
    val q = typedLit(query)
    val probes = centroids
      .withColumn("_dist", sqDist(col("centroid"), q))
      .orderBy(col("_dist"), col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))
    applyMask(assigned.join(broadcast(probes), "centroid_id"), idCol, maskIds)
      .select(
        col(idCol),
        Similarity.cosine(col(vecCol), q).as("cos_sim")
      )
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batched ANN search — a query DATAFRAME against the index in one job,
    * the [[graft.text.Bm25.retrieveTopK]] shape (eval-set retrieval,
    * dedup-against-index), replacing a driver loop of one Spark job per
    * query vector.
    *
    * Probe selection is a narrow map: the k x dim centroid matrix is
    * collected once (bounded) and EXPLODED as a literal against the query
    * frame — |Q| x k rows, no join — then a per-query window keeps the
    * `nprobe` nearest. The probe list (|Q| x nprobe rows, carrying the
    * query vector) broadcasts onto the cluster-partitioned corpus, so each
    * corpus row is compared only against the queries probing its cluster,
    * and the per-query top-k is the [[TopKByScore]] bounded-heap partial
    * aggregate — at most k rows per query survive each partition, never a
    * global sort.
    *
    * @param queries frame with `queryIdCol` and `queryVecCol` (numeric
    *                array); must be small enough to broadcast x nprobe
    * @return (query_id, rank, idCol, cos_sim) — rank 1..k per query by
    *         (cosine desc, id asc)
    */
  def searchAll(
      assigned: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int = 2,
      maskIds: Option[DataFrame] = None
  ): DataFrame = {
    require(k > 0, s"ivf: k must be positive, got $k")
    require(nprobe > 0, s"ivf: nprobe must be positive, got $nprobe")
    // the probe stage fabricates these on the queries frame; a collision
    // would mis-resolve silently instead of erroring usefully
    val reserved = Seq("_qv", "_c", "_d", "_rn", "centroid_id")
    require(!reserved.exists(queries.columns.contains),
      s"ivf: queries frame must not already have ${reserved.mkString("/")} columns")
    require(!reserved.contains(queryIdCol),
      s"ivf: queryIdCol $queryIdCol is a reserved name")
    require(queryIdCol != idCol,
      s"ivf: queryIdCol and idCol are both '$idCol' — the output needs distinct names")
    val mat = collectCentroids(centroids).toSeq
    val centLit = typedLit(mat)
    val perCentroid = queries
      .select(
        col(queryIdCol),
        transform(col(queryVecCol), x => x.cast("double")).as("_qv"))
      .select(col(queryIdCol), col("_qv"), explode(centLit).as("_c"))
      .select(
        col(queryIdCol), col("_qv"),
        col("_c._1").as("centroid_id"),
        sqDist(col("_c._2"), col("_qv")).as("_d"))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("_d"), col("centroid_id"))
    val probes = perCentroid
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nprobe)
      .select(col(queryIdCol), col("_qv"), col("centroid_id"))
    applyMask(assigned.join(broadcast(probes), "centroid_id"), idCol, maskIds)
      .select(
        col(queryIdCol),
        col(idCol),
        Similarity.cosine(col(vecCol), col("_qv")).as("cos_sim"))
      .groupBy(col(queryIdCol))
      .agg(TopKByScore.topK(col(idCol), col("cos_sim"), k).as("_top"))
      .select(col(queryIdCol), inline(col("_top")))
      .select(
        col(queryIdCol),
        col("rank"),
        col("dst").as(idCol),
        col("score").as("cos_sim"))
  }

  /** The SERVING entry point for a stored index: [[loadIndex]] +
    * [[search]] with the state directory's pending deletion vectors
    * subtracted BY DEFAULT ([[graft.operators.DeletionVectors]] — the
    * [[graft.text.Bm25.searchServing]] convention): a caller serving
    * through here cannot forget the mask and keep returning
    * logically-erased subjects. `purpose` scopes the mask (None
    * subtracts every vector); `unmasked = true` is the explicit
    * maintenance opt-out.
    */
  def searchServing(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      maskStateDir: String,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nprobe: Int = 2,
      purpose: Option[String] = None,
      unmasked: Boolean = false
  ): DataFrame = {
    val (centroids, assigned) = loadIndex(spark, indexDir)
    val mask =
      if (unmasked) None
      else graft.operators.DeletionVectors.load(spark, maskStateDir, idCol, purpose)
    search(assigned, centroids, idCol, vecCol, query, k, nprobe, mask)
  }

  /** [[searchAll]] over a stored index with the default mask — the
    * batched [[searchServing]].
    */
  def searchAllServing(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      maskStateDir: String,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int = 2,
      purpose: Option[String] = None,
      unmasked: Boolean = false
  ): DataFrame = {
    val (centroids, assigned) = loadIndex(spark, indexDir)
    val mask =
      if (unmasked) None
      else graft.operators.DeletionVectors.load(spark, maskStateDir, idCol, purpose)
    searchAll(assigned, centroids, idCol, vecCol, queries, queryIdCol,
      queryVecCol, k, nprobe, mask)
  }
}
