package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Erasure, PartitionSwap}

/** Store-level erasure mechanics: the broadcast anti-join purge, the
  * no-match no-op, the retire/promote crash protocol, and the BM25
  * stats decrement (the piece a plain row purge cannot get right).
  * End-to-end sweep coverage (every CurateCli leg forgetting together)
  * lives in CurationOpsSpec.
  */
class ErasureSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"erase_$tag").toString + "/store"

  test("eraseByKey purges matching rows, preserves partitioning, reports the count") {
    val dir = tmp("bykey")
    (1L to 100L).map(i => (i, i % 4, s"v$i")).toDF("id", "part", "v")
      .write.partitionBy("part").parquet(dir)
    val keys = Seq(3L, 7L, 999L).toDF("id") // 999 never existed
    val n = Erasure.eraseByKey(spark, dir, keys, "id", Seq("part"))
    assert(n == 2L)
    val back = spark.read.parquet(dir)
    assert(back.count() == 98L)
    assert(back.filter(col("id").isin(3L, 7L)).isEmpty)
    assert(back.columns.contains("part"), "hive partitioning must survive")
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("part=")))
    // no-match sweep: returns 0 and leaves the files untouched
    val before = new java.io.File(dir).lastModified()
    assert(Erasure.eraseByKey(spark, dir, Seq(999L).toDF("id"), "id", Seq("part")) == 0L)
    assert(new java.io.File(dir).lastModified() == before,
      "a sweep with no matches must not rewrite the store")
  }

  test("erasing EVERY row leaves an empty but READABLE store (schema survives)") {
    val dir = tmp("total")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    assert(Erasure.eraseByKey(spark, dir, Seq(1L, 2L).toDF("id"), "id") == 2L)
    val back = spark.read.parquet(dir)
    assert(back.count() == 0L)
    assert(back.columns.toSeq == Seq("id", "v"),
      "an emptied store must keep its schema — a schema-inference crash " +
        "on the next load would look like corruption")
  }

  test("erasing EVERY row of a hive-PARTITIONED leg completes and stays readable") {
    // a partitionBy write of zero rows emits no files, so the old guard
    // aborted the sweep forever — total erasure must instead degrade to
    // a flat schema-bearing empty store
    val dir = tmp("total_part")
    (1L to 20L).map(i => (i, i % 3, s"v$i")).toDF("id", "part", "v")
      .write.partitionBy("part").parquet(dir)
    val n = Erasure.eraseByKey(spark, dir, (1L to 20L).toDF("id"), "id", Seq("part"))
    assert(n == 20L)
    val back = spark.read.parquet(dir)
    assert(back.count() == 0L)
    assert(back.columns.toSet == Set("id", "part", "v"),
      "schema including the partition column must survive a total erasure")
    // the emptied store keeps sweeping as a no-op
    assert(Erasure.eraseByKey(spark, dir, Seq(1L).toDF("id"), "id", Seq("part")) == 0L)
  }

  test("property: erasure is batch-insensitive — one sweep equals sequential sweeps") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map(i => (i, i % 5, s"v$i"))
    val all = rnd.shuffle((1L to 200L).filter(_ => rnd.nextBoolean()).toList).take(30)
    val (ka, kb) = all.splitAt(all.length / 2)

    def build(tag: String): String = {
      val dir = tmp(tag)
      rows.toDF("id", "part", "v").write.partitionBy("part").parquet(dir)
      dir
    }
    def content(dir: String) =
      spark.read.parquet(dir).collect().map(_.toSeq).sortBy(_.toString).toSeq

    val once = build("once")
    Erasure.eraseByKey(spark, once, all.toDF("id"), "id", Seq("part"))
    val seq = build("seq")
    Erasure.eraseByKey(spark, seq, ka.toDF("id"), "id", Seq("part"))
    Erasure.eraseByKey(spark, seq, kb.toDF("id"), "id", Seq("part"))
    assert(content(once) == content(seq),
      "erase(A ∪ B) must equal erase(A) then erase(B)")
  }

  test("recoverDir restores a store whose promote never landed") {
    val dir = tmp("recover")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    // simulate a crash after retire, before promote
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"${dir}__retired"))
    PartitionSwap.recoverDir(spark, dir)
    assert(spark.read.parquet(dir).count() == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__retired")))
  }

  test("a direct erase or rectify over a TORN store heals it first, never deletes its only copy") {
    // torn swap: live retired, promote never landed — the retired copy is
    // the store's only data, so the verb must restore it before clearing
    // stale siblings and then run over the restored rows
    val verbs = Seq[(String, String => Long)](
      "eraseByKey" -> (dir => Erasure.eraseByKey(spark, dir, Seq(3L, 7L).toDF("id"), "id")),
      "updateByKey" -> (dir => graft.operators.Rectify.updateByKey(
        spark, dir, Seq((3L, "X"), (7L, "Y")).toDF("id", "v"), "id")))
    verbs.foreach { case (name, verb) =>
      val dir = tmp(s"torn_$name")
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(s"${dir}__retired"))
      assert(verb(dir) == 2L, s"$name must run over the restored rows")
      val back = spark.read.parquet(dir)
      if (name == "eraseByKey") {
        assert(back.count() == 8L)
        assert(back.filter(col("id").isin(3L, 7L)).isEmpty)
      } else {
        assert(back.count() == 10L)
        assert(back.filter(col("id") === 7L).head().getAs[String]("v") == "Y")
      }
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__retired")))
    }
  }

  test("bm25 erase: stats decrement exactly matches a rebuild from the retained corpus") {
    import graft.text.Bm25
    val docs = Seq(
      (1L, "spark streams data"), (2L, "spark spark window"),
      (3L, "hash join plan"), (4L, ""), // zero-token doc: no postings
      (5L, "window stream stream spark")
    ).toDF("doc_id", "text")
    val dir = tmp("bm25")
    Bm25.writeSearchIndex(docs, "doc_id", col("text"), dir)
    // erase docs 2 (3 tokens) and 4 (ZERO tokens — no posting rows: only
    // the docs leg can decrement _n_docs for it)
    val removed = Bm25.eraseFromSearchIndex(
      spark, dir, Seq(2L, 4L).toDF("doc_id"), "doc_id")
    assert(removed > 0L)
    val retained = docs.filter(!col("doc_id").isin(2L, 4L))
    val rebuildDir = tmp("bm25_rebuild")
    Bm25.writeSearchIndex(retained, "doc_id", col("text"), rebuildDir)
    val erasedStats = spark.read.parquet(s"$dir/stats").head()
    val rebuiltStats = spark.read.parquet(s"$rebuildDir/stats").head()
    assert(erasedStats == rebuiltStats,
      s"stats must be bit-identical to a rebuild: $erasedStats vs $rebuiltStats")
    // and retrieval over the erased index equals retrieval over the rebuild
    val q = Seq((1, "spark"), (2, "stream")).toDF("query_id", "term")
    def rows(d: String) = {
      val (p, st) = Bm25.loadSearchIndex(spark, d)
      Bm25.retrieveTopKIndexed(p, st, "doc_id", q, topK = 5)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    assert(rows(dir) == rows(rebuildDir))
  }

  test("total erasure through a SHUFFLING shape keeps its audit count (AQE metrics wipe)") {
    // round-10 regression: a TOTAL erasure whose store shape shuffles
    // (the Shards position re-close: window + repartition) produces an
    // empty downstream stage, and AQE's empty-relation propagation
    // replaces the subtree INCLUDING the observe nodes — the sweep then
    // crashed on the missing metric instead of reporting the count. The
    // flat eraseByKey cases above never see it (no exchange, no query
    // stages); the observedOr fallback covers the shaped path.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") % 5 === 0)
    val dir = tmp("total_shuffle")
    graft.operators.Shards.write(
      docs, "doc_id", dir, 2, orderCols = Seq("source"))
    val n = graft.operators.Shards.eraseByKey(
      spark, dir, docs.select(col("doc_id")), "doc_id",
      orderCols = Seq("source"))
    assert(n == docs.count(), s"audit count must survive the wiped metrics: $n")
    assert(spark.read.parquet(dir).isEmpty,
      "the fully-erased store must stay readable and empty")
  }

  test("ivf erase keeps centroid partition pruning and serves like the filtered index") {
    import graft.similarity.Ivf
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(4)(d => ((i % 5) * 10 + d).toFloat))
    }.toDF("id", "v")
    val (centroids, assigned) = Ivf.buildOnSample(vecs, "id", "v", k = 5, iters = 2, frac = 1.0)
    val dir = tmp("ivf")
    Ivf.writeIndex(centroids, assigned, "id", "v", dir)
    val n = Ivf.eraseFromIndex(spark, dir, Seq(0L, 5L, 10L).toDF("id"), "id")
    assert(n == 3L)
    val (_, back) = Ivf.loadIndex(spark, dir)
    assert(back.count() == 37L)
    assert(back.filter(col("id").isin(0L, 5L, 10L)).isEmpty)
    assert(new java.io.File(s"$dir/assigned").listFiles()
      .exists(_.getName.startsWith("centroid_id=")),
      "cluster partitioning must survive erasure")
  }
}
