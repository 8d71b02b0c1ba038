package perfbench

import org.apache.spark.sql.functions._

import graft.cli.CurateCli
import graft.policy.{Consent, PrivacyLedger}
import graft.validate.DpRelease

/** The request side of `curate_rights`: one round of a seeded script of
  * data-subject requests against the curated store, sent by one client
  * that waits for each reply (a closed loop; verbs on one store are
  * serialized by its lease anyway). The six requests are access, consent
  * withdrawal, rectification, logical erasure, the erasure settle, and a
  * consent-gated DP release with one replayed ledger charge. Requests are
  * tiny next to the store, so their cost is Spark jobs and commits.
  */
object Rights {
  val Purpose = "stats"
  val Eps = 0.5
  /** Documents per data subject in the owner mapping. */
  val DocsPerSubject = 3L
  val Steps = Seq("access", "consent", "rectify", "erase_logical", "erase_settle", "release")

  final case class Store(state: String, consent: String, ledger: String, mapping: String,
      requests: String)

  /** One round's subjects, distinct: access, withdraw, rectify, erase. */
  def pick(seed: Long, round: Int, subjects: Seq[Long]): Seq[Long] = {
    val r = Gen.rng(seed, 500L + round)
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (chosen.size < 4) chosen += subjects(r.nextInt(subjects.size))
    chosen.toSeq
  }

  /** Runs the round and returns each request's latency, in script order.
    * `owner` maps each subject to its documents in the corpus. The output
    * checks run after the last request, outside the timings.
    */
  def round(ctx: Ctx, st: Store, owner: Map[Long, Seq[Long]], subjects: Seq[Long],
      r: Int): Seq[Double] = {
    import ctx.{spark, tracer => t}
    import spark.implicits._
    val Seq(a, w, rect, e) = subjects
    // the client's request files, written before the first request
    def subjectFile(name: String, s: Long) = {
      val p = s"${st.requests}/$name"
      Seq(s).toDF("subject_id").write.mode("overwrite").parquet(p)
      p
    }
    val aKeys = subjectFile("access", a)
    val eKeys = subjectFile("erase", e)
    val rng = Gen.rng(ctx.args.seed, 1000L + r)
    val corrected = owner(rect).map(d => (d, Gen.prose(rng, pii = false)))
    corrected.toDF("doc_id", "text").write.mode("overwrite").parquet(s"${st.requests}/rectify")
    if (r == 0) ctx.say(s"input rights.round0 subjects=${subjects.mkString(",")} sha256=" +
      Gen.sha256((subjects.map(_.toString) ++ corrected.map(_._2)).iterator.map(_.getBytes("UTF-8"))))
    val mapping = spark.read.parquet(st.mapping)

    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    def step[T](name: String, span: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val v = ctx.op(s"rights $name round $r")(t.span(span)(body))(_ => Nil)
      times += ctx.secs(t0)
      v
    }
    val access = step("access", "cli.access_by_subject") {
      CurateCli.runAccessBySubject(spark, aKeys, st.mapping, st.state,
        s"${st.requests}/access_report", Some(st.consent))
    }
    val withdrawn = step("consent", "policy.consent_withdraw") {
      Consent.withdraw(spark, st.consent, Seq(w).toDF("subject_id"), Purpose,
        updatedAt = 2L, stateDir = Some(st.state), mapping = Some(mapping))
    }
    val rectified = step("rectify", "cli.rectify") {
      CurateCli.runRectify(spark, s"${st.requests}/rectify", st.state)
    }
    val masked = step("erase_logical", "cli.erase_logical_by_subject") {
      CurateCli.runEraseLogicalBySubject(spark, eKeys, st.mapping, st.state)
    }
    val settled = step("erase_settle", "cli.erase_settle") {
      CurateCli.runEraseSettle(spark, st.state)
    }
    val released = step("release", "policy.release") {
      val gated = Consent.gate(spark, st.consent,
        spark.read.parquet(s"${st.state}/corpus").join(mapping, "doc_id"),
        Purpose, subjectCol = "subject_id")
      val counts = DpRelease.noisyCounts(gated, col("source"), "source", Eps, s"round$r")
      val id = s"release-round$r"
      // the second call replays the charge, as a retried release does
      PrivacyLedger.authorizeAndCharge(spark, st.ledger, "corpus", id, Eps, budgetEps = 10.0)
      PrivacyLedger.authorizeAndCharge(spark, st.ledger, "corpus", id, Eps, budgetEps = 10.0)
      counts.agg(sum(col("exact_n"))).head().getLong(0)
    }

    val corpus = spark.read.parquet(s"${st.state}/corpus")
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    val stale = corpus.join(corrected.toDF("doc_id", "expected"), "doc_id")
      .filter(col("text") =!= col("expected")).count()
    val afterErase = CurateCli.runAccessBySubject(spark, eKeys, st.mapping, st.state,
      s"${st.requests}/erased_report", Some(st.consent))
    val (nCharges, spent, _) = PrivacyLedger.spent(spark, st.ledger, "corpus")
    val granted = ids.count(_ / DocsPerSubject != w)
    val eDocs = mapping.filter(col("subject_id") === e).count()
    val checks = Seq(
      (access.forall(_.nCorpus == owner(a).size),
        s"access reported ${access.map(_.nCorpus)} rows for ${owner(a).size} documents"),
      (withdrawn.forall(_ == 1L), s"withdrawal touched $withdrawn subjects, expected 1"),
      (rectified.forall(_.nMatched == corrected.size),
        s"rectify matched ${rectified.map(_.nMatched)} of ${corrected.size}"),
      (stale == 0, s"$stale rectified documents serve their old text"),
      (masked.forall(_._1 == eDocs),
        s"erasure masked ${masked.map(_._1)} of the subject's $eDocs documents"),
      (settled.forall(_.nonEmpty), "the settle found no pending erasure"),
      (ids.intersect(owner(e).toSet).isEmpty, "erased documents are still in the corpus"),
      (afterErase.nCorpus == 0, s"access after erasure reports ${afterErase.nCorpus} rows"),
      (nCharges == 1L && math.abs(spent - Eps) < 1e-9,
        s"the ledger holds $nCharges charges for eps $spent after one release and its replay"),
      (released.forall(_ == granted), s"released $released rows, $granted are granted"))
    ctx.op(s"rights checks round $r")(checks)(identity)
    times.toSeq
  }
}
