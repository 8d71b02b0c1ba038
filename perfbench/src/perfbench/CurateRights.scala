package perfbench

import org.apache.spark.sql.functions._

import graft.cli.CurateCli.IncrementalSummary
import graft.operators.Fsck
import graft.policy.Consent

/** `curate_rights`: the store's life cycle. Each cycle starts from an
  * empty store, curates the daily batches into it ([[Curate]]), bootstraps
  * the consent registry with every subject granting the purpose, and
  * serves one round of data-subject requests ([[Rights]]). The run ends
  * with `Fsck.state` over the last cycle's store.
  */
object CurateRights {

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer => t}
    import spark.implicits._
    val inputs = ctx.dir("curate_rights/inputs")
    val live = ctx.dir("curate_rights/live")
    val setups = (0 until 3).map { i =>
      ctx.setup(Curate.generate(spark, ctx.args.seed, s"$inputs.$i", Curate.perBatch(ctx.args.tiny)))
    }
    ctx.op("generator determinism")(setups.map(_.map(_.sha256)))(hs => Seq(
      (hs.distinct.size == 1, s"one seed gave ${hs.distinct.size} different inputs")))
    (0 until 2).foreach(i => Files2.delete(s"$inputs.$i"))
    val batches = setups.last
    batches.zipWithIndex.foreach { case (b, d) =>
      ctx.say(s"input curate.day$d docs=${b.mix.total} sha256=${b.sha256}")
    }
    val st = Rights.Store(s"$live/state", s"$live/consent", s"$live/ledger",
      s"$inputs.2/mapping", s"$live/requests")

    val sums = scala.collection.mutable.ArrayBuffer.empty[IncrementalSummary]
    val batchMax, docsPerS, storeMb, requestS, perMin, liveMb =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val dayS = batches.indices.map(_ => scala.collection.mutable.ArrayBuffer.empty[Double])
    val stepS = Rights.Steps.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap

    def cycle(c: Int): Double = {
      Files2.delete(live)
      val days = Curate.days(ctx, batches, st.state, c)
      val curateS = days.map(_._2).sum
      val landed = days.flatMap(_._1).map(_.nFresh).sum
      val stateMb = Files2.sizeBytes(st.state) / 1e6
      val ids = spark.read.parquet(s"${st.state}/corpus").select("doc_id").as[Long].collect()
      ctx.op(s"curate corpus rows cycle $c")(ids.length.toLong)(n =>
        Seq((n == landed, s"the corpus holds $n rows, the batches landed $landed")))
      val owner = ids.toSeq.groupBy(_ / Rights.DocsPerSubject)
      // subjects whose every document was admitted, so each round's
      // requests touch the same number of documents
      val whole = owner.collect { case (s, d) if d.size == Rights.DocsPerSubject => s }
      val subjects = Rights.pick(ctx.args.seed, c, whole.toSeq.sorted)

      val t0 = System.nanoTime()
      ctx.op(s"consent registry cycle $c")(t.span("policy.consent_init") {
        Consent.init(spark, st.consent, spark.read.parquet(st.mapping)
          .select(col("subject_id")).distinct()
          .withColumn("purpose", lit(Rights.Purpose)).withColumn("granted", lit(true))
          .withColumn("updated_at", lit(1L)))
      })(_ => Nil)
      val initS = ctx.secs(t0)
      val req = Rights.round(ctx, st, owner, subjects, c)
      if (t.active) {
        Curate.textPrepare(ctx, batches)
        Curate.dedupProbe(ctx, batches, st.state)
      }
      if (c >= 0) {
        days.flatMap(_._1).foreach(sums += _)
        batchMax += days.map(_._2).max
        days.zipWithIndex.foreach { case ((_, s), d) => dayS(d) += s }
        docsPerS += batches.map(_.mix.total).sum / curateS
        storeMb += stateMb
        Rights.Steps.zip(req).foreach { case (s, v) => stepS(s) += v }
        requestS += req.sum / req.size
        perMin += 60.0 * req.size / req.sum
        liveMb += Files2.sizeBytes(live) / 1e6
      }
      curateS + initS + req.sum
    }

    ctx.measure(cycle)
    t.active = ctx.args.trace
    ctx.op("fsck") {
      t.span("operators.fsck", outsideCycle = true)(Fsck.state(spark, st.state))
    } { checks => checks.filterNot(_.ok).map(c => (false, s"fsck: $c")) }
    t.active = false
    t.drain()
    Curate.properties(ctx, sums.toSeq, batches, docsPerS.size)

    def med(xs: scala.collection.Seq[Double]) = Stats.median(xs.toSeq)
    Outcome(
      latencyS = med(requestS),
      latencyMaxS = med(batchMax),
      itemsPerS = med(docsPerS),
      storeMb = med(liveMb),
      named = Seq(
        Metric("curate.docs_per_s", med(docsPerS), "1/s", docsPerS.size),
        Metric("curate.batch_max_s", med(batchMax), "s", batchMax.size),
        Metric("curate.store_mb", med(storeMb), "MB", storeMb.size)) ++
        batches.indices.map(d => Metric(s"curate.day${d}_s", med(dayS(d)), "s", dayS(d).size)) ++
        Rights.Steps.map(s => Metric(s"rights.${s}_s", med(stepS(s)), "s", stepS(s).size)) :+
        Metric("rights.requests_per_min", med(perMin), "1/min", perMin.size))
  }
}
