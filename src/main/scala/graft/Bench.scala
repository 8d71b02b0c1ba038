package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  *   Bench                 every registry query; writes the artifact to
  *                         bench_results.json (or SPARK_GRAFT_BENCH_OUT)
  *   Bench <query> ...     only the named queries, measured the same way
  *                         and printed the same way; writes no file
  *
  * Each query is fully materialized through the `noop` sink — a bare
  * `count()` would let Catalyst prune the computed columns and time only the
  * scan. First a warmup pass over the measured queries amortizes
  * JVM/codegen startup out of the numbers.
  *
  * A passive listener counts what each query costs the scheduler: every
  * query line, and the query's entry in the artifact's `counters` map,
  * carry `jobs`, `stages`, `tasks` and `task_s` (summed task wall
  * seconds) per measured pass.
  */
object Bench {

  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long) {
    def -(o: Counts): Counts =
      Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs)
  }

  /** Job, stage and task counters over the whole application. */
  final class Counters(sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks, taskMs = new AtomicLong
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
    }

    /** The counts once every event posted so far is delivered: the bus is
      * asynchronous, and a finished query's trailing task and job events
      * would otherwise land in the next query's window.
      */
    def snapshot(): Counts = {
      GraftListenerBus.waitUntilEmpty(sc)
      Counts(jobs.get, stages.get, tasks.get, taskMs.get)
    }
  }

  /** A query's measured passes: wall seconds each (-1 = the pass failed),
    * and the counts summed over them.
    */
  final case class Measured(samples: Seq[Double], counts: Counts) {
    /** A single failed pass surfaces as a failure (-1, -1), not papered
      * over by the other passes' timings. For even counts the median
      * averages the two middle samples: the lower-middle alone is a
      * systematically optimistic bias on the doubled 6-sample runs.
      */
    def medianMin: (Double, Double) =
      if (samples.exists(_ < 0)) (-1.0, -1.0)
      else {
        val sorted = samples.sorted
        val n = sorted.length
        val med =
          if (n % 2 == 1) sorted(n / 2)
          else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
        (med, sorted.head)
      }

    /** The counters per measured pass, as JSON object fields. */
    def counterFields: String = {
      val n = samples.length
      def perPass(total: Long) =
        if (total % n == 0) (total / n).toString
        else String.format(Locale.ROOT, "%.2f", Double.box(total.toDouble / n))
      s""""jobs":${perPass(counts.jobs)},"stages":${perPass(counts.stages)},""" +
        s""""tasks":${perPass(counts.tasks)},"task_s":""" +
        String.format(Locale.ROOT, "%.3f", Double.box(counts.taskMs / 1e3 / n))
    }
  }

  /** One pass of `name` into the noop sink: wall seconds, or -1 on failure. */
  def runOnce(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Three measured passes, then three MORE for sub-second queries: two
    * consecutive rounds adjudicated a sub-second cross-round breach as
    * "box noise" from plan identity alone (r8 q_*, r9 q_bm25 1.54x) — the
    * artifact carries every sample so the next adjudication can cite
    * variance DATA, and short queries (where scheduler jitter is a whole
    * multiple of the runtime) get doubled sample counts instead of
    * argument.
    */
  def measure(spark: SparkSession, sfDir: String, counters: Counters,
      name: String): Measured = {
    val before = counters.snapshot()
    val base = Seq.fill(3)(runOnce(spark, sfDir, name))
    val samples =
      if (base.exists(_ < 0) || base.min >= 1.5) base
      else base ++ Seq.fill(3)(runOnce(spark, sfDir, name))
    Measured(samples, counters.snapshot() - before)
  }

  /** The full artifact line: medians, minima, samples and counters per
    * query, the warmup time and the scale-factor directory.
    */
  def artifact(results: Seq[(String, Measured)], warmupSec: Double,
      sfDir: String): String = {
    def perQuery(f: Measured => String) =
      results.map { case (k, m) => "\"" + k + "\":" + f(m) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${total(results)},"unit":"sec",""" +
      s""""queries":${perQuery(_.medianMin._1.toString)},""" +
      s""""queries_min":${perQuery(_.medianMin._2.toString)},""" +
      // Locale.ROOT: a comma-decimal default locale would render the
      // samples array as invalid JSON while the toString numbers stay valid
      s""""samples":${perQuery(_.samples.map(s =>
        String.format(Locale.ROOT, "%.4f", Double.box(s))).mkString("[", ",", "]"))},""" +
      String.format(Locale.ROOT, """"warmup_sec":%.1f,""", Double.box(warmupSec)) +
      s""""samples_per_query":"3, 6 when min < 1.5s","sf":${Json.str(sfDir)},""" +
      s""""counters":${perQuery("{" + _.counterFields + "}")}}"""
  }

  private def total(results: Seq[(String, Measured)]): Double =
    results.map(_._2.medianMin._1).filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registry queries: ${unknown.mkString(", ")}")
    // r14: no session-level tuning here (Session's scaladoc): the r13
    // minPartitionSize=64k floor regressed 9 queries 2-10x at local[32]
    // (q_substring_dedup 1.1->11.5s, q_ssjoin 4->13s, q_topk_revenue
    // 0.8->3.7s). Parallelism-sensitive operators tune partitioning
    // internally where plans can prove it.
    val spark = Session("graft-bench")
    val counters = new Counters(spark.sparkContext)

    // Full warmup pass: whole-stage-codegen compilation (Janino) costs
    // seconds per distinct plan and is one-time per executor lifetime —
    // at the 100 TB design point it amortizes to nothing, so the measured
    // passes report steady-state throughput. The median is the
    // steady-state estimator on this shared/noisy box (±30-40% swings
    // swamped round-to-round history at min-of-2); the min is kept
    // alongside as the best-case floor.
    // The warmup pass doubles as a load canary: its wall time is pure
    // repeated work (same queries, same data), so across captures of the
    // same build it varies only with BOX LOAD — the artifact carries it
    // (`warmup_sec`) and tools/bench_adjudicate.py flags a capture whose
    // warmup deviates >1.5x from the best capture as contaminated,
    // mechanically, instead of arguing from per-sample spread (the r12
    // driver capture cost a false 1.45x headline that three clean runs
    // then had to talk down)
    val warm0 = System.nanoTime()
    names.foreach(runOnce(spark, sfDir, _))
    val warmupSec = (System.nanoTime() - warm0) / 1e9

    val results = names.map { name =>
      val m = measure(spark, sfDir, counters, name)
      if (m.samples.exists(_ < 0))
        System.err.println(
          s"[bench] WARN: $name failed in a measured pass (${m.samples.mkString(", ")})")
      name -> m
    }
    // ONE SHORT LINE PER QUERY first: the driver keeps a bounded tail of
    // stdout, and round 3 showed a truncation eating the front of the big
    // combined line (per-query history for the a-e queries was lost).
    // Short lines degrade gracefully — a tail cut loses only the earliest
    // queries, never the middle of a JSON object. `value` stays the
    // headline number (now the median); `min` rides along.
    results.foreach { case (k, m) =>
      val (med, mn) = m.medianMin
      println(s"""{"metric":"query","name":"$k","value":$med,"min":$mn,"unit":"sec",""" +
        m.counterFields + "}")
    }
    val art = artifact(results, warmupSec, sfDir)
    // the full artifact on disk, readable whole regardless of capture —
    // only for the full registry: a subset would overwrite it
    if (args.isEmpty) {
      val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), art + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] WARN: could not write $outFile: ${e.getMessage}")
      }
    }
    // Full contract line, then the SHORT headline line LAST so the total
    // survives any tail capture (headline format unchanged from round 4).
    println(art)
    val failed = results.count(_._2.medianMin._1 < 0)
    println(s"""{"metric":"total","value":${total(results)},"unit":"sec",""" +
      s""""n_queries":${results.size},"failed":$failed,"sf":${Json.str(sfDir)}}""")
    spark.stop()
  }
}
