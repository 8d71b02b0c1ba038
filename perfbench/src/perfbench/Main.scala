package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (launched by `perfbench/run.py`).
  *
  *   perfbench.Main --workload <anonymize_batch|curate_rights|all>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> [--tiny]
  *
  * Prints the generated inputs' hashes, the input properties, every
  * metric by name with its unit, the layer spans when traced, and last a
  * `RESULT {...}` line that run.py turns into the result object.
  */
object Main {
  val Workloads: Seq[(String, Ctx => Outcome)] = Seq(
    "anonymize_batch" -> Anonymize.run,
    "curate_rights" -> CurateRights.run)

  /** Layers (repo modules) whose spans the benchmark opens. */
  val Layers = Seq("pipeline", "validate", "text", "dedup", "cli", "policy", "operators")

  def session(work: String): SparkSession = {
    // configured like graft.Bench: no tuning beyond core count, plus
    // scratch and warehouse locations inside the run's own directory
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val chosen =
      if (args.workload == "all") Workloads
      else Workloads.filter(_._1 == args.workload)
    require(chosen.nonEmpty, s"unknown workload '${args.workload}'; one of " +
      (Workloads.map(_._1) :+ "all").mkString(", "))
    val t0 = System.nanoTime()
    val spark = session(args.work)
    println(s"info session_start_s ${Fmt.num((System.nanoTime() - t0) / 1e9)}")
    try {
      val results = chosen.map { case (name, run) =>
        val ctx = new Ctx(spark, args.copy(workload = name), new Tracer(spark, args.trace))
        val o = run(ctx)
        (name, ctx, o)
      }
      report(spark, args, results)
    } finally spark.stop()
  }

  private def report(spark: SparkSession, args: Args,
      results: Seq[(String, Ctx, Outcome)]): Unit = {
    val attempted = results.map(_._2.attempted).sum
    val failed = results.map(_._2.failed).sum
    results.foreach { case (name, ctx, o) =>
      ctx.properties.foreach(p => println(s"property ${p.name} ${Fmt.num(p.value)} ${p.unit}"))
      o.named.foreach(m => println(s"metric ${m.name} ${Fmt.num(m.value)} ${m.unit} n=${m.n}"))
      println(s"metric ${name}.setup_s ${Fmt.num(Stats.median(ctx.setupS.toSeq))} s " +
        s"n=${ctx.setupS.size}")
      println(s"metric ${name}.cycle_s ${Fmt.num(Stats.median(ctx.cycleS.toSeq))} s " +
        s"n=${ctx.cycleS.size}")
      if (args.trace) traced(name, ctx)
    }
    val metrics: Seq[Metric] =
      if (args.workload == "all")
        results.flatMap(_._3.named) :+
          Metric("failed_frac", failed.toDouble / math.max(attempted, 1L), "share", 1)
      else {
        val (_, ctx, o) = results.head
        if (args.trace) layerMetrics(ctx)
        else Seq(
          Metric("setup_s", Stats.median(ctx.setupS.toSeq), "s", ctx.setupS.size),
          Metric("latency_s", o.latencyS, "s", 0),
          Metric("latency_max_s", o.latencyMaxS, "s", 0),
          Metric("items_per_s", o.itemsPerS, "1/s", 0),
          Metric("store_mb", o.storeMb, "MB", 0))
      }
    val body = metrics.map(m =>
      s""""${m.name}":{"value":${Fmt.num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
  }

  /** Prints every span, averaged per traced cycle, and writes the raw spans. */
  private def traced(name: String, ctx: Ctx): Unit = {
    val t = ctx.tracer
    val n = ctx.cycleS.size.toDouble
    t.spans.map(_.name).distinct.filterNot(_.startsWith("probe.")).foreach { s =>
      val ss = t.spans.filter(_.name == s)
      val c = new Counters
      ss.foreach(x => c += t.total(x))
      val wall = ss.map(_.wallS).sum / n
      def line(k: String, v: Double, unit: String) =
        println(s"layer $name.$s.$k ${Fmt.num(v)} $unit")
      line("wall_s", wall, "s")
      line("self_s", ss.map(t.selfS).sum / n, "s")
      line("jobs", c.jobs / n, "count")
      line("tasks", c.tasks / n, "count")
      line("task_s", c.taskMs / 1e3 / n, "s")
      line("shuffle_write_mb", c.shuffleWriteBytes / 1e6 / n, "MB")
      if (c.outputBytes > 0) line("output_mb", c.outputBytes / 1e6 / n, "MB")
      if (c.jobs > 0 && Seq("cli.", "policy.", "operators.").exists(s.startsWith))
        line("s_per_job", wall * n / c.jobs, "s")
    }
    println(s"layer $name.trace.overhead_s ${Fmt.num(t.overheadS / n)} s")
    val dir = Paths.get(ctx.args.work).getParent.resolve("traces")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"$name-seed${ctx.args.seed}.json"), t.json(name))
  }

  /** The per-layer metrics of BENCHMARK.json, per traced cycle: each
    * layer's Spark work, then all the work of the timed cycle.
    */
  private def layerMetrics(ctx: Ctx): Seq[Metric] = {
    val t = ctx.tracer
    val n = ctx.cycleS.size.toDouble
    def sum(ss: Iterable[Span]) = { val c = new Counters; ss.foreach(s => c += t.own(s)); c }
    val perLayer = Layers.flatMap { l =>
      val c = sum(t.spans.filter(s => s.derived.isEmpty && s.layer == l))
      Seq(
        Metric(s"$l.jobs", c.jobs / n, "count", 0),
        Metric(s"$l.tasks", c.tasks / n, "count", 0),
        Metric(s"$l.shuffle_write_mb", c.shuffleWriteBytes / 1e6 / n, "MB", 0),
        Metric(s"$l.output_mb", c.outputBytes / 1e6 / n, "MB", 0))
    }
    val e = sum(t.spans.filter(!_.outsideCycle))
    val wall = Stats.median(ctx.cycleS.toSeq)
    // the masking layer (`pipeline.anonymize`) as a share of the four
    // pipeline layers' probe time; 0 where no pipeline layer runs
    val pipe = t.spans.filter(s => s.derived.nonEmpty && s.layer == "pipeline")
    def maskingFrac(v: Span => Double): Double = {
      val all = pipe.map(v).sum
      if (all <= 0) 0.0 else pipe.filter(_.name == "pipeline.anonymize").map(v).sum / all
    }
    perLayer ++ Seq(
      Metric("masking.task_frac", maskingFrac(s => t.own(s).taskMs.toDouble), "share", 0),
      Metric("masking.wall_frac", maskingFrac(t.selfS), "share", 0),
      Metric("spark.jobs", e.jobs / n, "count", 0),
      Metric("spark.tasks", e.tasks / n, "count", 0),
      Metric("spark.task_s", e.taskMs / 1e3 / n, "s", 0),
      Metric("spark.s_per_job", wall * n / math.max(e.jobs, 1L), "s", 0),
      Metric("spark.shuffle_write_mb", e.shuffleWriteBytes / 1e6 / n, "MB", 0),
      Metric("spark.output_mb", e.outputBytes / 1e6 / n, "MB", 0),
      Metric("operators.compactions", ctx.compactions.toDouble, "count", 0),
      Metric("trace.cycle_s", wall, "s", 0),
      Metric("trace.overhead_s", t.overheadS / n, "s", 0))
  }
}
