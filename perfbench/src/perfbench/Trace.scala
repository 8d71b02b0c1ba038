package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work counted for one job group. Written only by the listener
  * thread; read after [[Tracer.drain]].
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L

  def +=(o: Counters): Unit = synchronized {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
  }
  def -(o: Counters): Counters = {
    val c = new Counters
    c.jobs = jobs - o.jobs; c.tasks = tasks - o.tasks; c.taskMs = taskMs - o.taskMs
    c.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    c.outputBytes = outputBytes - o.outputBytes
    c
  }
}

/** One timed call into a layer. `group` is the Spark job group the
  * benchmark set for the call, so jobs the call ran are attributed to it.
  * A `derived` span carries a value computed from other spans (the
  * difference of two pipeline prefixes) and is left out of layer totals.
  * An `outsideCycle` span measures a layer on its own, after the timed
  * cycle, and is left out of the cycle's engine totals.
  */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    iteration: Int,
    var startNs: Long,
    var endNs: Long = 0L,
    derived: Option[(Double, Counters)] = None,
    outsideCycle: Boolean = false) {
  def layer: String = name.takeWhile(_ != '.')
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. The listener
  * is registered only when `listen` is set; while `active` is off,
  * [[span]] only runs its body and sets no job group.
  */
final class Tracer(spark: SparkSession, listen: Boolean) {
  private val sc = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, Counters]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var iteration = 0
  var active = false
  /** Time the tracing itself took inside traced cycles: span bookkeeping
    * on the calling thread plus the listener's event handling, which runs
    * beside the tasks on the listener thread.
    */
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong
  def overheadS: Double = overheadNs.get / 1e9

  private def counters(g: String): Counters =
    groups.computeIfAbsent(g, _ => new Counters)

  private def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  if (listen) sc.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = charged {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        val c = counters(g)
        c.synchronized(c.jobs += 1)
        j.stageIds.foreach(s => stageGroup.put(s, g))
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = charged {
      val g = stageGroup.get(t.stageId)
      if (g != null) {
        val one = new Counters
        one.tasks = 1
        if (t.taskInfo != null) one.taskMs = t.taskInfo.duration
        if (t.taskMetrics != null) {
          one.shuffleWriteBytes = t.taskMetrics.shuffleWriteMetrics.bytesWritten
          one.outputBytes = t.taskMetrics.outputMetrics.bytesWritten
        }
        counters(g) += one
      }
    }
  })

  private def group(s: Span) = s"perfbench-${s.id}"

  def span[T](name: String, outsideCycle: Boolean = false)(body: => T): T =
    if (!active) body
    else {
      val s = charged {
        val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
          iteration, 0L, outsideCycle = outsideCycle)
        spans += s
        stack = s :: stack
        sc.setJobGroup(group(s), name)
        s
      }
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        charged {
          stack = stack.tail
          stack.headOption match {
            case Some(p) => sc.setJobGroup(group(p), p.name)
            case None    => sc.clearJobGroup()
          }
        }
      }
    }

  /** A span whose value is given, not timed (see [[Span.derived]]). */
  def derivedSpan(name: String, wallS: Double, c: Counters): Unit =
    if (active) spans += Span(spans.size, name, -1, iteration, 0L,
      (wallS * 1e9).toLong, Some((wallS, c)), outsideCycle = true)

  def drain(): Unit = if (listen) org.apache.spark.PerfbenchBus.drain(sc)

  /** Jobs run directly under the span, not under a child span. */
  def own(s: Span): Counters =
    s.derived.map(_._2).getOrElse(Option(groups.get(group(s))).getOrElse(new Counters))

  /** Own counters plus every descendant's. */
  def total(s: Span): Counters = {
    val c = new Counters
    c += own(s)
    spans.filter(_.parent == s.id).foreach(ch => c += total(ch))
    c
  }

  def selfS(s: Span): Double =
    s.derived.fold(s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum)(_._1)

  def json(workload: String): String = {
    def num(d: Double) = Fmt.num(d)
    spans.map { s =>
      val c = total(s)
      s"""{"workload":"$workload","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"iteration":${s.iteration},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""derived":${s.derived.nonEmpty},"wall_s":${num(s.wallS)},""" +
        s""""self_s":${num(selfS(s))},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""task_s":${num(c.taskMs / 1e3)},""" +
        s""""shuffle_write_mb":${num(c.shuffleWriteBytes / 1e6)},""" +
        s""""output_mb":${num(c.outputBytes / 1e6)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
