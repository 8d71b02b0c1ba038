package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Fmt {
  /** Every digit the double carries; Locale-independent. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

object Files2 {
  def sizeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    tiny: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    def opt(k: String): Option[String] = a.indexOf(k) match {
      case -1 => None
      case i =>
        require(a.length > i + 1, s"$k needs a value")
        Some(a(i + 1))
    }
    Args(
      workload = opt("--workload").getOrElse(sys.error("--workload is required")),
      seed = opt("--seed").map(_.toLong).getOrElse(sys.error("--seed is required")),
      seconds = opt("--seconds").map(_.toDouble).getOrElse(10.0),
      trace = opt("--trace").contains("1"),
      work = opt("--work").getOrElse(sys.error("--work is required")),
      tiny = a.contains("--tiny"))
  }
}

/** A measured value, printed as `metric <name> <value> <unit> n=<samples>`. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** What one workload reports: the benchmark's shared end-to-end metrics
  * plus the workload's own named metrics (each request type, each rate).
  */
final case class Outcome(
    latencyS: Double,
    latencyMaxS: Double,
    itemsPerS: Double,
    storeMb: Double,
    named: Seq[Metric])

/** State shared by a run: the session, the tracer, the operation ledger. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val setupS = ArrayBuffer.empty[Double]
  /** Wall time of each measured cycle. */
  val cycleS = ArrayBuffer.empty[Double]
  val properties = ArrayBuffer.empty[Metric]
  var compactions = 0L

  def dir(name: String): String = {
    val d = new File(args.work, name).getAbsolutePath
    new File(d).getParentFile.mkdirs()
    d
  }

  def say(line: String): Unit = { println(line); Console.out.flush() }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Counts one operation and its output checks. An exception or any
    * failed check marks the operation failed; the run carries on.
    */
  def op[T](what: String)(body: => T)(checks: T => Seq[(Boolean, String)]): Option[T] = {
    attempted += 1
    try {
      val v = body
      val bad = checks(v).collect { case (false, msg) => msg }
      if (bad.nonEmpty) {
        failed += 1
        bad.foreach(m => System.err.println(s"[perfbench] CHECK FAILED $what: $m"))
      }
      Some(v)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    setupS += secs(t0)
    v
  }

  def property(name: String, value: Double, unit: String = "share"): Unit =
    properties += Metric(name, value, unit, 1)

  /** Runs `cycle` until the measuring time is spent, at least once. The
    * first cycle runs cold, as each CLI invocation of the library does;
    * with tracing, that cold cycle is the traced one. `cycle` gets its
    * index and returns its own wall time, which excludes output checks.
    */
  def measure(cycle: Int => Double): Unit = {
    tracer.active = args.trace
    val t0 = System.nanoTime()
    while (cycleS.isEmpty || secs(t0) < args.seconds) {
      cycleS += cycle(cycleS.size)
      tracer.iteration += 1
    }
    tracer.active = false
    tracer.drain()
  }
}
