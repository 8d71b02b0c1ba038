package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Overlap independent Spark jobs (optimization guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially. The fixed-overhead-bound store flows (fsck census legs,
  * multi-store fixture builds, the store legs of erase, rectify and
  * incremental) are chains of many SMALL jobs whose cost is scheduling
  * latency, not compute; submitting independent chains from a bounded
  * pool lets one chain's jobs back-fill the idle cores of another's
  * tail, collapsing wall time without touching any plan.
  *
  * Determinism: results return in CALL order regardless of completion
  * order, so a caller that concatenates them produces the exact sequence
  * the serial loop produced. Pool threads are created by the caller's
  * thread, so every leg inherits its local properties — job group and
  * description included: a trace that attributes jobs by job group
  * attributes the overlapped legs to the caller's span.
  *
  * Failure: every leg's jobs carry one job TAG per call
  * (`SparkContext.addJobTag` — a tag, not a job group, so the inherited
  * group stays). The first leg to fail cancels that tag; until every
  * leg has returned, a listener cancels each new job a leg starts under
  * it, and the tag is re-cancelled on a short period as a backstop. No
  * thread is interrupted: a leg inside a driver-side commit (a
  * [[PartitionSwap]] rename sequence) finishes that commit, and a leg
  * whose job is cancelled fails at that job. `run` returns only after
  * every leg has returned, so no leg's job or write outlives the call —
  * a verb that holds a [[Lease]] around a `run` releases it only once
  * its legs have stopped. It then rethrows the ROOT cause (the first
  * leg to fail, unwrapped), never a sibling's "job cancelled" error;
  * the siblings' exceptions ride along as suppressed.
  */
object Par {

  private val calls = new AtomicLong()

  /** Backstop period of the re-cancel loop while legs wind down. */
  private val RecancelMs = 50L

  def run[A](thunks: Seq[() => A], parallelism: Int = 8): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val sc: Option[SparkContext] = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-par-${calls.incrementAndGet()}"
    val root = new AtomicReference[Throwable]()
    val guard = new AtomicReference[SparkListener]()
    // the first failure is the root cause: from here on, the tag's
    // running jobs are cancelled and every new one is cancelled on start
    def fail(e: Throwable): Unit =
      if (root.compareAndSet(null, e)) sc.foreach { c =>
        guard.set(cancelNewJobs(c, tag))
        cancel(sc, tag)
      }
    val left = new CountDownLatch(thunks.size)
    val pool = Executors.newFixedThreadPool(math.min(parallelism, thunks.size))
    val futs =
      try thunks.map { t =>
        pool.submit(new Callable[A] {
          def call(): A =
            try {
              sc.foreach(_.addJobTag(tag))
              t()
            } catch {
              case e: Throwable => fail(e); throw e
            } finally left.countDown()
        })
      }
      finally pool.shutdown()

    // wait for every leg; after a failure, re-cancel on a short period as
    // a backstop to the listener (the listener bus may drop events). An
    // interrupt of the caller counts as a failure: the legs still stop
    // before `run` returns.
    var interrupted = false
    def legsDone(): Boolean =
      try left.await(RecancelMs, TimeUnit.MILLISECONDS)
      catch {
        case e: InterruptedException => interrupted = true; fail(e); false
      }
    try while (!legsDone()) { if (root.get() != null) cancel(sc, tag) }
    finally {
      for (g <- Option(guard.get()); c <- sc) c.removeSparkListener(g)
      if (interrupted) Thread.currentThread().interrupt()
    }

    Option(root.get()) match {
      case None => futs.map(_.get())
      case Some(e) =>
        futs.foreach { f =>
          try f.get()
          catch {
            case x: java.util.concurrent.ExecutionException
                if !(x.getCause eq e) => e.addSuppressed(x.getCause)
            case _: java.util.concurrent.ExecutionException => ()
          }
        }
        throw e
    }
  }

  private def cancel(sc: Option[SparkContext], tag: String): Unit =
    sc.foreach(_.cancelJobsWithTag(tag, "a sibling leg of graft.operators.Par failed"))

  /** A listener that cancels every job starting under `tag` — the legs
    * still running after a failure may submit jobs between two cancels.
    */
  private def cancelNewJobs(sc: SparkContext, tag: String): SparkListener = {
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .getOrElse("")
        if (tags.split(',').contains(tag))
          sc.cancelJob(j.jobId, "a sibling leg of graft.operators.Par failed")
      }
    }
    sc.addSparkListener(l)
    l
  }

  /** Side-effecting variant: run independent units, wait for all. */
  def unit(thunks: (() => Unit)*): Unit = {
    val _ = run[Unit](thunks)
  }
}
