package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.operators.Par

/** `Par.run`'s contract: results in call order, legs in the caller's
  * job group, and on failure the root cause rethrown only after every
  * sibling has stopped — its running jobs cancelled, its later jobs and
  * writes never happening.
  */
class ParSpec extends SparkSpec {

  private final case class Boom(msg: String) extends RuntimeException(msg)

  private def sc = spark.sparkContext

  /** A job whose tasks run until cancelled (or `maxMs`): the kill flag is
    * polled, so a cancelled job frees its cores at once.
    */
  private def longJob(maxMs: Long = 60000L): Long =
    sc.parallelize(1 to 2, 2).map { i =>
      val ctx = TaskContext.get()
      val t0 = System.currentTimeMillis()
      while (!ctx.isInterrupted() && System.currentTimeMillis() - t0 < maxMs)
        Thread.sleep(10)
      i.toLong
    }.sum().toLong

  /** The Par tag of the calling leg thread. */
  private def parTag(): String =
    sc.getJobTags().find(_.startsWith("graft-par-")).get

  /** Records job start properties, start times and end times. */
  private final class Jobs extends SparkListener {
    val tags = new ConcurrentHashMap[Int, String]()
    val groups = new ConcurrentHashMap[Int, String]()
    val started = new ConcurrentHashMap[Int, java.lang.Long]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      tags.put(j.jobId, Option(j.properties.getProperty("spark.job.tags")).getOrElse(""))
      groups.put(j.jobId, Option(j.properties.getProperty("spark.jobGroup.id")).getOrElse(""))
      started.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.put(j.jobId, j.time)
    def withTag(tag: String): Seq[Int] =
      tags.asScala.collect { case (id, t) if t.split(',').contains(tag) => id }.toSeq
  }

  private def listening[A](body: Jobs => A): A = {
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    try body(jobs)
    finally {
      org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      sc.removeSparkListener(jobs)
    }
  }

  test("results come back in call order, whatever the completion order") {
    val out = Par.run[Long](Seq(300L, 10L, 150L, 0L).map(ms => () => {
      Thread.sleep(ms)
      spark.range(ms).count()
    }))
    assert(out == Seq(300L, 10L, 150L, 0L))
  }

  test("a failing leg's exception is rethrown; its siblings are cancelled, stop, and never write") {
    val dir: Path = Files.createTempDirectory("parspec")
    val slowMarker = dir.resolve("after-long-job")
    val chainMarker = dir.resolve("after-job-chain")
    val tag = new AtomicReference[String]()
    // legs that have returned or thrown, counted by the legs themselves
    val returned = new AtomicInteger()
    def leg(body: => Unit): () => Unit = () => try body finally returned.incrementAndGet()
    listening { jobs =>
      val boom = Boom("leg 0 failed")
      val t0 = System.currentTimeMillis()
      val e = intercept[Boom] {
        Par.run[Unit](Seq(
          leg {
            tag.set(parTag())
            Thread.sleep(300) // let the siblings' jobs start
            throw boom
          },
          // a slower sibling inside one long job, writing after it
          leg { longJob(); Files.writeString(slowMarker, "x") },
          // a sibling that keeps starting short jobs, writing after them
          leg {
            (1 to 10000).foreach(_ => sc.parallelize(1 to 10, 2).count())
            Files.writeString(chainMarker, "x")
          }))
      }
      val thrownAt = System.currentTimeMillis()
      assert(returned.get() == 3, "run threw before every leg had returned")
      // the root cause, not a sibling's "job cancelled" error; the
      // siblings' errors ride along as suppressed
      assert(e eq boom)
      assert(e.getSuppressed.length == 2, e.getSuppressed.toSeq)
      assert(thrownAt - t0 < 30000L, "the long job must be cancelled, not awaited")
      assert(!Files.exists(slowMarker), "a sibling wrote after its cancelled long job")
      assert(!Files.exists(chainMarker), "a sibling wrote after its cancelled job chain")

      // no job of the call outlives run: every job carrying the tag
      // started no later than the throw, and has ended. (Not "ended before
      // the throw": Spark wakes a cancelled job's waiter before it stamps
      // and posts the job's end, so an end time can trail the throw by a
      // few ms.)
      val deadline = System.currentTimeMillis() + 10000L
      do org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      while (!jobs.withTag(tag.get()).forall(jobs.ended.containsKey) &&
        System.currentTimeMillis() < deadline)
      val tagged = jobs.withTag(tag.get())
      assert(tagged.nonEmpty)
      tagged.foreach { id =>
        assert(jobs.started.get(id) <= thrownAt,
          s"job $id of the failed call started after run threw")
        assert(jobs.ended.containsKey(id), s"job $id of the failed call never ended")
      }
      val ids = sc.statusTracker.getJobIdsForTag(tag.get())
      assert(ids.toSet == tagged.toSet)
      assert(ids.forall(id => !sc.statusTracker.getJobInfo(id)
        .exists(_.status() == org.apache.spark.JobExecutionStatus.RUNNING)))
    }
    // Par waited for the legs: no late write lands after the fact either
    Thread.sleep(200)
    assert(!Files.exists(slowMarker) && !Files.exists(chainMarker))
  }

  test("legs keep the caller's job group; the per-call tag is added, not a group") {
    listening { jobs =>
      sc.setJobGroup("par-spec-group", "caller's span")
      val seen =
        try Par.run[(String, String)](Seq(1, 2, 3).map(n => () => {
          sc.parallelize(1 to n, 2).count()
          (sc.getLocalProperty("spark.jobGroup.id"), parTag())
        }))
        finally sc.clearJobGroup()
      assert(seen.map(_._1).distinct == Seq("par-spec-group"))
      val tag = seen.head._2
      assert(seen.map(_._2).distinct == Seq(tag), "one tag per call")
      org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      val tagged = jobs.withTag(tag)
      assert(tagged.size >= 3)
      assert(tagged.forall(id => jobs.groups.get(id) == "par-spec-group"))
      // the caller's thread never carries the tag
      assert(!sc.getJobTags().contains(tag))
    }
  }
}
