package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One recorded span. `parent` is 0 for a root span; `req` groups the
  * spans of one query or batch. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      t0: Long, t1: Long)

/** In-memory span recorder around the benchmark's own calls into each
  * layer. Disabled (the untraced run) it only runs the body, so the
  * end-to-end numbers carry no recording cost. Spans are kept in memory
  * and written once when the run ends. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def newRequest(): Long = ids.incrementAndGet()

  def span[A](name: String, req: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), req, name, t0,
          System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.t0)
}

/** What the listener saw of one Spark job. Times are epoch millis, as
  * the scheduler stamps them. */
final case class JobRec(id: Int, description: String, start: Long,
                        var end: Long = -1L, var shuffleWrite: Long = 0L,
                        var spill: Long = 0L)

/** Records every job's description, wall and shuffle/spill bytes. Build
  * phases are keyed on the `graft-build <seg>: <phase>` descriptions the
  * builder already sets. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.end = e.time })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      m <- Option(e.taskMetrics)
      jid <- Option(stageToJob.get(e.stageId))
      j <- Option(jobs.get(jid))
    } j.synchronized {
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  def snapshot: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  private val drains = new AtomicLong(0)

  /** Blocks until the listener has seen the end of a job submitted after
    * every job of interest, so a snapshot is complete (events reach a
    * listener asynchronously, in submission order). */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val marker = s"perfbench-drain-${drains.incrementAndGet()}"
    sc.setJobDescription(marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def seen = snapshot.exists(j => j.description == marker && j.end >= 0 &&
      snapshot.forall(o => o.id > j.id || o.end >= 0))
    while (!seen) {
      require(System.nanoTime() < deadline, "Spark listener did not drain in 30 s")
      Thread.sleep(5)
    }
  }
}
