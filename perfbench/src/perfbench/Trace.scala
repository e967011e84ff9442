package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One timed library call, as seen from outside: wall-clock bounds (epoch
  * ms, the clock Spark stamps listener events with) and nanosecond
  * durations of the build (until the DataFrame is returned) and the whole
  * call (build + force).
  */
final case class Call(layer: String, w0: Long, wBuilt: Long, w1: Long,
                      buildS: Double, wallS: Double, hash: Long)

/** Per-call layer counts attributed from [[JobTrace]] events. */
final case class LayerStats(jobs: Int, builderJobs: Int, taskS: Double, idleS: Double,
                            shuffleMb: Double, skew: Double, failedTasks: Int)

/** SparkListener recording jobs and finished tasks. Jobs are attributed to
  * the call whose wall-clock window contains their submission; tasks follow
  * their stage's first job.
  */
final class JobTrace extends SparkListener {
  private final case class Job(id: Int, start: Long, stages: Seq[Int])
  private final case class Task(stage: Int, durMs: Long, shuffleBytes: Long, failed: Boolean)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val sw = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    tasks.add(Task(e.stageId, e.taskInfo.duration, sw, e.reason != Success))
  }

  def stats(calls: Seq[Call]): Seq[LayerStats] = {
    val js = jobs.asScala.toSeq
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    js.sortBy(_.id).foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j.id)))
    val byJob = tasks.asScala.toSeq.groupBy(t => stageJob.getOrElse(t.stage, -1))
    val claimed = scala.collection.mutable.Set.empty[Int]
    calls.map { c =>
      val mine = js.filter(j => j.start >= c.w0 && j.start <= c.w1 && claimed.add(j.id))
      val ts = mine.flatMap(j => byJob.getOrElse(j.id, Nil))
      // union of the call's job intervals, clipped to the call window
      val spans = mine.map(j => (j.start max c.w0,
        Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(c.w1) min c.w1)).sortBy(_._1)
      var busy = 0L; var end = c.w0
      spans.foreach { case (s, e) =>
        val s2 = s max end
        if (e > s2) { busy += e - s2; end = e }
      }
      val heaviest = ts.groupBy(_.stage).values.toSeq.sortBy(-_.map(_.durMs).sum).headOption
      val skew = heaviest.map { st =>
        val d = st.map(_.durMs.toDouble).sorted
        val med = d(d.length / 2)
        if (med > 0) d.last / med else 1.0
      }.getOrElse(1.0)
      LayerStats(
        jobs = mine.size,
        builderJobs = mine.count(_.start < c.wBuilt),
        taskS = ts.map(_.durMs).sum / 1e3,
        idleS = ((c.w1 - c.w0) - busy).max(0L) / 1e3,
        shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
        skew = skew,
        failedTasks = ts.count(_.failed))
    }
  }
}

/** log4j2 appender counting ERROR events, and among them Spark's
  * "Failed to update accumulator" (a task's metric update arriving for an
  * accumulator that no longer exists).
  */
final class ErrorCounter extends AbstractAppender("perfbench-errors", null, null, true,
    Property.EMPTY_ARRAY) {
  val errors = new AtomicLong
  val accumulator = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      errors.incrementAndGet()
      if (String.valueOf(e.getMessage.getFormattedMessage).contains("Failed to update accumulator"))
        accumulator.incrementAndGet()
    }

  /** Attach to the root logger of the live configuration (again if a
    * reconfiguration dropped it). */
  def ensureInstalled(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (!cfg.getRootLogger.getAppenders.containsKey(getName)) {
      if (!isStarted) start()
      cfg.addAppender(this)
      cfg.getRootLogger.addAppender(this, Level.ERROR, null)
      ctx.updateLoggers()
    }
  }
}

/** Heap in use right after a full collection: the live heap. The listener
  * bus is drained first, so Spark's status stores have taken in every
  * event, and collections repeat until the reading settles, because
  * Spark's ContextCleaner frees broadcast and shuffle blocks only after a
  * collection has found their handles unreachable. */
object LiveHeap {
  private def used(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def mb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.BenchBus.drain(sc)
    var last = used()
    var tries = 0
    var settled = false
    while (!settled && tries < 10) {
      Thread.sleep(50)
      val u = used()
      settled = math.abs(u - last) < (1L << 20)
      last = u
      tries += 1
    }
    last / (1024.0 * 1024.0)
  }
}
