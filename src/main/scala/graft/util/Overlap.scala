package graft.util

import java.util.concurrent.{Executors, RejectedExecutionException, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession

/** Overlap independent driver actions (guide §2.6) — SAFELY.
  *
  * The r18 overlap sites launched Futures on the global ExecutionContext
  * and awaited them with no cleanup path, so a failure in one action
  * left the sibling Spark jobs running detached, and blocking Spark
  * actions on the shared global pool risked starvation if the paths
  * ever nest (ADVICE r18). This helper fixes both: each call runs its
  * tasks on a DEDICATED pool of min(tasks, defaultParallelism) threads
  * and tags every task's jobs with one job group. The first failure
  * cancels the group (its running and any later jobs), drops the queued
  * tasks and interrupts the running ones; the call waits for the pool
  * to drain before it returns or rethrows that first failure, so no
  * detached job or thread outlives it. FIFO scheduling still gives the
  * back-fill behaviour the overlap exists for; results come back in
  * task order.
  */
object Overlap {

  private val seq = new AtomicLong()

  def all[T](spark: SparkSession, desc: String)(tasks: Seq[() => T]): Seq[T] = {
    if (tasks.sizeIs <= 1) return tasks.map(_())
    val sc = spark.sparkContext
    val gid = s"overlap-$desc-${seq.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(math.min(tasks.size, sc.defaultParallelism).max(1))
    val failure = new AtomicReference[Throwable]()
    def fail(e: Throwable): Unit = if (failure.compareAndSet(null, e)) {
      sc.cancelJobGroupAndFutureJobs(gid, s"$desc: a sibling task failed")
      pool.shutdownNow()
    }
    val results = new Array[Any](tasks.size)
    try tasks.zipWithIndex.foreach { case (t, i) =>
      pool.execute { () =>
        // job groups are thread-local: tag inside the worker thread
        if (failure.get == null) try {
          sc.setJobGroup(gid, desc, interruptOnCancel = true)
          results(i) = t()
        } catch { case e: Throwable => fail(e) } finally sc.clearJobGroup()
      }
    } catch { case _: RejectedExecutionException => () } // a task already failed
    pool.shutdown()
    try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    catch { case e: InterruptedException =>
      fail(e)
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    Option(failure.get).foreach(e => throw e)
    results.toSeq.map(_.asInstanceOf[T])
  }

  /** Two heterogeneous overlapped actions — the common site shape. */
  def pair[A, B](spark: SparkSession, desc: String)(fa: => A, fb: => B): (A, B) = {
    val r = all[Any](spark, desc)(Seq(() => fa, () => fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
