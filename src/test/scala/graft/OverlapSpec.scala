package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

class OverlapSpec extends SparkSuite with Eventually {

  test("a failing task cancels its siblings' jobs, drops queued tasks and leaves no thread behind") {
    val sc = spark.sparkContext
    val slowJobStarted = new CountDownLatch(1)
    val jobEnds = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = slowJobStarted.countDown()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobEnds.add(if (je.jobResult == JobSucceeded) "succeeded" else je.jobResult.toString)
    }
    sc.addSparkListener(listener)
    try {
      val workers = new ConcurrentLinkedQueue[Thread]()
      val started = new AtomicInteger()
      def worker[T](body: => T): () => T = () => {
        workers.add(Thread.currentThread()); started.incrementAndGet(); body
      }
      val failing = worker[Any] {
        assert(slowJobStarted.await(60, TimeUnit.SECONDS), "the sibling job never started")
        throw new IllegalStateException("boom")
      }
      // one task per executor core: the job can only end by cancellation
      val slowJob = worker[Any] {
        sc.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.count()
      }
      // driver-side sleepers: two fill the rest of the pool, the others
      // queue behind them and must never start
      val sleepers = Seq.fill(4)(worker[Any](Thread.sleep(120000)))
      assert(sc.defaultParallelism === 4)
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        graft.util.Overlap.all[Any](spark, "spec")(Seq(failing, slowJob) ++ sleepers)
      }
      assert(e.getMessage === "boom")
      assert((System.nanoTime() - t0) / 1e9 < 60, "the call waited for its siblings to finish")
      assert(started.get === 4, "the pool is bounded at defaultParallelism; queued tasks never start")
      workers.asScala.foreach(_.join(10000))
      assert(workers.asScala.forall(!_.isAlive), "a pool thread survived the call")
      eventually(timeout(Span(30, Seconds))) {
        assert(jobEnds.asScala.exists(_.contains("cancel")), s"job ends: ${jobEnds.asScala}")
        assert(sc.statusTracker.getActiveJobIds().isEmpty)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("results come back in task order") {
    val r = graft.util.Overlap.all(spark, "order")((1 to 9).map(i => () => {
      Thread.sleep((10 - i) * 5L); i * i
    }))
    assert(r === (1 to 9).map(i => i * i))
  }
}
