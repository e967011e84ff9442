package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Dev tool (optimization round): run ONE registered query with the
  * bench's timed action and print a per-stage table — wall time, task
  * time, shuffle read/write bytes, records — plus job count. The
  * empirical half of guide §1 without the UI.
  * `query` is a registered key or a PlanDump pseudo-entry (`_tokens_build`, …).
  * Usage: tools/run_main.sh graft.tools.StageProf <query> [sfDir] [cores] [reps]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cores = if (args.length > 2) args(2).toInt else graft.Session.envCores
    val reps = if (args.length > 3) args(3).toInt else 1
    val spark = graft.Session.create(cores)
    graft.Bench.warmUp(spark, sfDir)

    case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
                  srMB: Double, swMB: Double, recIn: Long, tasks: Int)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages += St(si.stageId, si.name.split("\n")(0).take(90), wall,
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.recordsRead, si.numTasks)
      }
    })
    val nameList = name.split(",").toSeq
    for (rep <- 1 to reps; name <- nameList) {
      stages.clear(); jobs = 0
      val t0 = System.nanoTime()
      val df = PlanDump.plan(spark, sfDir, name)
      import org.apache.spark.sql.functions.{col, xxhash64}
      df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(Map("h" -> "max")).count()
      val tot = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"==== $name rep $rep: $tot%.3f s, $jobs jobs, ${stages.size} stages ====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"shrd_MB"}%8s ${"shwr_MB"}%8s ${"rec_in"}%10s ${"tasks"}%6s  name")
      stages.sortBy(-_.wallMs).take(30).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.srMB}%8.2f ${s.swMB}%8.2f ${s.recIn}%10d ${s.tasks}%6d  ${s.name}")
      }
      val wallSum = stages.map(_.wallMs).sum
      println(f"stage wall sum: ${wallSum / 1000.0}%.3f s (overlap possible); gaps = driver/planning time")
    }
    spark.stop()
  }
}
