package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness (optimization guide §1): runs ONE named query
  * end-to-end under the bench's exact session config and attributes
  * wall/task time per Spark job, so a multi-statement operator (DML
  * lifecycles, streaming drains) shows WHERE its seconds go instead of
  * one opaque number. Usage:
  *   runMain graft.Profile <queryName> [repeat]
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  * Output: one line per job — jobId, wall ms, summed task ms, #stages,
  * #tasks, shuffle read/write bytes, description head — then a total.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val repeat = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()

    final case class Job(var start: Long = 0L, var end: Long = 0L,
      var desc: String = "", var stages: Int = 0, var tasks: Int = 0,
      var taskMs: Long = 0L, var shufR: Long = 0L, var shufW: Long = 0L,
      var inB: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = new Job(start = e.time,
          desc = Option(e.properties.getProperty("spark.job.description"))
            .getOrElse(""),
          stages = e.stageIds.size)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val j = jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1))
        if (j != null) {
          j.tasks += e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shufR += m.shuffleReadMetrics.totalBytesRead
            j.shufW += m.shuffleWriteMetrics.bytesWritten
            j.inB += m.inputMetrics.bytesRead
          }
        }
      }
    })

    val fn = SparkEntry.queries(name)
    (1 to repeat).foreach { r =>
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // let listener events drain
      println(f"%n=== run $r: $name rows=$n wall=${wall}%.0f ms ===")
      val js = jobs.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, Job]])
        .sortBy(_.getKey)
      js.foreach { e =>
        val j = e.getValue
        println(f"job ${e.getKey}%3d  wall=${j.end - j.start}%6d ms  " +
          f"task=${j.taskMs}%7d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d  " +
          f"in=${j.inB / 1024}%8d KB shufR=${j.shufR / 1024}%6d KB " +
          f"shufW=${j.shufW / 1024}%6d KB  ${j.desc.take(80)}")
      }
      val totalJob = js.map(e => e.getValue.end - e.getValue.start).sum
      val totalTask = js.map(_.getValue.taskMs).sum
      println(f"TOTAL jobs=${js.length} jobWall=$totalJob ms task=$totalTask ms " +
        f"(wall-jobWall=${wall - totalJob}%.0f ms = driver/planning/IO gaps)")
    }
    spark.stop()
  }
}
