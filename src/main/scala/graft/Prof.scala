package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: run one registered query (warmed at sf0.001, then timed at
  * SPARK_GRAFT_SF_DIR through the noop sink, Bench's methodology) and
  * print per-JOB wall durations attributed by call site — the
  * guide-§1 "where does the time actually go" readout for the
  * multi-action lifecycle queries whose cost is a SEQUENCE of writes,
  * probes and folds rather than one plan. */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.mainSession(defaultCpus = "32")
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    val stages = scala.collection.mutable
      .ArrayBuffer.empty[(Int, Long, Int, Long, String)]
    val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          j.stageInfos.lastOption.map(_.name).getOrElse(""))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, d) =>
          jobs += ((j.jobId, System.nanoTime() - t0, d)); () }
      override def onStageCompleted(
          st: SparkListenerStageCompleted): Unit = {
        val i = st.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(0L)
        stages += ((i.stageId, wall, i.numTasks,
          i.taskMetrics.executorRunTime, i.name)); ()
      }
    })
    def run(d: String): Unit =
      SparkEntry.queries(name)(spark, d)
        .write.mode("overwrite").format("noop").save()
    try run("/root/testdata/sf0.001") catch { case _: Throwable => () }
    spark.catalog.clearCache()
    jobs.clear()
    stages.clear()
    val t0 = System.nanoTime()
    run(dir)
    val tot = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    val jsum = jobs.map(_._2).sum / 1e9
    println(f"PROF $name TOTAL $tot%.2f s, ${jobs.size} jobs " +
      f"(sum $jsum%.2f s, driver-side gap ${tot - jsum}%.2f s)")
    jobs.sortBy(-_._2).take(40).foreach { case (id, ns, d) =>
      println(f"  ${ns / 1e9}%6.2f s  job#$id%-4d ${d.take(110)}")
    }
    println("STAGES (wall ms, tasks, executorRunTime ms, site):")
    stages.sortBy(-_._2).take(25).foreach { case (id, w, n, rt, d) =>
      println(f"  $w%6d ms  $n%3d tasks  run=$rt%6d ms  stage#$id%-4d ${d.take(100)}")
    }
    spark.stop()
  }
}
