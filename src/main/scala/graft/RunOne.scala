package graft

/** Dev tool: run one driver-contract query and print its wall time.
  * Usage: tools/run_class.sh graft.RunOne <query_name> <sfDir> [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.getOrCreate(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_RUNONE_STAGES=1 → per-stage wall times (slow-stage hunting)
    if (sys.env.contains("GRAFT_RUNONE_STAGES")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val secs = (for (a <- i.completionTime; b <- i.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          val m = i.taskMetrics
          println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d time=$secs%6.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%6.2fs run=${m.executorRunTime / 1e3}%6.2fs " +
            f"in=${m.inputMetrics.recordsRead}%9d sRead=${m.shuffleReadMetrics.recordsRead}%9d " +
            f"sWrite=${m.shuffleWriteMetrics.recordsWritten}%9d ${i.name.takeWhile(_ != '\n').take(60)}")
        }
      })
    }
    // GRAFT_RUNONE_JOBS=1 → per-job wall times (barrier-chain profiling)
    if (sys.env.contains("GRAFT_RUNONE_JOBS")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(js.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.get(je.jobId)).foreach(t0 =>
            println(f"[job] id=${je.jobId}%3d time=${(System.nanoTime() - t0) / 1e9}%6.2fs"))
        }
      })
    }
    val fn = SparkEntry.queries(name)
    val reps = sys.env.getOrElse("GRAFT_RUNONE_REPS", "1").toInt
    var n = 0L
    // keep the last rep's DataFrame for explain/show — query builders are
    // side-effectful (staging writes, streaming runs), so an extra
    // unconditional fn() invocation would pay one full unmeasured execution
    var df: org.apache.spark.sql.DataFrame = null
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      df = fn(spark, sfDir)
      n = df.count()
      println(f"[runone] $name rows=$n rep=$r time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    if (args.length > 2 && args(2) == "explain")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    if (args.length > 2 && args(2) == "show")
      df.show(50, truncate = false)
    spark.stop()
  }
}
