package graft

/** Dev-only harness: time a subset of gate queries (args) on a given SF
  * dir, optionally printing the formatted plan. Not part of the driver
  * contract. Usage: runMain graft.Scratch <sfDir> [explain] q43 q45 ... */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val explain = args.contains("explain")
    val names = args.drop(1).filterNot(_ == "explain")
    val spark = GraftSession.start(GraftSession.builder())
    // SPARK_GRAFT_STAGES=1 → per-stage wall/task summary after each run,
    // plus a job counter (nJobs/jobWall since the last read) — the
    // fixed-overhead signal for tiny-data chains where no single stage
    // exceeds the print threshold
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobWallMs = new java.util.concurrent.atomic.AtomicLong(0L)
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val started =
            new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            started.put(js.jobId, js.time): Unit
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            jobCount.incrementAndGet(): Unit
            Option(started.remove(je.jobId)).foreach { t0 =>
              jobWallMs.addAndGet(je.time - t0): Unit
            }
          }
          // per-stage max/sum task durations — straggler visibility
          private val maxMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          private val sumMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val d = te.taskInfo.duration
            maxMs.merge(te.stageId, d, math.max(_, _)): Unit
            sumMs.merge(te.stageId, d, _ + _): Unit
            if (d > 2000)
              println(f"    TASK stage=${te.stageId} idx=${te.taskInfo.index} " +
                f"${d / 1e3}%.1fs records=${Option(te.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(-1L)}")
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val wall = (i.completionTime.getOrElse(0L) -
              i.submissionTime.getOrElse(0L)) / 1e3
            val mx = maxMs.getOrDefault(i.stageId, 0L) / 1e3
            val sm = sumMs.getOrDefault(i.stageId, 0L) / 1e3
            if (wall > 1.0)
              println(f"  STAGE ${i.stageId}%4d ${i.numTasks}%5d tasks " +
                f"wall=$wall%7.1fs maxTask=$mx%6.1fs sumTask=$sm%7.1fs  " +
                i.name.takeWhile(_ != '\n').take(80))
          }
        })
    val sel = SparkEntry.queries.filter { case (k, _) =>
      names.isEmpty || names.exists(k.startsWith) }
    sel.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      if (explain) { println(s"===== $name plan"); df.explain("formatted") }
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = (System.nanoTime() - t0) / 1e9
      // second run to split plan-vs-execute and caching effects —
      // run2 includes CONSTRUCTION (eager checkpoints), so it is the
      // bench-faithful number; its job count/wall is reported separately
      jobCount.set(0); jobWallMs.set(0L)
      val t0b = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t1b = (System.nanoTime() - t0b) / 1e9
      val j = jobCount.get(); val jw = jobWallMs.get() / 1e3
      println(f"$name%-22s run1=$t1%8.2fs run2=$t1b%8.2fs run2jobs=$j%4d jobWall=$jw%7.2fs")
    }
    spark.stop()
  }
}
