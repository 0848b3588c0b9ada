package graft

/** Dev-only plan archiver (NOT part of the driver contract): write
  * `explain("formatted")` of the named gate entries to
  * `plans/<tag>/<query>_<suffix>.txt` — the optimization-round evidence
  * files the judge diffs against claims.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q150 q151 ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    // fixed at 4 cores, not the host's: the archived plans spell out
    // partition counts, and files from different hosts must diff cleanly
    val spark = GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val sel = SparkEntry.queries.filter { case (k, _) =>
      names.exists(k.startsWith) }
    sel.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // checkpoint-materialized queries show only a LogicalRDD scan in
      // their final explain; Checkpoints.eager archives each plan it
      // materializes under graft.plandump.dir, so the evidence file
      // carries the REAL machinery (each checkpointed stage's plan,
      // then the final plan)
      val tmp = java.nio.file.Files.createTempDirectory("plandump").toFile
      System.setProperty(Checkpoints.PlanDumpProp, tmp.getAbsolutePath)
      val df = try fn(spark, sfDir)
      finally System.clearProperty(Checkpoints.PlanDumpProp)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val cks = Option(tmp.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try {
        cks.foreach { f =>
          w.println(s"== Materialized intermediate (${f.getName}) ==")
          val src = scala.io.Source.fromFile(f)
          try w.println(src.mkString) finally src.close()
        }
        if (cks.nonEmpty) w.println("== Final (post-checkpoint) plan ==")
        w.println(plan)
      } finally w.close()
      cks.foreach(_.delete())
      tmp.delete()
      spark.catalog.clearCache()
      Checkpoints.releaseAll(spark)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
