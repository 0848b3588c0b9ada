package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** (sfDir, outDir, query-name filter); None for any other arg count.
    * The optional 3rd arg (dev only) is comma-separated query-name
    * substrings to dump — the driver always calls with exactly two. */
  def parseArgs(args: Array[String]): Option[(String, String, Seq[String])] =
    args match {
      case Array(s, o)    => Some((s, o, Seq.empty[String]))
      case Array(s, o, f) => Some((s, o, f.split(',').toSeq))
      case _              => None
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args).getOrElse {
      System.err.println("usage: Verify <sfDir> <outDir> [queryNameSubstrings,...]")
      sys.exit(2)
    }
    val spark = GraftSession.start(GraftSession.builder())
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // intermediates persisted inside operators would otherwise pile up
      // across the dumps; ditto reliable checkpoints in
      // spark.graft.checkpoint.dir mode (the parquet dump above IS the
      // consumption, so the returned checkpoint is spent)
      spark.catalog.clearCache()
      Checkpoints.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
