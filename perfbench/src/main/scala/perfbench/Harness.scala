package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM at local[cores]:
  *
  *  1. set-up, `cycles` times: build the session, register the
  *     extensions, build the program's one-time artifacts. The first
  *     cycle is timed from JVM start; the others rebuild after a stop,
  *     each on a fresh copy of the inputs so artifacts are built again;
  *  2. one cold pass (JIT and codegen warm-up), reported apart, which
  *     also leaves the outputs the check reads;
  *  3. warm passes until `seconds` have elapsed (at least three), each
  *     timed for wall and process CPU, with the heap read after full
  *     GCs between passes;
  *  4. with tracing on, passes alternate untraced and traced in the
  *     order U T T U (at least four), and the layer probes run once, traced;
  *  5. the counts the check needs are read, outside any timing.
  *
  * Writes `result.json` (and `spans.json` when traced) under --work.
  * Usage: Harness --workload W --data DIR --work DIR --seconds S
  *        --trace 0|1 --cores N --cycles K --queries Q1,Q2,...
  *        --setup-queries Q1,... */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(key: String) = args(key).split(',').filter(_.nonEmpty).toSeq
    val workload = Workloads(args("workload"), list("queries"), list("setup-queries"))
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores")
    val cycles = args("cycles").toInt
    val t0 = System.nanoTime()

    // ---------------------------------------------------------- set-up
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    val registers = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until cycles) {
      if (spark != null) spark.stop()
      val dir =
        if (i == cycles - 1 || !workload.hasArtifacts) data else copyInputs(data, s"$work/setup$i")
      val start = System.nanoTime()
      spark = graft.GraftSession.local(cores)
      val built = System.nanoTime()
      graft.functions.GraftExtensions.register(spark)
      val registered = System.nanoTime()
      workload.artifacts(spark, dir)
      val end = System.nanoTime()
      builds += (built - start) / 1e9
      registers += (registered - built) / 1e9
      setups += (if (i > 0) (end - start) / 1e9
        else (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      System.err.println(f"perfbench: setup $i ${setups.last}%.3f s")
    }

    // ----------------------------------------------------------- passes
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val mem = ManagementFactory.getMemoryMXBean
    var attempted = 0L
    var failed = 0L
    val failedOps = mutable.Set.empty[String]
    val tracer = if (trace) Some(new Tracer(spark, new File(s"$work/checkpoints"), t0)) else None

    val steals = mutable.ArrayBuffer.empty[Double]

    /** One pass; returns (wall, cpu, per-operation seconds). */
    def pass(label: String, traced: Boolean, keep: Boolean = false): (Double, Double, Map[String, Double]) = {
      if (traced) tracer.get.start()
      val steal0 = stealSeconds()
      val cpu0 = os.getProcessCpuTime
      val s = System.nanoTime()
      val opSecs = workload.ops.map { op =>
        val o = System.nanoTime()
        attempted += 1
        def body(): Unit =
          try workload.run(spark, op, data, work, keep)
          catch { case e: Throwable =>
            failed += 1; failedOps += op
            System.err.println(s"perfbench: $op failed: $e")
          }
        if (traced) tracer.get.span(op, label)(body()) else body()
        val secs = (System.nanoTime() - o) / 1e9
        System.err.println(f"perfbench: $label $op $secs%.3f s")
        op -> secs
      }.toMap
      val wall = (System.nanoTime() - s) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      if (!traced && !keep) steals += stealSeconds() - steal0
      if (traced) tracer.get.stop()
      (wall, cpu, opSecs)
    }

    val cold = pass("cold", traced = false, keep = true)._1
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val opTimes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    var heapPeak = 0L
    val loopStart = System.nanoTime()
    var n = 0
    while (n < (if (trace) 4 else 3) || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      // untraced, traced, traced, untraced, ...: a drift that is linear
      // over the passes (JIT warm-up) cancels out of the overhead estimate
      val traced = trace && (n % 4 == 1 || n % 4 == 2)
      val (wall, cpu, ops) = pass(s"pass$n", traced)
      if (traced) tracedWalls += wall
      else { walls += wall; cpus += cpu; opTimes += ops }
      heapPeak = math.max(heapPeak, heapAfterGc(mem))
      n += 1
    }

    val probeCounts = tracer.map { t =>
      t.start()
      try workload.probes(spark, data, work, name => body => t.span(name, "probes")(body))
      finally t.stop()
    }.getOrElse(Map.empty)

    val checkCounts = workload.counts(spark, work)
    spark.stop()

    val out = new mutable.LinkedHashMap[String, Any]
    out("setup_s") = setups.toSeq
    out("session_build_s") = builds.toSeq
    out("session_register_s") = registers.toSeq
    out("cold_pass_s") = cold
    out("pass_s") = walls.toSeq
    out("cpu_s") = cpus.toSeq
    out("steal_s") = steals.toSeq
    out("op_s") = workload.ops.map(op => op -> opTimes.map(_(op)).toSeq).toMap
    out("traced_pass_s") = tracedWalls.toSeq
    out("heap_peak_mb") = heapPeak / 1048576.0
    out("attempted") = attempted
    out("failed") = failed
    out("failed_ops") = failedOps.toSeq.sorted
    out("counts") = checkCounts ++ probeCounts
    tracer.foreach(t => write(s"$work/spans.json", Json(t.spans.map { sp =>
      Map("name" -> sp.name, "parent" -> sp.parent, "start" -> sp.start, "end" -> sp.end) ++ sp.acc.fields
    }.toSeq)))
    write(s"$work/result.json", Json(out.toMap))
    System.exit(0)
  }

  /** Heap used after a full GC. The first GC lets Spark's cleaner drop
    * the blocks of the pass's unreferenced checkpoints; the second one
    * collects what that released. */
  private def heapAfterGc(mem: java.lang.management.MemoryMXBean): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    mem.getHeapMemoryUsage.getUsed
  }

  /** Seconds the hypervisor held this VM's CPUs (the `steal` column of
    * /proc/stat), averaged over the CPUs; 0 where there is no such file. */
  private def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+") finally src.close()
      f(8).toDouble / 100.0 / Runtime.getRuntime.availableProcessors
    } catch { case _: Exception => 0.0 }

  /** Copy the input files into a fresh directory, so the program builds
    * its per-directory artifacts for it again. */
  private def copyInputs(from: String, to: String): String = {
    val src = new File(from).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val q = new File(to).toPath.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    to
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path)
    try w.println(text) finally w.close()
  }

  /** Minimal JSON writer for maps, sequences, strings and numbers. */
  def Json(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(Json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => Json(other.toString)
  }
}
