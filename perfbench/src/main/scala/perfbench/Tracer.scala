package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span. Times are in seconds, sizes in bytes. */
final class Acc {
  var wall = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskCpu = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gc = 0.0
  var planning = 0.0
  var hofExprs = 0L
  var nonCodegen = 0L
  var eagerCheckpoints = 0L
  var rddBlockBytes = 0L

  def fields: Seq[(String, Double)] = Seq(
    "wall_s" -> wall, "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "failed_tasks" -> failedTasks.toDouble,
    "task_cpu_s" -> taskCpu, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble,
    "gc_s" -> gc, "planning_s" -> planning, "hof_exprs" -> hofExprs.toDouble,
    "non_codegen_nodes" -> nonCodegen.toDouble,
    "eager_checkpoints" -> eagerCheckpoints.toDouble,
    "rdd_block_bytes" -> rddBlockBytes.toDouble)
}

/** A closed span: its name, the group it belongs to (a pass or the
  * layer probes), its start and end on the run's clock, and counters. */
final case class Span(name: String, parent: String, start: Double, end: Double, acc: Acc)

/** The benchmark's tracer. Spans wrap the benchmark's calls into the
  * program; the listener attributes every job, stage and task to the
  * span whose thread submitted it (through a local property), and every
  * executed plan's planning time and expression shape to the open span.
  * Eager checkpoints are counted through the program's plan-archive
  * hook (`graft.plandump.dir`), which writes one file per checkpoint.
  * Spans are kept in memory and written out by the caller at the end. */
final class Tracer(spark: SparkSession, checkpointDir: java.io.File, t0: Long) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val open = mutable.Map.empty[String, Acc]
  private val stageSpan = mutable.Map.empty[Int, String]
  @volatile private var current: String = null
  val spans = mutable.ArrayBuffer.empty[Span]

  private def acc(name: String): Option[Acc] =
    Option(name).flatMap(n => open.synchronized(open.get(n)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      acc(Option(e.properties).map(_.getProperty(Prop)).orNull).foreach { a =>
        a.jobs += 1
        val name = e.properties.getProperty(Prop)
        stageSpan.synchronized(e.stageIds.foreach(stageSpan(_) = name))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc(stageSpan.synchronized(stageSpan.getOrElse(e.stageInfo.stageId, null)))
        .foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      acc(stageSpan.synchronized(stageSpan.getOrElse(e.stageId, null))).foreach { a =>
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskCpu += m.executorCpuTime / 1e9
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid)
        acc(current).foreach(_.rddBlockBytes += info.memSize + info.diskSize)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      acc(current).foreach { a =>
        a.planning += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
        val (hof, nonCg) = Tracer.planShape(qe.executedPlan)
        a.hofExprs += hof
        a.nonCodegen += nonCg
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    checkpointDir.mkdirs()
    System.setProperty(graft.Checkpoints.PlanDumpProp, checkpointDir.getPath)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    System.clearProperty(graft.Checkpoints.PlanDumpProp)
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  private def checkpointFiles: Long =
    Option(checkpointDir.list()).map(_.length.toLong).getOrElse(0L)

  /** Run `body` as span `name` of group `parent`; spans do not nest. */
  def span[A](name: String, parent: String)(body: => A): A = {
    val a = new Acc
    open.synchronized(open(name) = a)
    current = name
    sc.setLocalProperty(Prop, name)
    val ck0 = checkpointFiles
    val gc0 = gcSeconds
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(sc)
      a.wall = (e - s) / 1e9
      a.gc = gcSeconds - gc0
      a.eagerCheckpoints = checkpointFiles - ck0
      sc.setLocalProperty(Prop, null)
      current = null
      open.synchronized(open.remove(name))
      spans += Span(name, parent, (s - t0) / 1e9, (e - t0) / 1e9, a)
    }
  }
}

object Tracer {

  /** (interpreted higher-order-function expressions, operators that run
    * outside whole-stage codegen) in an executed physical plan, with
    * adaptive and query-stage wrappers unwrapped. Exchanges and the
    * codegen/stage wrappers themselves are not counted as operators. */
  def planShape(plan: SparkPlan): (Long, Long) = {
    var hof = 0L
    var nonCg = 0L
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, false)
      case w: WholeStageCodegenExec => walk(w.child, true)
      case i: InputAdapter => walk(i.child, false)
      case other =>
        hof += other.expressions.map(_.collect { case h: HigherOrderFunction => h }.size).sum
        other match {
          case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec => ()
          case _ => if (!inCodegen) nonCg += 1
        }
        other.subqueries.foreach(walk(_, false))
        other.children.foreach(walk(_, inCodegen))
    }
    walk(plan, false)
    (hof, nonCg)
  }
}
