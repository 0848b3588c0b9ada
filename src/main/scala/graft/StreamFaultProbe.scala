package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fault-probe STRUCTURED STREAMING state (the gap FAULT_r11/r13's
  * batch probes leave open): kill -9 an executor JVM mid-MICRO-BATCH —
  * taking its loaded state-store maps and shuffle files with it — and
  * separately stop a stream mid-flight and restart it from its
  * checkpoint, proving both recovered outputs are bit-identical to an
  * uninterrupted run.
  *
  * Two streaming shapes, each with REAL durable state under a real
  * checkpoint dir on `local-cluster[2,4,4096]` (two executor JVMs):
  *
  *   - `hops` (the q75/EP3 twin): file-source positions →
  *     flatMapGroupsWithState per-vehicle hop state → parquet FILE SINK.
  *     Recovery machinery probed: HDFSBackedStateStore reload on a
  *     replacement executor (kill) / from checkpoint deltas (restart),
  *     offset-log batch replay, and the file sink's _spark_metadata
  *     exactly-once commit view.
  *   - `cdc` (the q88 twin): change stream → foreachBatch ∘
  *     operators.Upsert snapshot (StreamingUpsert's ping-pong versions
  *     + durable _LIVE pointer). Recovery machinery probed: task retry
  *     inside a foreachBatch write job (kill) and replayed-batch
  *     idempotence across a restart (latest-wins re-merge of the same
  *     rows is the algebra's no-op — CorpusPropertiesSpec's upsert
  *     laws, exercised here across a process boundary).
  *
  * Per shape, three runs over the same zone: base (no fault), kill
  * (executor kill -9 once the stream is mid-flight; the standalone
  * worker relaunches a replacement), restart (stop mid-flight, start a
  * NEW query on the same checkpoint + sink). PASS = all three
  * fingerprints (SpillProbe's order-independent XOR-of-row-hashes)
  * identical, and each fault actually landed mid-flight (kill pid
  * recorded while the query was active; restart stopped while the
  * query was active) — a fault that missed its window makes the probe
  * REFUSE (exit nonzero) rather than record vacuous recovery evidence.
  *
  * Output: target/stream_fault_probe.json (FAULT_r{N} streaming
  * section). Env: SPARK_SCALA_VERSION=2.13, SPARK_HOME.
  */
object StreamFaultProbe {

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale_runs/k10_neardup")
    val faultAfterSec = args.lift(1).map(_.toDouble).getOrElse(12.0)
    require(new java.io.File(s"$dir/events.parquet").exists(),
      s"no scaled corpus at $dir")
    val work = new java.io.File("target/stream_fault").getAbsolutePath
    deleteRec(new java.io.File(work))

    // state-sized shuffle width (the StreamingOps rationale): every
    // stateful operator opens one store per shuffle partition per
    // micro-batch
    val spark = GraftSession.start(GraftSession.builder("local-cluster[2,4,4096]", 8))
    import spark.implicits._

    // ---- zones (written once; every run streams the same bytes).
    // Vehicle-partitioned + time-sorted like q75's zone (one file holds
    // a vehicle's whole history, so micro-batch boundaries can never
    // reorder it); 48/24 files at maxFilesPerTrigger=1 give the stream
    // a multi-minute life for faults to land inside.
    val hopsZone = s"$work/zone_hops"
    queries.OlhoVivo.posicoesFromEvents(spark, dir)
      .select(col("prefixo_veiculo"), col("event_id"), col("timestamp"),
        col("py"), col("px"))
      .repartition(48, col("prefixo_veiculo"))
      .sortWithinPartitions(col("prefixo_veiculo"), col("timestamp"))
      .write.mode("overwrite").json(hopsZone)
    val cdcZone = s"$work/zone_cdc"
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_type"), functions.Fx.fx(col("value"), 2).as("value"))
      .repartition(24).write.mode("overwrite").json(cdcZone)

    sealed trait Mode; case object Base extends Mode
    case object Kill extends Mode; case object Restart extends Mode

    /** Drive one streaming run to completion under `mode`; returns
      * (fingerprint, seconds, killedPid, faultMidFlight). `start` must
      * launch a fresh query on the given (ck, out) pair; `result` reads
      * the final output back. */
    def drive(label: String, runId: String, mode: Mode,
              start: (String, String) => org.apache.spark.sql.streaming.StreamingQuery,
              result: (String, String) => DataFrame): ((Long, Long), Double, Option[Int], Boolean) = {
      val ck = s"$work/${label}_${runId}_ck"
      val out = s"$work/${label}_${runId}_out"
      val t0 = System.nanoTime()
      val q = start(ck, out)
      var killed: Option[Int] = None
      var midFlight = mode == Base
      mode match {
        case Base => q.processAllAvailable()
        case Kill =>
          Thread.sleep((faultAfterSec * 1000).toLong)
          if (q.isActive) { killed = FaultProbe.killOne(); midFlight = killed.isDefined }
          q.processAllAvailable()
        case Restart =>
          Thread.sleep((faultAfterSec * 1000).toLong)
          midFlight = q.isActive
          q.stop() // abort mid-flight; offsets/commits stay on the ck dir
          val q2 = start(ck, out)
          q2.processAllAvailable()
          q2.stop()
      }
      if (q.isActive) q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val fp = SpillProbe.fingerprint(result(ck, out))
      spark.catalog.clearCache()
      (fp, secs, killed, midFlight)
    }

    def hopsStart(ck: String, out: String) = {
      val positions = spark.readStream
        .schema("prefixo_veiculo STRING, event_id LONG, timestamp LONG, py DOUBLE, px DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(hopsZone)
        .as[streaming.StreamingSpeeds.KeyedPosition]
      streaming.StreamingSpeeds.hopsStreamKeyed(positions)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()
    }
    def hopsResult(ck: String, out: String): DataFrame =
      spark.read.parquet(out) // reads through _spark_metadata: committed files only

    // cdc: the sink objects are per-run (fresh snapDir) but the _LIVE
    // pointer makes a RESTARTED run's new instance resume the
    // accumulated snapshot — the machinery under test
    def cdcStart(snapDir: String)(ck: String, out: String) = {
      val changes = spark.readStream
        .schema("event_id LONG, user_id LONG, ts_us LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(cdcZone)
      val sink = new streaming.StreamingUpsert(
        spark, snapDir, Seq("user_id"), Seq("ts_us", "event_id"))
      changes.writeStream
        .option("checkpointLocation", ck)
        .foreachBatch((batch: DataFrame, id: Long) => sink.mergeBatch(batch, id))
        .start()
    }
    def cdcResult(snapDir: String)(ck: String, out: String): DataFrame =
      new streaming.StreamingUpsert(spark, snapDir, Seq("user_id"), Seq("ts_us", "event_id"))
        .snapshot()
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"), col("value"))

    case class Row3(base: ((Long, Long), Double, Option[Int], Boolean),
                    kill: ((Long, Long), Double, Option[Int], Boolean),
                    restart: ((Long, Long), Double, Option[Int], Boolean))

    def probe(label: String,
              mkStart: String => (String, String) => org.apache.spark.sql.streaming.StreamingQuery,
              mkResult: String => (String, String) => DataFrame): Row3 = {
      def once(runId: String, mode: Mode) = {
        val snap = s"$work/${label}_${runId}_snap"
        new java.io.File(snap).mkdirs()
        val r = drive(label, runId, mode, mkStart(snap), mkResult(snap))
        println(f"STREAMFAULT $label%-5s $runId%-8s fp=${r._1} ${r._2}%6.1f s " +
          f"killed=${r._3} mid_flight=${r._4}")
        r
      }
      Row3(once("base", Base), once("kill", Kill), once("restart", Restart))
    }

    val rows = Seq(
      "hops" -> probe("hops", _ => hopsStart, _ => hopsResult),
      "cdc"  -> probe("cdc", snap => cdcStart(snap), snap => cdcResult(snap)))

    def j(r: ((Long, Long), Double, Option[Int], Boolean)) =
      s"""{"fp":"${r._1._1}:${r._1._2}","sec":${f"${r._2}%.1f"},""" +
        s""""killed_pid":${r._3.getOrElse(-1)},"fault_mid_flight":${r._4}}"""
    val allMatch = rows.forall { case (_, r) =>
      r.base._1 == r.kill._1 && r.base._1 == r.restart._1 }
    val allMidFlight = rows.forall { case (_, r) => r.kill._4 && r.restart._4 }
    val json = rows.map { case (n, r) =>
      s""""$n":{"base":${j(r.base)},"executor_kill":${j(r.kill)},""" +
        s""""stop_restart":${j(r.restart)},"match":${r.base._1 == r.kill._1 && r.base._1 == r.restart._1}}"""
    }.mkString(
      s"""{"metric":"stream_fault_probe","dir":"$dir","fault_after_sec":$faultAfterSec,""" +
        s""""all_match":$allMatch,"all_faults_mid_flight":$allMidFlight,""",
      ",", "}")
    val w = new java.io.PrintWriter(new java.io.File("target/stream_fault_probe.json"))
    try w.println(json) finally w.close()
    println(json)
    spark.stop()
    require(allMidFlight,
      "a fault missed its mid-flight window (stream finished first) — " +
        "probe inconclusive; rerun with a shorter fault_after_sec")
    require(allMatch,
      "streaming state recovery must be bit-identical across base/kill/restart")
  }
}
