package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ACTUAL daily workload at its ACTUAL deployed volume —
  * run end-to-end as one job (round-11 verdict item #1).
  *
  * Every gate entry runs on star-schema testdata; this harness instead
  * synthesizes the workload the reference was built for (SURVEY §6
  * sizing: SPTrans ≈ 14k vehicles, one poll per minute, ≈ 1440 snapshot
  * files / ~2×10⁷ position rows per day), lands it in the reference's
  * exact raw-zone shape (one JSON document per poll under
  * `posicoes/year=/month=/day=/hour=/` — get-bus-data.py:65), then runs
  *
  *   EP2 (IngestPositions: flatten day → positions parquet) and
  *   EP3 (AverageSpeeds: speeds/slow/accessibility CSVs)
  *
  * timing each against the reference's implicit < 30-min-per-stage
  * budget (README.md:13,22 — EventBridge fires EP2 at 6:00 and EP3 at
  * 6:30). Optionally (`--streaming`) also drives the Structured
  * Streaming EP3 twin over the same landing zone (file-source
  * incremental discovery) and asserts batch ≡ stream hop equality at
  * full-day volume. Output: one JSON line (wall-times + row counts) for
  * DAYSCALE_r{N}.json; correctness of the batch outputs is checked
  * against a DuckDB replay by tools/dayscale_check.py.
  *
  * The synthetic fleet is DETERMINISTIC (xxhash64-derived, no RNG
  * state) and exercises every cleaning rule with realistic rates:
  * 30-min absence blocks (stale gaps > 600 s → P2), ~0.1% GPS teleports
  * (~185 m/s hops → P3), rush-hour crawl windows for 1-in-17 vehicles
  * (< 1.4 m/s → P4 slow points), a 1-in-101 null-accessibility slice
  * (null group keys through A1), and per-vehicle second offsets (no
  * timestamp ties → the trap-② lag ambiguity cannot occur, so the
  * DuckDB replay is exact).
  */
object DayScale {

  private val date = LocalDate.of(2026, 8, 10)
  private val dayStart = date.toEpochDay * 86400L

  /** One day of per-(vehicle, minute) observations, distributed.
    * Columns carry both the wire fields (p/a/ta/py/px + line c/cl/sl/
    * lt0/lt1) and the snapshot key (m, hour). */
  def observations(spark: SparkSession, nVehicles: Int, nMinutes: Int): DataFrame = {
    val nLines = math.max(1, nVehicles / 70)
    val vehicles = spark.range(nVehicles).select(
      col("id").as("v"),
      (col("id") % nLines).as("line"))
    val minutes = spark.range(nMinutes).select(col("id").as("m"))
    val rows = vehicles.crossJoin(broadcast(minutes))
      // 30-min absence blocks: vehicle v sits out block b when
      // h(v, b) % 11 == 0 (~9% of blocks) → reappearance gaps ≈ 1860 s
      // exercise P2's stale-gap drop at scale
      .filter(pmod(xxhash64(col("v"), floor(col("m") / 30), lit(1L)), lit(11)) =!= 0)
      // plus scattered single-minute dropouts (~4%) → tempo = 120 hops
      // that P2 must KEEP (600-boundary semantics)
      .filter(pmod(xxhash64(col("v"), col("m"), lit(7L)), lit(23)) =!= 0)
    // circular routes: vehicle v loops a ~13.9 km circuit in
    // T(v) = 30 + v % 60 minutes (≈ 2.6–7.7 m/s); 1-in-17 vehicles
    // crawl at 10% speed during 07:00–09:00 (m ∈ [420, 540)) —
    // cumulative progress, so the crawl produces < 1.4 m/s hops
    // without a teleport at the window edges
    val period = lit(30.0) + (col("v") % 60).cast("double")
    val slowV = col("v") % 17 === 0
    val effM = when(slowV,
        least(col("m"), lit(420)).cast("double")
          + greatest(col("m") - 540, lit(0)).cast("double")
          + lit(0.1) * greatest(least(col("m"), lit(540)) - 420, lit(0)).cast("double"))
      .otherwise(col("m").cast("double"))
    val theta = (lit(2 * math.Pi) * effM / period) +
      (lit(2 * math.Pi) * (col("v") % 360).cast("double") / lit(360.0))
    val lat0 = lit(-23.55) + (col("line") % 40).cast("double") * 0.005
    val lon0 = lit(-46.63) + floor(col("line") / 40).cast("double") * 0.005
    // ~0.1% GPS teleports: +0.1° latitude (~11 km) for one fix → the
    // hop in and the hop out both exceed 33 m/s → P3 drops them
    val glitch = when(
      pmod(xxhash64(col("v"), col("m"), lit(13L)), lit(997)) === 0, lit(0.1))
      .otherwise(lit(0.0))
    val ts = lit(dayStart) + col("m") * 60 + pmod(col("v"), lit(50))
    rows.select(
      col("v"), col("m"), col("line"),
      floor(col("m") / 60).cast("int").as("hour"),
      concat(lit("L"), col("line").cast("string")).as("c"),
      col("line").cast("int").as("cl"),
      (col("v") % 2 + 1).cast("int").as("sl"),
      concat(lit("T"), col("line").cast("string"), lit("-A")).as("lt0"),
      concat(lit("T"), col("line").cast("string"), lit("-B")).as("lt1"),
      col("v").cast("string").as("p"),
      when(col("v") % 101 === 0, lit(null).cast("boolean"))
        .otherwise(col("v") % 3 === 0).as("a"),
      date_format(timestamp_seconds(ts), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ta"),
      (lat0 + lit(0.02) * sin(theta) + glitch).as("py"),
      (lon0 + lit(0.025) * cos(theta)).as("px"))
  }

  /** Land one snapshot document per poll minute at the reference's
    * exact key scheme. The JSON assembly is two grouped collect_lists
    * (vehicles→line, lines→snapshot) and the write is a distributed
    * foreachPartition over 1440 one-document rows — each executor task
    * writes its snapshots straight to the zone via Hadoop FS, the same
    * seam OlhoVivoClient lands real polls through. */
  def synthesizeRawZone(spark: SparkSession, rawBase: String,
                        nVehicles: Int, nMinutes: Int,
                        shardsPerPoll: Int = 1, gzip: Boolean = false,
                        minuteRange: Option[(Int, Int)] = None): Long = {
    val all = observations(spark, nVehicles, nMinutes)
    // --synth-chunks: a minute-range slice bounds the collect_list
    // shuffles of ONE synthesis pass (at 100× the full day's doc
    // assembly would move ~200 GB through two exchanges; six 4-hour
    // chunks keep each pass inside the node's scratch)
    val obs = minuteRange match {
      case Some((lo, hi)) => all.filter(col("m") >= lo && col("m") < hi)
      case None           => all
    }
    val expected = obs.count()
    val byLine = obs
      .groupBy(col("m"), col("hour"), col("cl"))
      .agg(
        first(col("c")).as("c"), first(col("sl")).as("sl"),
        first(col("lt0")).as("lt0"), first(col("lt1")).as("lt1"),
        collect_list(struct(col("p"), col("a"), col("ta"), col("py"), col("px"))).as("vs"))
    // shardsPerPoll > 1 = the per-REGION poller shape (the Olho Vivo API
    // accepts line/region-scoped position queries, so a fleet-scale
    // deployment polls K region slices instead of one city-wide GET):
    // each poll minute lands K documents, each holding a disjoint slice
    // of lines. Document size is then bounded by fleet/K — the landing
    // zone stays splittable-by-file however large the fleet grows —
    // and EP2 reads the sharded zone unchanged (schema is per-document).
    val docs = byLine
      .groupBy(col("m"), col("hour"), pmod(col("cl"), lit(shardsPerPoll)).as("shard"))
      .agg(collect_list(
        struct(col("c"), col("cl"), col("sl"), col("lt0"), col("lt1"), col("vs"))).as("l"))
      .select(col("m"), col("hour"), col("shard"),
        to_json(struct(
          date_format(timestamp_seconds(lit(dayStart) + col("m") * 60), "HH:mm").as("hr"),
          col("l"))).as("doc"))
    val y = date.getYear; val mo = date.getMonthValue; val d = date.getDayOfMonth
    docs.repartition(64).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.foreach { row =>
          val m = row.getLong(0); val hour = row.getAs[Number](1).longValue
          val shard = row.getAs[Number](2).longValue
          val iso = f"${y}%04d-${mo}%02d-${d}%02dT${hour}%02d-${m % 60}%02d-00"
          val ext = if (gzip) "json.gz" else "json"
          val path = new org.apache.hadoop.fs.Path(
            f"$rawBase/year=$y%04d/month=$mo%02d/day=$d%02d/hour=$hour%02d/data_${iso}_r$shard%03d.$ext")
          val fs = path.getFileSystem(conf)
          val raw = fs.create(path, true)
          val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
          try out.write(row.getString(3).getBytes("UTF-8")) finally out.close()
          // File-arrival order IS part of the workload being mirrored:
          // real polls land one per minute, so Structured Streaming's
          // mod-time-ordered discovery replays them chronologically.
          // Bulk-synthesizing 1440 files in seconds scrambles that
          // order (measured: 25M scrambled hops at full day) — pin each
          // file's mtime to its poll minute to restore the real
          // arrival process.
          fs.setTimes(path, (dayStart + m * 60) * 1000L, -1L)
        }
    }
    expected
  }

  /** Streaming EP3 twin over the same landing zone: file-source
    * incremental discovery → flatMapGroupsWithState hops → parquet
    * sink. Returns (streamed hop rows, mismatched rows vs the batch
    * hop set) — equality is on the full hop fact (vehicle, ts, tempo,
    * distancia, velocidade) via anti-joins in both directions. */
  def streamingTwin(spark: SparkSession, rawBase: String, workDir: String,
                    batchHops: DataFrame): (Long, Long) = {
    val sinkDir = s"$workDir/stream_hops"
    val ckDir = s"$workDir/stream_ck"
    // a rerun must not resume a stale checkpoint or append to old output
    Seq(sinkDir, ckDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    val positions = graft.streaming.StreamingSpeeds
      .positionsFromRawZone(spark, rawBase, maxFilesPerTrigger = 200)
    val q = graft.streaming.StreamingSpeeds.hopsStream(positions)
      .writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(sinkDir)
      .select(col("prefixo_veiculo"), col("timestamp"), col("tempo"),
        col("distancia"), col("velocidade_media"))
    val batch = batchHops
      .select(col("prefixo_veiculo"), col("timestamp"), col("tempo"),
        col("distancia"), col("velocidade_media"))
    val missing = batch.join(streamed, batch.columns.toSeq, "left_anti").count()
    val extra = streamed.join(batch, batch.columns.toSeq, "left_anti").count()
    (streamed.count(), missing + extra)
  }

  /** Direct positions synthesis (the 100× path): observations → the
    * posicoes schema WITHOUT the raw-zone JSON detour. At a 100× fleet
    * the raw zone is ~200 GB of JSON whose only purpose would be to be
    * flattened right back — the EP2 parse is measured separately at 1×
    * and 10×; the 100× question is EP3's window-sort + aggregate at
    * 1.75B rows, which starts from this parquet. */
  def synthesizePositions(spark: SparkSession, posPath: String,
                          nVehicles: Int, nMinutes: Int): Unit = {
    val obs = observations(spark, nVehicles, nMinutes)
    val ts = lit(dayStart) + col("m") * 60 + pmod(col("v"), lit(50))
    graft.sources.IO.writePartitionedParquet(
      obs.select(
        col("c").as("letreiro"), col("cl").as("codigo_linha"),
        col("sl").as("sentido_linha"), col("lt0").as("destino_linha"),
        col("lt1").as("origem_linha"), col("p").as("prefixo_veiculo"),
        col("a").as("acessibilidade"), ts.as("timestamp"),
        col("py"), col("px"))
        .withColumn("data", to_date(timestamp_seconds(col("timestamp")))),
      posPath, Seq("data"))
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("target/dayscale")
    val nVehicles = args.lift(1).map(_.toInt).getOrElse(14000)
    val nMinutes = args.lift(2).map(_.toInt).getOrElse(1440)
    val withStreaming = args.contains("--streaming")
    // --positions-direct: skip raw zone + EP2 (see synthesizePositions);
    // --shards=N: per-region poll files in the synthesized zone
    val positionsDirect = args.contains("--positions-direct")
    val shardsPerPoll = args.find(_.startsWith("--shards="))
      .map(_.stripPrefix("--shards=").toInt).getOrElse(1)
    // --gzip: land .json.gz poll documents (the 100× zone is ~200 GB of
    // JSON — gzip keeps it on this node's disk; EP2 reads it unchanged,
    // codecs are transparent to both decode paths); --synth-chunks=K:
    // synthesize the zone in K minute-range passes (bounds each pass's
    // doc-assembly shuffle); --ep2-only: stop after EP2 + row-count
    // verification (the 100× EP2 measurement — EP3 at that scale is the
    // separate vehicle-pass run)
    val gzipZone = args.contains("--gzip")
    val synthChunks = args.find(_.startsWith("--synth-chunks="))
      .map(_.stripPrefix("--synth-chunks=").toInt).getOrElse(1)
    val ep2Only = args.contains("--ep2-only")
    // SPARK_GRAFT_MASTER=local-cluster[…] runs the day across real
    // executor JVMs — at 100× that is the spill posture (the window
    // sort's working set >> executor memory, so EP3 runs the
    // degrade-to-disk path a production day lives on)
    val spark = GraftSession.start(GraftSession.builder())
    val master = spark.sparkContext.master
    // task-level spill accounting (reported per stage in the JSON — the
    // 100× evidence that EP3 spilled rather than fit)
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    val rawBase = new java.io.File(s"$base/raw/posicoes").getAbsolutePath
    val posPath = new java.io.File(s"$base/posicoes").getAbsolutePath
    val outBase = new java.io.File(s"$base/out").getAbsolutePath

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // stage 0/1: synthesize (resumable — the workload is deterministic)
    // + EP2, or the direct positions write at --positions-direct
    val (posRows, tSynth, tEp2) = if (positionsDirect) {
      val marker = new java.io.File(s"$base/_POS_OK")
      val (n, t) =
        if (marker.exists()) {
          val src = scala.io.Source.fromFile(marker)
          try (src.mkString.trim.toLong, 0.0) finally src.close()
        } else {
          val r = timed {
            synthesizePositions(spark, posPath, nVehicles, nMinutes)
            spark.read.parquet(posPath).count()
          }
          val w = new java.io.PrintWriter(marker)
          try w.println(r._1) finally w.close()
          r
        }
      println(s"DAYSCALE synth(direct): $n positions, ${t.round} s")
      (n, t, 0.0)
    } else {
      val marker = new java.io.File(s"$base/raw/_SYNTH_OK")
      val (expected, t) =
        if (marker.exists()) {
          val src = scala.io.Source.fromFile(marker)
          try (src.mkString.trim.toLong, 0.0) finally src.close()
        } else {
          val r = timed {
            (0 until synthChunks).map { c =>
              val range =
                if (synthChunks == 1) None
                else Some((c * nMinutes / synthChunks,
                  (c + 1) * nMinutes / synthChunks))
              val n = synthesizeRawZone(spark, rawBase, nVehicles,
                nMinutes, shardsPerPoll, gzipZone, range)
              if (synthChunks > 1)
                println(s"DAYSCALE synth chunk $c/$synthChunks: $n observations")
              n
            }.sum
          }
          val w = new java.io.PrintWriter(marker)
          try w.println(r._1) finally w.close()
          r
        }
      println(s"DAYSCALE synth: $expected observations, ${t.round} s")

      // stage 1: EP2 — raw day → positions parquet (the 6:00 AM job)
      val (_, tE) = timed {
        graft.olhovivo.IngestPositions.run(spark, rawBase, posPath)
      }
      val n = spark.read.parquet(posPath).count()
      require(n == expected, s"EP2 flattened $n rows, expected $expected")
      println(s"DAYSCALE EP2: $n rows, ${tE.round} s")
      (n, t, tE)
    }

    if (ep2Only) {
      println(
        f"""{"metric":"dayscale_ep2","vehicles":$nVehicles,"snapshots":$nMinutes,""" +
        f""""positions":$posRows,"synth_sec":$tSynth%.1f,"ep2_sec":$tEp2%.1f,""" +
        f""""shards_per_poll":$shardsPerPoll,"gzip":$gzipZone,""" +
        f""""synth_chunks":$synthChunks,"master":"$master","budget_sec":1800}""")
      require(tEp2 < 1800.0, f"EP2 busted the 30-min budget: $tEp2%.0f s")
      spark.stop()
      return
    }

    // stage 2: EP3 — positions day → three CSVs (the 6:30 AM job).
    // --vehicle-passes=K runs the day as K vehicle-closed shards (see
    // AverageSpeeds.run dayFilter) — outputs land in $outBase-passR and
    // union to the exact single-pass result; used at 100× where one
    // pass's shuffle+spill exceeds the sandbox's free scratch disk.
    // --vehicle-passes=auto (round-14): choose K from input stats vs
    // free scratch (Sharding.chooseVehiclePasses) instead of a human.
    val vehiclePassArg = args.find(_.startsWith("--vehicle-passes="))
      .map(_.stripPrefix("--vehicle-passes="))
    val (vehiclePasses, passChoice) = vehiclePassArg match {
      case Some("auto") =>
        val c = Sharding.chooseVehiclePasses(spark, posPath)
        println(s"DAYSCALE vehicle-passes auto: $c")
        (c.passes, s""","vehicle_passes_auto":${c.json}""")
      case Some(k) => (k.toInt, "")
      case None    => (1, "")
    }
    if (vehiclePasses > 1) {
      // The pass filter shards on CAST(prefixo AS LONG) % K: a null or
      // non-numeric prefixo casts to null and would silently vanish
      // from EVERY pass, breaking the union-equals-single-pass claim
      // (ADVICE r13 #1). Assert the invariant instead of assuming it.
      val uncastable = spark.read.parquet(posPath)
        .filter(col("data") === lit(date.toString).cast("date"))
        .filter(col("prefixo_veiculo").cast("long").isNull).count()
      require(uncastable == 0L,
        s"vehicle-pass sharding unsound: $uncastable rows have a " +
          "null/non-numeric prefixo_veiculo and would be dropped from every pass")
    }
    val ep3Mem0 = memSpilled.get(); val ep3Dsk0 = diskSpilled.get()
    val (counts, tEp3) =
      if (vehiclePasses == 1) timed {
        graft.olhovivo.AverageSpeeds.run(spark, posPath, date, outBase)
      } else timed {
        (0 until vehiclePasses).map { r =>
          val c = graft.olhovivo.AverageSpeeds.run(
            spark, posPath, date, s"$outBase-pass$r",
            dayFilter = Some(
              pmod(col("prefixo_veiculo").cast("long"), lit(vehiclePasses)) === r))
          println(s"DAYSCALE EP3 pass $r/$vehiclePasses: $c")
          c
        }.reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
      }
    // listener-bus drain before snapshotting (ADVICE r13 #2)
    val ep3SpillMb =
      (SpillProbe.settle(memSpilled.get() + diskSpilled.get())
        - ep3Mem0 - ep3Dsk0) >> 20
    println(s"DAYSCALE EP3: $counts, ${tEp3.round} s, spilled $ep3SpillMb MB" +
      (if (vehiclePasses > 1) s" ($vehiclePasses vehicle-closed passes)" else ""))

    val budget = 1800.0
    require(tEp2 < budget, f"EP2 busted the 30-min budget: $tEp2%.0f s")
    require(tEp3 < budget, f"EP3 busted the 30-min budget: $tEp3%.0f s")

    // stage 2b: STRICT-REFERENCE EP3 — the literally-deployed semantics
    // (SpeedConf.strict: the L1 1000-row ordered truncate
    // "TEMPORARIO" that is the reference's real daily behavior, pandas
    // inf/NaN division, trap-⑥ null-key group drops) at full day
    // volume. The truncate is the scale-interesting part:
    // TakeOrderedAndProject runs per-partition top-n over 17.5M rows
    // with a single 1000-row driver merge — no global sort.
    // tools/dayscale_check.py replays it in DuckDB (strict section).
    val (strictCounts, tStrict) = timed {
      graft.olhovivo.AverageSpeeds.run(spark, posPath, date, s"$outBase-strict",
        graft.olhovivo.SpeedPipeline.SpeedConf.strict)
    }
    println(s"DAYSCALE EP3-strict: $strictCounts, ${tStrict.round} s")

    // stage 3 (optional): streaming EP3 twin + batch ≡ stream equality
    val streamPart = if (withStreaming) {
      val day = spark.read.parquet(posPath)
        .filter(col("data") === lit(date.toString).cast("date")).drop("data")
      val batchHops = graft.olhovivo.SpeedPipeline.hops(
        day, graft.olhovivo.SpeedPipeline.SpeedConf())
      val ((streamed, mismatches), tStream) =
        timed(streamingTwin(spark, rawBase, base, batchHops))
      require(mismatches == 0L,
        s"batch/stream hop mismatch at day scale: $mismatches rows differ")
      println(s"DAYSCALE streaming: $streamed hops ≡ batch, ${tStream.round} s")
      f""","streaming":{"hops":$streamed,"mismatches":$mismatches,"sec":$tStream%.1f}"""
    } else ""

    def cjson(m: Map[String, Long]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(
      f"""{"metric":"dayscale","vehicles":$nVehicles,"snapshots":$nMinutes,""" +
      f""""positions":$posRows,"synth_sec":$tSynth%.1f,"ep2_sec":$tEp2%.1f,""" +
      f""""ep3_sec":$tEp3%.1f,"ep3_spilled_mb":$ep3SpillMb,"master":"$master",""" +
      f""""vehicle_passes":$vehiclePasses$passChoice,""" +
      f""""budget_sec":1800,"counts":${cjson(counts)},""" +
      f""""strict_sec":$tStrict%.1f,"strict_counts":${cjson(strictCounts)}$streamPart}""")
    spark.stop()
  }
}
