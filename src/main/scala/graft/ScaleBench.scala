package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only harness (NOT part of the driver contract): time the
  * slowest GATE queries themselves at k× sf0.1, with the operating
  * envelope's partition-scaling rule applied (README "Operating
  * envelope" #1: shuffle partitions ∝ corpus factor,
  * `max(32, 32·k/10)`). It validates the rule on the gate queries as
  * deployed (the committed SCALE*.json files) — the evidence that the
  * published per-query numbers extrapolate ~linearly for the
  * non-iterative entries.
  *
  * The k× corpus is synthesized as id-offset shards (graft.Sharding's
  * scaffold): documents get a per-shard text marker (near- not
  * byte-dups), lineitem offsets both join keys (k isolated
  * co-occurrence components), events offsets event/user ids (k× users,
  * sessions scale linearly), embeddings get a per-shard ±1e-4 coordinate
  * nudge (cross-shard cosine ≈ 1 — the ANN stress shape). Dimension
  * tables the probed queries never read are copied 1×.
  *
  * Usage: runMain graft.ScaleBench [k] [comma-separated query names]
  * Writes target/scale_bench.json and prints one line per query.
  */
object ScaleBench {

  /** The 10 slowest entries of BENCH_r07 at sf0.1. */
  private val DefaultNames = Seq(
    "q110_pagerank", "q59_dedup_survivors", "q47_dedup_clusters",
    "q94_streaming_join", "q98_fluency", "q120_pmi", "q107_span_dedup",
    "q116_pareto_frontier", "q89_streaming_sessions", "q43_jaccard_join")

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    // name args resolve by substring against the gate inventory (same
    // dev convenience as Verify's third arg)
    val names = if (args.length > 1)
      args(1).split(',').toSeq.flatMap(frag =>
        SparkEntry.queries.keys.filter(_.contains(frag)).toSeq.sorted)
    else DefaultNames
    val sf = "/root/testdata/sf0.1"
    // SPARK_GRAFT_MASTER=local-cluster[…] runs the SCALE sweep across
    // real executor JVMs — the scale × multi-JVM intersection (netty
    // shuffle carrying scale-sized candidate-pair/iterative workloads)
    // that neither MULTIJVM (gate-scale) nor the local[n] sweeps
    // exercise alone
    val spark = GraftSession.start(GraftSession.builder(shufflePartitions = 32))

    // ---- synthesize the k× dir (graft.Sharding — the one scaffold all
    // scale harnesses share, keeping their published numbers comparable)
    // docs growth law: "neardup" (default — every base doc's k copies
    // pair up, ~k² candidate pairs, the adversarial stress shape) or
    // "distinct" (shard-salted tokens: constant duplication RATE, the
    // realistic law — candidate pairs grow ~k) or "distinctchars"
    // (per-shard Caesar rotation: the realistic law for CHARACTER-level
    // operators — token salting floods winnow grams and inflates text
    // ~60%, see Sharding.documentsDistinctChars). Mode is recorded in
    // the output JSON.
    val docsMode = sys.env.getOrElse("SPARK_GRAFT_DOCS_MODE", "neardup")
    // SPARK_GRAFT_SCALED_DIR names a PERSISTENT k× dir shared across
    // harness invocations (the synthesis is ~10 min at 100×): if it
    // already holds documents.parquet it is reused as-is, otherwise the
    // synthesis writes INTO it and leaves it behind for the next run.
    // The caller owns mode/k consistency with the dir's contents.
    // Unset → a temp dir, deleted at JVM exit (the one-shot behavior).
    val scaled = sys.env.get("SPARK_GRAFT_SCALED_DIR")
      .getOrElse(TempArtifacts.dir(s"graft_scale${k}x_$docsMode"))
    val reuse = new java.io.File(s"$scaled/documents.parquet").exists()
    def write(df: DataFrame, table: String): Unit =
      if (!reuse) df.write.mode("overwrite").parquet(s"$scaled/$table.parquet")

    val shardDocs: (DataFrame, Int) => DataFrame = docsMode match {
      case "distinct"      => Sharding.documentsDistinct
      case "distinctchars" => Sharding.documentsDistinctChars
      case _               => Sharding.documents
    }
    write(shardDocs(
      spark.read.parquet(s"$sf/documents.parquet"), k), "documents")
    write(Sharding.lineitem(
      spark.read.parquet(s"$sf/lineitem.parquet"), k), "lineitem")
    write(Sharding.events(
      spark.read.parquet(s"$sf/events.parquet"), k), "events")
    // embeddings shard with ±s·1e-4 coordinate perturbation (cosine ≈ 1
    // across shards): the ANN/IVF/semantic-dedup entries see a k× corpus
    // whose near-dup structure stresses bucketed paths, not a 1× copy
    write(Sharding.embeddings(
      spark.read.parquet(s"$sf/embeddings.parquet"), k), "embeddings")

    // 1× passthrough for everything else the entries might touch
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders")) {
      write(spark.read.parquet(s"$sf/$t.parquet"), t)
    }

    // ---- timing (Bench's discipline: noop sink = full materialization,
    // cache/checkpoint hygiene between runs, min of 2)
    def timeOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"SCALEBENCH FAIL $name: $e"); -1.0
      } finally {
        spark.catalog.clearCache()
        Checkpoints.releaseAll(spark)
      }
    }
    def best(name: String, dir: String, attempts: Int = 2): Double = {
      val ts = (1 to attempts).map(_ => timeOnce(name, dir)).filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.min
    }
    // k×-pass attempts: min-of-2 matches Bench's discipline and is the
    // default; at very large k a single attempt runs tens of minutes —
    // far longer than any observed shared-VM interference window — so
    // SPARK_GRAFT_KX_ATTEMPTS=1 trades the (tiny) noise insurance for
    // half the wall clock. The 1× baselines always stay min-of-2.
    val kxAttempts = sys.env.getOrElse("SPARK_GRAFT_KX_ATTEMPTS", "2").toInt

    // warm-up at the smallest SF (JIT + codegen, Bench's discipline)
    names.foreach { n =>
      try { SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        System.err.println(s"warmup $n failed: ${e.getMessage}") }
      spark.catalog.clearCache(); Checkpoints.releaseAll(spark)
    }

    // Artifact-cached entries (stored IVF index, bucketed layout, BPE
    // rules) build on the FIRST construction per dir; pre-building here
    // keeps the one-time cost out of the timed attempts (Bench's
    // discipline) while still REPORTING the k×-dir build time — at scale
    // the index build is itself a measured quantity, not noise.
    val parts = math.max(32, 32 * k / 10)
    val buildTimes: Map[String, Double] =
      names.filter(SparkEntry.artifactEntries.contains).map { n =>
        // A failed build must not masquerade as a valid build time: the
        // first timed attempt would silently pay the (re)build cost and
        // corrupt both build_x{k} and the ratio. Report -1 instead.
        def buildOnce(dir: String): Double = {
          val t0 = System.nanoTime()
          try { SparkEntry.queries(n)(spark, dir); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"artifact warm $n FAILED: ${e.getMessage}")
            -1.0 }
        }
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        buildOnce(sf)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val bk = buildOnce(scaled)
        println(f"SCALEBENCH-ARTIFACT $n%-24s ${k}x build $bk%7.2fs")
        (n, bk)
      }.toMap

    val results = names.map { name =>
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val t1 = best(name, sf)
      // A failed k×-dir artifact build poisons the timed pass too: the
      // first attempt would silently pay the rebuild and the "clean"
      // timing would include it. Skip timing and mark the entry invalid.
      val warmFailed = buildTimes.get(name).exists(_ < 0)
      // the envelope rule, applied for the k× pass
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val tk = if (warmFailed) -1.0 else best(name, scaled, kxAttempts)
      val ratio = if (t1 > 0 && tk > 0) tk / t1 else -1.0
      println(f"SCALEBENCH $name%-24s 1x $t1%7.2fs  ${k}x $tk%7.2fs  ratio ${ratio}%6.2f")
      (name, t1, tk, ratio)
    }

    def fmt(d: Double) = f"$d%.3f"
    val json = results.map { case (n, t1, tk, r) =>
      val build = buildTimes.get(n).map(b => s""","build_x$k":${fmt(b)}""").getOrElse("")
      s""""$n":{"x1":${fmt(t1)},"x$k":${fmt(tk)},"ratio":${fmt(r)}$build}"""
    }.mkString(s"""{"k":$k,"docs_mode":"$docsMode","parts_rule":"max(32, 32*k/10)","queries":{""", ",", "}}")
    val out = new java.io.PrintWriter(new java.io.File("target/scale_bench.json"))
    try out.println(json) finally out.close()
    println(json)
    spark.stop()
  }
}
