package graft

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** The ONE k×-corpus synthesis scaffold shared by every scale harness
  * (ScaleBench, AdaptiveGate): id-offset shards with a deterministic
  * per-shard perturbation so cross-shard rows are near- not byte-dups.
  * Shared on purpose — the published numbers (the committed SCALE*.json
  * files) are only comparable if they scale the SAME synthetic corpus;
  * a scaffold tweak here reaches every harness. */
object Sharding {

  /** k shards of `base`: shard s offsets `idCol` by `s × span` and
    * applies `perturb(s)` to the listed columns (all other columns
    * pass through unchanged). */
  def sharded(base: DataFrame, idCol: String, k: Int, span: Long)
             (perturb: Int => Seq[(String, Column)]): DataFrame =
    (0 until k).map { s =>
      perturb(s).foldLeft(
        base.withColumn(idCol, col(idCol) + lit(s * span))) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
    }.reduce(_ unionByName _)

  /** Documents: doc_id offset by corpus size, per-shard text marker
    * (near-dup copies — the dedup chains' stress shape). */
  def documents(docs: DataFrame, k: Int): DataFrame =
    sharded(docs, "doc_id", k, docs.count())(s => Seq(
      "text" -> concat(col("text"), lit(s" shard$s marker$s"))))

  /** Documents, DISTINCT mode: every token is shard-salted (injective
    * per-token rewrite, so the shingle-equality structure WITHIN a shard
    * is exactly the base corpus's), which zeroes cross-shard word-n-gram
    * overlap. This is the realistic corpus growth law — duplication rate
    * held constant as the corpus grows (each shard contributes only the
    * base corpus's own near-dup structure) — against which the dedup
    * chain should scale ~linearly; `documents` above is the adversarial
    * stress shape where every base doc's k copies all pair up (~k²
    * candidate pairs). Scale harnesses publish both. */
  def documentsDistinct(docs: DataFrame, k: Int): DataFrame =
    sharded(docs, "doc_id", k, docs.count())(s => Seq(
      "text" -> array_join(
        transform(split(col("text"), "\\s+"),
          w => concat(lit(s"s${s}_"), w)), " ")))

  /** Documents, DISTINCT mode via a per-shard CHARACTER permutation
    * (shard s applies a seeded Fisher–Yates permutation of each class
    * a–z, A–Z, 0–9 — NOT a Caesar rotation, which has only 26 members
    * and leaks letter-identical shards at s and s+26; shard 0 is the
    * identity). Injective on code points, so EVERY within-shard
    * equality structure — character k-grams, tokens, shingles — is
    * exactly the base corpus's, while cross-shard overlap collapses to
    * coincidence level.
    *
    * Why this exists alongside [[documentsDistinct]]: token-salting
    * (`s0_` prefixes) preserves token-level structure but DISTORTS
    * character-level statistics — measured at 2× (COVERAGE.md r10 #5):
    * the winnow 16-gram vocabulary collapses ×0.2 (salt floods the grams)
    * and text length grows ~60% (3 salt chars per token), so span-dedup
    * inputs grow super-linearly under that scaffold — an artifact, not
    * an operator property. Character rotation preserves lengths and
    * gram entropy, giving character-level operators (SpanDedup, q107/
    * q121/q122) their honest constant-duplication-rate growth law.
    * Token-level harness numbers published on `documentsDistinct`
    * remain comparable across rounds; new character-level measurements
    * should use this mode. */
  def documentsDistinctChars(docs: DataFrame, k: Int): DataFrame = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    // per-shard seeded Fisher-Yates permutation of each character
    // class, not a rotation: a Caesar shift has only 26 distinct
    // members, so shards s and s+26 would be letter-identical -
    // measured at 100x as hash_voc x26 with x79 cross-shard span
    // sharing (partial neardup leakage). java.util.Random's LCG is
    // spec-pinned, so the permutation is stable across runs and JVMs.
    // Shard 0 stays the identity (the base corpus).
    def perm(a: String, s: Int): String =
      if (s == 0) a
      else {
        val arr = a.toCharArray
        val rnd = new java.util.Random(s.toLong * 0x9E3779B9L + a.length)
        var i = arr.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        new String(arr)
      }
    sharded(docs, "doc_id", k, docs.count())(s => Seq(
      "text" -> translate(col("text"), lower + upper + digits,
        perm(lower, s) + perm(upper, s) + perm(digits, s))))
  }

  /** A self-sized vehicle-closed pass count (round-14: the operator a
    * real cluster needs — DAYSCALE_r13's `--vehicle-passes=3` was a
    * human decision; this makes it code). */
  case class PassChoice(passes: Int, inputBytes: Long, estPeakBytes: Long,
                        freeScratchBytes: Long, budgetBytes: Long,
                        scratchDir: String) {
    def json: String =
      s"""{"passes":$passes,"input_mb":${inputBytes >> 20},""" +
        s""""est_peak_scratch_mb":${estPeakBytes >> 20},""" +
        s""""free_scratch_mb":${freeScratchBytes >> 20},""" +
        s""""budget_mb":${budgetBytes >> 20},"scratch_dir":"$scratchDir"}"""
    override def toString: String = json
  }

  /** Choose how many vehicle-closed EP3 passes a day needs so each
    * pass's peak scratch footprint fits the node's free spill disk —
    * the `tuneForInput` discipline (size from the INPUT, not the
    * cluster) applied to disk instead of shuffle partitions.
    *
    * Model: the full-day window+aggregate pipeline's peak on-disk
    * scratch is `inputBytes × peakExpansion / K` for K vehicle-closed
    * passes (spill files are freed as stages complete, so the peak is
    * well below the run's TOTAL spill). `peakExpansion` = 5 is
    * CALIBRATED, not guessed: DAYSCALE_r13 fleet_100x measured ~25 GB
    * per-pass peak at K = 3 over 15 GB of positions parquet
    * (25·3/15 ≈ 5), and its two K = 1 attempts genuinely exhausted a
    * 64 GB disk — consistent with a ~75 GB single-pass peak. `headroom`
    * keeps half the free disk for everything else on the node (shuffle
    * files of OTHER stages, outputs, OS). */
  def chooseVehiclePasses(spark: org.apache.spark.sql.SparkSession, posPath: String,
                          peakExpansion: Double = 5.0,
                          headroom: Double = 0.5): PassChoice = {
    val p = new org.apache.hadoop.fs.Path(posPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    // where Spark actually spills: spark.local.dir, else java.io.tmpdir
    val scratchDir = spark.conf.getOption("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .split(',').head
    val free = new java.io.File(scratchDir).getUsableSpace
    val budget = (free * headroom).toLong
    val estPeak = (bytes * peakExpansion).toLong
    // getUsableSpace returns 0 when the scratch dir doesn't exist on
    // THIS host (spark.local.dir may only be provisioned on workers) or
    // the disk is genuinely full — either way a divide would throw and
    // `--vehicle-passes=auto` would die instead of choosing. Fail with
    // the measurement in the message: a silent default pass count would
    // hide a full disk until the run exhausts it mid-pass (ADVICE r14).
    require(budget > 0,
      s"chooseVehiclePasses: no usable scratch budget (dir=$scratchDir, " +
        s"free=$free bytes, headroom=$headroom) — the scratch dir is " +
        "missing on this host or its disk is full; provision " +
        "spark.local.dir or pass an explicit pass count")
    val k = math.max(1L, (estPeak + budget - 1) / budget).toInt
    PassChoice(k, bytes, estPeak, free, budget, scratchDir)
  }

  /** Embeddings: vec_id offset by corpus size, +s·1e-4 coordinate
    * perturbation (cosine ≈ 1 across shards — semantic-dedup stress). */
  def embeddings(emb: DataFrame, k: Int): DataFrame =
    sharded(emb, "vec_id", k, emb.count())(s => Seq(
      "embedding" -> transform(col("embedding"),
        x => (x.cast("double") + lit(s * 1e-4)).cast("float"))))

  /** Lineitem: both join keys offset → k isolated co-occurrence
    * components (the graph harness shape). Both spans are derived from
    * the base data's own key maxima (a fixed orderkey span would
    * silently collide shards — merging components and distorting the
    * harness numbers — on any base with keys above it). */
  def lineitem(li: DataFrame, k: Int): DataFrame = {
    val maxes = li.agg(max(col("l_partkey")), max(col("l_orderkey"))).head()
    val pSpan = maxes.getLong(0) + 1
    val oSpan = maxes.getLong(1) + 1
    sharded(li, "l_orderkey", k, oSpan)(s => Seq(
      "l_partkey" -> (col("l_partkey") + lit(s * pSpan))))
  }

  /** Events: event and user ids offset → k× users, sessions scale
    * linearly. */
  def events(ev: DataFrame, k: Int): DataFrame = {
    val users = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    sharded(ev, "event_id", k, ev.count())(s => Seq(
      "user_id" -> (col("user_id") + lit(s * users))))
  }
}
