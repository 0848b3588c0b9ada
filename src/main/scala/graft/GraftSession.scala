package graft

import org.apache.spark.sql.SparkSession

/** The single SparkSession factory: Bench, Verify, the dev mains, the
  * test suites and the benchmark harness all build through [[builder]],
  * so they share one scale-aware configuration. It is the only reader of
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_MASTER` and `SPARK_GRAFT_EXECUTOR_MEM`.
  *
  * Design notes (100 TB north star):
  *  - `spark.sql.shuffle.partitions` is sized to the local core count here;
  *    on a real cluster AQE (`spark.sql.adaptive.enabled`) re-coalesces
  *    post-shuffle partitions, so the static value only seeds the first
  *    shuffle. All operators in this library key their shuffles on
  *    low-skew columns and rely on AQE skew-join splitting otherwise.
  *  - Session timezone is pinned to UTC: the reference pipeline parses
  *    naive UTC timestamps (reference: etl-olho-vivo-ingestao-posicoes.py:58
  *    runs on Lambda with TZ=UTC), and the DuckDB oracle also runs in UTC.
  */
object GraftSession {

  /** Monitor for temporary session-global conf changes (e.g. a streaming
    * query resizing `spark.sql.shuffle.partitions` to its state volume,
    * a test setting the durable checkpoint dir). A SparkSession is shared
    * across concurrent callers via getOrCreate, so any set→use→restore
    * span must hold this lock or unrelated work plans with the temporary
    * value. Test suites alias this same object (SparkTestBase). */
  val sessionConfLock: Object = new Object

  /** Cores for the default master and shuffle width: `SPARK_GRAFT_CPUS`,
    * else the host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_MASTER`, else `local[defaultCores]`. A
    * `local-cluster[n,c,mem]` master runs the same work on real executor
    * JVMs (task/broadcast serialization, shuffle transport, classloader
    * isolation) — the multi-JVM proof mode behind MULTIJVM_r10.json. */
  private def defaultMaster: String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$defaultCores]")

  /** The one session shape every entry point runs on: the shared conf
    * plus [[graft.functions.GraftExtensions]] installed at construction.
    * Callers add only the conf they vary, then [[start]] the result.
    *
    * A `local-cluster` master spawns executor JVMs from SPARK_HOME that
    * know nothing of sbt's classpath, so the builder ships the graft
    * classes and the JDK17 module opens; the caller must also export
    * SPARK_SCALA_VERSION=2.13 (the in-process executor launcher cannot
    * infer it outside the shell scripts). */
  def builder(master: String = defaultMaster,
              shufflePartitions: Int = defaultCores): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The driver testdata's `events` table carries parquet TIMESTAMP(NANOS),
      // which Spark only reads as a raw long (SPARK-40819). Tables.events()
      // rebuilds a proper TimestampType column from it.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!master.startsWith("local-cluster")) b
    else {
      val classDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      b.config("spark.executor.extraClassPath", classDir)
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "6g"))
    }
  }

  /** getOrCreate a [[builder]] result. `register` is the idempotent
    * fallback for when getOrCreate hands back an already-running session
    * that was built without the extensions. */
  def start(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  /** `local[cores]` with one shuffle partition per core unless told
    * otherwise; the env vars do not apply (the test suites' and the
    * benchmark harness's session). */
  def local(cores: String = "*", shufflePartitions: Option[Int] = None): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      if (cores == "*") Runtime.getRuntime.availableProcessors() else cores.toInt)
    start(builder(s"local[$cores]", parts))
  }

  /** Per-operator-family shuffle-volume expansion factors for
    * [[tuneForInput]]: how many bytes of shuffle input a byte of on-disk
    * parquet becomes in the family's widest stage. Calibrated against
    * the scale harness, not guessed:
    *  - `relational`: joins/aggs shuffle a column-pruned, still-compressed
    *    row payload — a few × the parquet bytes.
    *  - `textDedup`: the LSH chain explodes each document into band rows
    *    and pair aggregations; at 100× sf0.1 (~1.2 GB of documents) the
    *    measured OOM boundary was 32 partitions and the working setting
    *    320 (README "Operating envelope" #1), implying ~64× expansion
    *    against the 200 MB/partition target.
    */
  object ShuffleExpansion {
    val relational: Double = 3.0
    val textDedup: Double = 64.0
  }

  /** README "Operating envelope" rule #1 as code: size
    * `spark.sql.shuffle.partitions` from the INPUT CORPUS, not the
    * cluster. Sums the on-disk bytes under `dir` (driver-side FS
    * metadata only), multiplies by the operator family's `expansion`,
    * and targets ≤ `targetPartitionBytes` of shuffle input per
    * partition, flooring at the session's default parallelism (never
    * fewer partitions than cores). Oversizing is cheap — AQE coalesces
    * quiet stages back down — while undersizing OOMs the wide stages,
    * so callers should pick the LARGEST expansion among the operator
    * families they run. Returns the partition count it set. */
  def tuneForInput(spark: SparkSession, dir: String,
                   expansion: Double = ShuffleExpansion.textDedup,
                   targetPartitionBytes: Long = 200L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val floor = math.max(32, spark.sparkContext.defaultParallelism)
    val parts = math.max(floor,
      math.ceil(bytes * expansion / targetPartitionBytes).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    parts
  }

  /** Apply the must-have configs to an externally built session (e.g. the
    * driver's own). Runtime-settable confs + function registration only. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
