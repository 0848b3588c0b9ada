package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload runs. A pass is the unit the benchmark times; an
  * operation is one program call inside it that can fail on its own. */
trait Workload {
  /** Operation names, in pass order. */
  def ops: Seq[String]
  /** Run one operation of a pass on the inputs under `data`; with
    * `keep`, leave its output under `work` for the output check. */
  def run(spark: SparkSession, op: String, data: String, work: String, keep: Boolean): Unit
  /** Build the program's one-time artifacts for the inputs under `data`. */
  def artifacts(spark: SparkSession, data: String): Unit = ()
  def hasArtifacts: Boolean = false
  /** After the passes, write or count what the output check needs. */
  def counts(spark: SparkSession, work: String): Map[String, Double] = Map.empty
  /** Layer probes for the traced run: each calls one layer's public
    * functions on materialized inputs and returns counts it observed. */
  def probes(spark: SparkSession, data: String, work: String,
             span: String => (=> Unit) => Unit): Map[String, Double]
}

object Workloads {
  def apply(name: String, queries: Seq[String], setupQueries: Seq[String]): Workload = name match {
    case "olhovivo_day" => OlhoVivoDay
    case "corpus_web" => new QuerySet(queries, setupQueries, CorpusWebProbes.run)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Materialize `df` and cut its lineage, so the next layer's span
    * starts from stored rows. */
  def stored(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
}

import Workloads._

/** The paper's own job: EP2 (raw polls → positions parquet), then EP3
  * (positions → speeds, slow points, accessibility CSVs). */
object OlhoVivoDay extends Workload {
  val date: LocalDate = LocalDate.parse("2026-08-10")
  val ops = Seq("ep2", "ep3")

  def run(spark: SparkSession, op: String, data: String, work: String, keep: Boolean): Unit = op match {
    case "ep2" => graft.olhovivo.IngestPositions.run(spark, s"$data/raw", s"$work/posicoes")
    case "ep3" => graft.olhovivo.AverageSpeeds.run(spark, s"$work/posicoes", date, s"$work/out"): Unit
  }

  override def counts(spark: SparkSession, work: String): Map[String, Double] =
    Map("ep2_rows" -> spark.read.parquet(s"$work/posicoes").count().toDouble)

  def probes(spark: SparkSession, data: String, work: String,
             span: String => (=> Unit) => Unit): Map[String, Double] = {
    import graft.olhovivo.{AverageSpeeds, IngestPositions, SpeedPipeline}
    val probe = s"$work/probe"
    var raw: DataFrame = null
    span("sources.json_read") { raw = stored(IngestPositions.readRawAdaptive(spark, s"$data/raw")) }
    var flat: DataFrame = null
    span("olhovivo.flatten") { flat = stored(IngestPositions.flatten(raw)) }
    span("olhovivo.positions_write") {
      graft.sources.IO.writePartitionedParquet(
        flat.withColumn("data", to_date(timestamp_seconds(col("timestamp")))),
        s"$probe/posicoes", Seq("data"))
    }
    val day = stored(spark.read.parquet(s"$probe/posicoes")
      .filter(col("data") === lit(date.toString).cast("date")).drop("data"))
    var hops: DataFrame = null
    span("olhovivo.hops") { hops = stored(SpeedPipeline.hops(day)) }
    var agg: DataFrame = null
    span("olhovivo.aggregate") { agg = stored(SpeedPipeline.aggregate(hops)) }
    span("olhovivo.csv_write") {
      graft.sources.IO.writeCsv(agg.select(AverageSpeeds.aggCols.map(col): _*), s"$probe/agg")
      graft.sources.IO.writeCsv(
        SpeedPipeline.slowPoints(hops).select(AverageSpeeds.slowCols.map(col): _*), s"$probe/slow")
      graft.sources.IO.writeCsv(
        SpeedPipeline.acessiveis(agg).select(AverageSpeeds.acessCols.map(col): _*), s"$probe/acess")
    }
    // lagged pairs: every observation but each vehicle's first
    val lagged = day.count() - day.select("prefixo_veiculo").distinct().count()
    Map("sources.input_mb" -> bytesUnder(new File(s"$data/raw")) / 1048576.0,
        "olhovivo.hops_kept_ratio" -> hops.count().toDouble / lagged)
  }
}

/** A workload that runs a list of `SparkEntry.queries` into a noop sink.
  * `setupQueries` are the entries whose first call on an input
  * directory builds a program artifact (a WARC or HTML zone). */
final class QuerySet(queries: Seq[String], setupQueries: Seq[String],
                     layerProbes: (SparkSession, String, String, String => (=> Unit) => Unit) => Map[String, Double])
    extends Workload {
  val ops: Seq[String] = queries

  def run(spark: SparkSession, op: String, data: String, work: String, keep: Boolean): Unit =
    try {
      val df = graft.SparkEntry.queries(op)(spark, data)
      if (keep) df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$op")
      else noop(df)
    } finally {
      // operators persist intermediates; a later pass must not reuse them
      spark.catalog.clearCache()
      graft.Checkpoints.releaseAll(spark)
    }

  override def hasArtifacts: Boolean = setupQueries.nonEmpty
  override def artifacts(spark: SparkSession, data: String): Unit =
    setupQueries.foreach(q => graft.SparkEntry.queries(q)(spark, data))

  override def counts(spark: SparkSession, work: String): Map[String, Double] = {
    val w = new java.io.PrintWriter(s"$work/out/oracle_sql.json")
    try w.println(Harness.Json(graft.SparkEntry.oracleSql.filter(e => queries.contains(e._1))))
    finally w.close()
    Map.empty
  }

  def probes(spark: SparkSession, data: String, work: String,
             span: String => (=> Unit) => Unit): Map[String, Double] =
    layerProbes(spark, data, work, span)
}

/** Layer probes of `corpus_web`: the dedup layer, then the WARC, text
  * and iterative-operator layers. */
object CorpusWebProbes {

  def run(spark: SparkSession, data: String, work: String,
          span: String => (=> Unit) => Unit): Map[String, Double] =
    dedup(spark, data, span) ++ web(spark, data, span)

  private def dedup(spark: SparkSession, data: String,
                    span: String => (=> Unit) => Unit): Map[String, Double] = {
    val docs = stored(graft.Tables.spread(spark, graft.Tables.documents(spark, data)))
    // q41's signature parameters: 8 permutations over 3-token shingles
    span("dedup.signature") {
      stored(graft.dedup.Dedup.withMinhashSignature(docs, col("text"), 8, 3, "sig")): Unit
    }
    val q = graft.SparkEntry.queries
    val lsh = stored(q("q42_lsh_candidates")(spark, data).select("id_a", "id_b"))
    val jac = stored(q("q43_jaccard_join")(spark, data).select("id_a", "id_b"))
    val pairs = stored(q("q45_simhash_pairs")(spark, data))
    span("dedup.cc") {
      noop(graft.dedup.ConnectedComponents.components(
        graft.Tables.documents(spark, data), "doc_id", pairs, "id_a", "id_b"))
    }
    val candidates = lsh.count()
    val kept = lsh.join(jac, Seq("id_a", "id_b")).count()
    // the path rule ConnectedComponents applies: symmetrized edge count
    // against the session's localEdgeMax
    val u = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val symmetric = u.union(u.select(col("v"), col("u"))).distinct().count()
    val localMax = spark.conf.get(graft.dedup.ConnectedComponents.LocalEdgeMaxKey,
      graft.dedup.ConnectedComponents.LocalEdgeMaxDefault.toString).toLong
    spark.catalog.clearCache()
    graft.Checkpoints.releaseAll(spark)
    Map("dedup.lsh_candidate_pairs" -> candidates.toDouble,
        "dedup.jaccard_kept_ratio" -> (if (candidates == 0) 0.0 else kept.toDouble / candidates),
        "dedup.cc_local" -> (if (symmetric > 0 && symmetric <= localMax) 1.0 else 0.0))
  }

  /** The zone the program built for its WARC entries during set-up,
    * found by the artifact directory prefix under the JVM temp dir. */
  private def zone(prefix: String): String = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val hits = Option(tmp.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches(s"${prefix}[0-9]+"))
      .sortBy(_.lastModified)
    require(hits.nonEmpty, s"no $prefix zone under $tmp")
    hits.last.getPath
  }

  private def web(spark: SparkSession, data: String,
                  span: String => (=> Unit) => Unit): Map[String, Double] = {
    import graft.sources.Warc
    var records = 0L
    var pages: DataFrame = null
    span("sources.warc_read") {
      pages = stored(Warc.readExactClean(spark, zone("graft_warc_html")))
      records = pages.count()
    }
    pages = stored(pages.select(regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload")))
    span("text.html_extract") {
      stored(graft.text.HtmlExtract.blocks(pages, "doc_id", col("payload"))): Unit
    }
    val hrefs = stored(pages.select(explode(graft.text.HtmlExtract.hrefs(col("payload"))).as("href")))
    span("text.url_canon") {
      stored(hrefs.select(graft.text.UrlCanonical.canonicalize(col("href")).as("c"))): Unit
    }
    // twelve disjoint copies of the order co-occurrence graph q110 ranks:
    // past PageRank's driver-local edge limit, so the distributed sweeps run
    val li = graft.Tables.lineitem(spark, data)
      .select(col("l_orderkey").as("k"), col("l_partkey")).distinct()
    val co = li.select(col("k"), col("l_partkey").as("src"))
      .join(li.select(col("k"), col("l_partkey").as("dst")), "k")
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
    val edges = stored((0 until 12).map { c =>
      co.select((col("src") + c * 1000000000L).as("src"), (col("dst") + c * 1000000000L).as("dst"))
    }.reduce(_ union _))
    span("operators.pagerank") {
      noop(graft.operators.PageRank.run(edges, "src", "dst", 3))
    }
    // redirect chains in the shape the program's HTML zone plants:
    // two-hop chains, a 2-cycle and self-loops
    val docs = graft.Tables.documents(spark, data).select(col("doc_id"))
    val m = pmod(col("doc_id"), lit(19))
    val redirects = stored(docs.select(col("doc_id").as("src"),
        when(m.isin(1, 2), col("doc_id") + 1).when(m === 7, col("doc_id") + 2)
          .when(m === 9, col("doc_id") - 2).when(m === 11, col("doc_id")).as("dst"))
      .filter(col("dst").isNotNull))
    span("operators.chain_resolve") {
      noop(graft.operators.ChainResolve.resolve(docs.select(col("doc_id").as("node")), redirects, 8))
    }
    spark.catalog.clearCache()
    graft.Checkpoints.releaseAll(spark)
    Map("sources.warc_records" -> records.toDouble)
  }
}
