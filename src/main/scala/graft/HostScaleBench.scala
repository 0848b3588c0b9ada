package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only harness (ScaleBench's sibling — NOT part of the driver
  * contract): grow HOST CARDINALITY, the true input of the
  * q151/q155/q156/q158 web-graph chain, which the docs-growth
  * ScaleBench cells never stress (the gate fixtures pin hosts at 13 —
  * doc growth adds pages per host, not hosts). This is the measurement
  * VERDICT r16 next #7 asks for and the one that validates next #1:
  * the adaptive host-side join must keep the chain linear-ish in host
  * count on BOTH branches, and the forced shuffled-hash fallback must
  * cost ~the broadcast branch at gate scale while surviving host
  * counts past any broadcast ceiling.
  *
  * Shapes timed at H and k·H hosts (synthetic, deterministic):
  *   - `rank`: host-graph PageRank (8 out-edges/host, h60 keys) + the
  *     name join back through AdaptiveJoin — the q151 chain's shape;
  *   - `robots`: RFC 9309 ruleSet (6 rules/host) + allowed() over
  *     docsPerHost pages/host — the q158/q160 shape — measured on the
  *     broadcast branch AND with the shuffle branch FORCED
  *     (graft.adaptive.broadcastRowCeiling=0), results cross-checked
  *     row-identical;
  *   - `quota`: the q156 per-host window + adaptive quota join.
  *
  * Usage: runMain graft.HostScaleBench [k] [baseHosts] [docsPerHost]
  * Writes target/host_scale.json and prints one line per cell.
  */
object HostScaleBench {

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val baseHosts = args.lift(1).map(_.toInt).getOrElse(20000)
    val docsPerHost = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = GraftSession.start(GraftSession.builder(shufflePartitions = 32))
    import graft.functions.Portable

    def hostCol(id: org.apache.spark.sql.Column) =
      concat(lit("h"), id.cast("string"), lit(".example"))

    /** 8 deterministic out-edges per host (i → (i·31 + j) mod H). */
    def hostEdges(h: Long): DataFrame =
      spark.range(h).select(col("id"),
          explode(array((1 to 8).map(lit(_)): _*)).as("j"))
        .select(hostCol(col("id")).as("src_host"),
          hostCol((col("id") * 31 + col("j")) % h).as("dst_host"))
        .filter(col("src_host") =!= col("dst_host"))

    /** The q151 chain's shape over synthetic hosts: h60-keyed rank +
      * the adaptive name join back. */
    def rankOnce(h: Long): Long = {
      val scope = CacheScope.scoped()
      val edges = scope.cache(hostEdges(h).select(
        Portable.h60(col("src_host")).as("src"),
        Portable.h60(col("dst_host")).as("dst"),
        col("src_host"), col("dst_host")))
      val names = edges.select(col("src").as("node"), col("src_host").as("host"))
        .unionByName(edges.select(col("dst").as("node"), col("dst_host").as("host")))
        .distinct()
      val ranks = operators.PageRank.run(edges.select(col("src"), col("dst")),
        "src", "dst", 3, scope = Some(scope))
      val out = scope.materializeAndRelease(
        ranks.join(operators.AdaptiveJoin.broadcastIfSmall(names), Seq("node"))
          .select(col("host"), col("pr")))
      val n = out.count()
      Checkpoints.releaseAll(spark)
      n
    }

    val robotsTxt = Seq(
      "User-agent: graftbot",
      "Disallow: /private",
      "Allow: /private/ok",
      "Disallow: /p/1*",
      "Disallow: /*?*drop=1",
      "",
      "User-agent: *",
      "Disallow: /").mkString("\n")

    def robotsDocs(h: Long): DataFrame =
      spark.range(h * docsPerHost).select(
        col("id").as("doc_id"),
        hostCol(col("id") % h).as("host"),
        concat(lit("/p/"), (col("id") % 37).cast("string"),
          when(col("id") % 3 === 0, lit("?drop=1")).otherwise(lit(""))).as("path"))

    def robotsOnce(h: Long): (Long, Long) = {
      val robots = spark.range(h).select(hostCol(col("id")).as("host"),
        lit(robotsTxt).as("txt"))
      val rs = text.Robots.ruleSet(robots, col("host"), col("txt"))
      val out = text.Robots.allowed(robotsDocs(h), rs, "graftbot")
      val agg = out.agg(count(lit(1)), sum(when(col("allowed"), 1L).otherwise(0L)))
        .collect()(0)
      // allowed() checkpoints its rule relation — release after the
      // consuming action, or 2×-per-branch cells at 200k hosts
      // accumulate checkpoints across the run (ADVICE r17)
      Checkpoints.releaseAll(spark)
      (agg.getLong(0), agg.getLong(1))
    }

    def quotaOnce(h: Long): Long = {
      val ranks = spark.range(h).select(hostCol(col("id")).as("host"),
        ((col("id") * 7919) % 1000000 + 150000).as("pr"))
      val docs = robotsDocs(h).select(col("doc_id"), col("host"))
      val mx = ranks.agg(max(col("pr")).as("mp"))
      val quotas = ranks.crossJoin(broadcast(mx))
        .select(col("host"), col("pr"),
          greatest(lit(1L), expr("(50 * pr) div mp")).as("quota"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host")).orderBy(col("doc_id"))
      val n = docs.join(operators.AdaptiveJoin.broadcastIfSmall(quotas), Seq("host"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= col("quota"))
        .count()
      Checkpoints.releaseAll(spark)
      n
    }

    def time[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def best[A](attempts: Int)(body: => A): (Double, A) = {
      val runs = (1 to attempts).map(_ => time(body))
      runs.minBy(_._1)
    }

    val ceiling = operators.AdaptiveJoin.CeilingConf
    val h1 = baseHosts.toLong
    val hk = baseHosts.toLong * k

    // warm-up (JIT + codegen)
    rankOnce(1000); robotsOnce(1000); quotaOnce(1000)

    val (rank1, _) = best(2)(rankOnce(h1))
    val (rankK, _) = best(2)(rankOnce(hk))
    println(f"HOSTSCALE rank    1x(${h1}%d hosts) $rank1%7.2fs  ${k}x $rankK%7.2fs  ratio ${rankK / rank1}%6.2f")

    val (rb1, a1) = best(2)(robotsOnce(h1))
    val (rbK, aK) = best(2)(robotsOnce(hk))
    println(f"HOSTSCALE robots  1x $rb1%7.2fs  ${k}x $rbK%7.2fs  ratio ${rbK / rb1}%6.2f")

    // forced SHUFFLE branch (the adaptive fallback) at both sizes, with
    // row-identical verdict counts as the cross-branch correctness check
    spark.conf.set(ceiling, "0")
    val (rbS1, s1) = best(2)(robotsOnce(h1))
    val (rbSK, sK) = best(2)(robotsOnce(hk))
    spark.conf.unset(ceiling)
    println(f"HOSTSCALE robots-shuffle 1x $rbS1%7.2fs  ${k}x $rbSK%7.2fs  ratio ${rbSK / rbS1}%6.2f")
    require(s1 == a1 && sK == aK,
      s"branch divergence: bcast=$a1/$aK shuffle=$s1/$sK")

    val (qt1, _) = best(2)(quotaOnce(h1))
    val (qtK, _) = best(2)(quotaOnce(hk))
    println(f"HOSTSCALE quota   1x $qt1%7.2fs  ${k}x $qtK%7.2fs  ratio ${qtK / qt1}%6.2f")

    def fmt(d: Double) = f"$d%.3f"
    val json =
      s"""{"k":$k,"base_hosts":$baseHosts,"docs_per_host":$docsPerHost,
         |"rank":{"x1":${fmt(rank1)},"xk":${fmt(rankK)},"ratio":${fmt(rankK / rank1)}},
         |"robots_broadcast":{"x1":${fmt(rb1)},"xk":${fmt(rbK)},"ratio":${fmt(rbK / rb1)}},
         |"robots_shuffle":{"x1":${fmt(rbS1)},"xk":${fmt(rbSK)},"ratio":${fmt(rbSK / rbS1)}},
         |"quota":{"x1":${fmt(qt1)},"xk":${fmt(qtK)},"ratio":${fmt(qtK / qt1)}},
         |"branches_row_identical":true}""".stripMargin.replace("\n", "")
    val out = new java.io.PrintWriter(new java.io.File("target/host_scale.json"))
    try out.println(json) finally out.close()
    println(json)
    spark.stop()
  }
}
