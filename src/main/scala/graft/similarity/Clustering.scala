package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster assignment — every vector to its nearest of k centroids (the
  * k-means E-step / semantic-grouping primitive: cluster-then-dedup,
  * topical sharding, IVF list building).
  *
  * Distances are computed in 1e-6 FIXED POINT (the Pooling/Quantize
  * convention): embeddings quantize to longs, the squared distance is a
  * pure integer sum — associative, so bit-identical under any
  * partitioning and any engine. A float distance would hang cluster
  * membership on last-ulp summation order for near-tied vectors; the
  * integer form makes assignment a hashable, oracle-checkable fact.
  * (Range: |fx| ≤ 2^21 for |x| ≤ 2, so a per-dimension difference is
  * ≤ 2^22, its square ≤ 2^44, and a 4096-dim squared distance bounds at
  * ~2^56 — inside a signed long's 2^63 with 2^7 headroom. Re-derive
  * before raising dimension count or fixed-point precision.)
  *
  * Scale design: the centroid set is a MODEL (k×dim doubles) shipped as
  * plan literals — the corpus pass is map-only, no join, no shuffle; the
  * driver collects only the k seed rows. Ties break to the lowest
  * centroid id on both engines.
  */
object Clustering {

  /** 1e-6 fixed-point quantization of a float/double vector (floor-based
    * — bit-reproducible; DuckDB mirror:
    * `list_transform(v, x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT))`). */
  def fixedPoint(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long"))

  /** Corpus-adaptive cluster count for cluster-bounded quadratic work
    * (SemDeDup's within-cluster pair scan, and any operator whose cost
    * is Σ_clusters |c|²). With k FIXED, mean cluster size grows
    * linearly in the corpus and the pair step grows quadratically —
    * the 100× scale run measured q106 at ratio ~393 (342 s for a 0.9 s
    * base) with k=8 over 200k vectors. Scaling k to hold mean cluster
    * size at `targetClusterSize` makes the pair step linear again:
    * Σ|c|² ≈ n·targetClusterSize. Floored at `kMin` so gate corpora
    * (≤ kMin·target vectors) keep their static oracle's k; capped so
    * the plan-literal centroid model stays serializable — beyond the
    * cap (≈1M vectors at the defaults) the stored-index path
    * ([[Ivf]]) is the right tool, same model, artifact instead of
    * literal. */
  def adaptiveK(n: Long, kMin: Int = 8, targetClusterSize: Int = 256,
                kMax: Int = 4096): Int =
    math.max(kMin, math.min(kMax,
      math.ceil(math.max(n, 1L).toDouble / targetClusterSize).toInt))

  /** Deterministic seed centroids: the k lowest-id vectors, quantized.
    * (Driver-side model fetch — k rows, not data.) */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): Array[Array[Long]] =
    corpus.select(col(idCol), fixedPoint(col(vecCol)).as("__fx"))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Long](1).toArray)

  /** The assignment struct (cid, dist) for one vector column — the
    * NATIVE codegen path (functions.NearestCentroid): one compiled
    * k×dim integer loop per row with early abandon. */
  def nearestStruct(vec: Column, centroids: Array[Array[Long]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    call_function("nearest_cid", vec,
      typedlit(centroids.map(_.toSeq).toSeq))
  }

  /** Nearest-centroid id for one vector column; ties → lowest cid. */
  def nearestCid(vec: Column, centroids: Array[Array[Long]]): Column =
    nearestStruct(vec, centroids).getField("cid")

  /** The n nearest centroid ids in (dist asc, cid asc) order — the IVF
    * probe ranking, through the native top-n codegen expression
    * (functions.NearestCentroids); n is a plan literal. */
  def nearestCids(vec: Column, centroids: Array[Array[Long]], n: Int): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    call_function("nearest_cids", vec,
      typedlit(centroids.map(_.toSeq).toSeq), lit(n))
  }

  /** A fitted integer-exact Lloyd model: centroids in the 1e-6
    * fixed-point convention plus the cluster sizes of the final sweep's
    * assignment (0 for a cluster that emptied and kept its previous
    * centroid). */
  case class LloydModel(centroids: Array[Array[Long]], sizes: Array[Long]) {
    def k: Int = centroids.length
  }

  /** Round-half-away-from-zero integer division — the M-step mean in
    * pure long arithmetic, so a fitted centroid is an exact integer
    * fact, not a summation-order-dependent double. Engine-portable
    * spelling (positive operands only, so truncating `/` here and
    * flooring `//` in DuckDB agree):
    * `sign(s) * ((|s|*2 + n) / (2*n))`. Overflow bound: |s| ≤ 2^21 ·
    * cluster size, so the ×2 stays inside a long for clusters up to
    * ~2^41 rows. */
  private[similarity] def roundDiv(s: Long, n: Long): Long = {
    val q = (math.abs(s) * 2 + n) / (2 * n)
    if (s < 0) -q else q
  }

  /** DISTRIBUTED Lloyd k-means fit — the full iterative loop as Spark
    * aggregations, integer-exact end-to-end so the fitted model itself
    * is oracle-checkable (gate entry q129):
    *
    *   - init: the k lowest-id vectors, quantized ([[seedCentroids]] —
    *     deterministic, replayable in SQL);
    *   - E-step: the native `nearest_cid` codegen pass (exact integer
    *     fixed-point distances, ties → lowest cid) — map-only, model as
    *     one flattened long[] reference object;
    *   - M-step: per-(cid, dim) `sum(long)`/`count` GROUPED AGGREGATION
    *     over the posexploded quantized vectors — partial aggregation
    *     makes the shuffle k·dim rows per map partition regardless of
    *     corpus size, and the driver collects only the k·dim model rows
    *     (never data). New centroid component = [[roundDiv]](sum, n) —
    *     order-independent exact integers, so every sweep's model is
    *     bit-identical on any partitioning and any engine. A cluster
    *     with no members keeps its previous centroid (size 0).
    *
    * This is the fit the driver CANNOT hold at 100 TB done right: each
    * sweep is one corpus pass (the projected corpus is persisted for
    * the fit — consumed `sweeps`+1 times); cost is sweeps × (one
    * codegen'd k·dim integer loop per row + one combine-heavy shuffle).
    * The result feeds [[assign]]/SemDedup directly (same
    * `Array[Array[Long]]` convention) and Ivf via `Ivf.modelFromFx`
    * (exact round-trip — see its scaladoc). Null vectors are excluded
    * from the fit (a null has no location; mirrored in the oracle's
    * `WHERE embedding IS NOT NULL`). */
  def fitLloyd(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, sweeps: Int): LloydModel = {
    require(k >= 1, s"fitLloyd needs k >= 1, got $k")
    require(sweeps >= 1, s"fitLloyd needs sweeps >= 1, got $sweeps")
    val base = graft.Tables.spread(corpus.sparkSession,
        corpus.filter(col(vecCol).isNotNull)
          .select(col(idCol).as("__id"), col(vecCol).as("__vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = seedCentroids(base, "__id", "__vec", k)
      require(cents.nonEmpty, "fitLloyd: empty corpus")
      var sizes = Array.fill(k)(0L)
      for (_ <- 1 to sweeps) {
        val stats = mStepFrame(base, cents)
          .collect() // ≤ k·dim rows — the model, never data
        val next = cents.map(_.clone())
        val ns = Array.fill(k)(0L)
        stats.foreach { r =>
          val cid = r.getLong(0).toInt
          next(cid)(r.getInt(1)) = roundDiv(r.getLong(2), r.getLong(3))
          ns(cid) = r.getLong(3)
        }
        cents = next
        sizes = ns
      }
      LloydModel(cents, sizes)
    } finally base.unpersist(blocking = false)
  }

  /** One sweep's E-step + M-step as a (cid, dim, s, n) plan — exposed
    * so the plan SHAPE is auditable (PlanAuditSpec): partial
    * aggregation must run map-side before the single k·dim-row
    * exchange, or the shuffle would carry corpus·dim rows instead of
    * partitions·k·dim. Expects `base` projected to (__id, __vec). */
  private[graft] def mStepFrame(base: DataFrame,
                                cents: Array[Array[Long]]): DataFrame =
    base
      .select(nearestCid(col("__vec"), cents).as("cid"),
        fixedPoint(col("__vec")).as("fx"))
      // fx is never empty for a non-null vector (fixed dim), and
      // posexplode_outer keeps the generator out of
      // InferFiltersFromGenerate's interpreted-filter inlining
      .select(col("cid"), posexplode_outer(col("fx")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))

  /** (id, cid, dist): nearest-centroid assignment of every corpus row,
    * with the exact integer distance. `centroids` index order is the
    * cluster id; ties → lowest cid. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Long]]): DataFrame =
    corpus.select(col(idCol), nearestStruct(col(vecCol), centroids).as("__nc"))
      .select(col(idCol), col("__nc.cid").as("cid"), col("__nc.dist").as("dist"))
}
