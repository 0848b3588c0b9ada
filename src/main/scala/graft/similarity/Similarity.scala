package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and sign-LSH
  * (random hyperplanes) bucketing as the scale path.
  *
  * Scale design: cosine/dot are sequential folds over the array — pure
  * per-row codegen'd expressions, no UDFs. Brute-force top-k shuffles
  * only (queries × corpus-partition) partial top-k rows
  * (window row_number + filter under AQE); the LSH path turns the n²
  * similarity join into an equi-join on bucket signatures, exactly like
  * MinHash bands. The hyperplane matrix is a deterministic compile-time
  * literal (seeded LCG) so the DuckDB oracle embeds identical constants.
  */
object Similarity {

  /** Sequential dot product in double precision (element order = array
    * order on both engines → bit-identical results). Backed by the
    * native codegen'd DotProduct expression (functions.DotProduct) —
    * sessions built by GraftSession/Verify/Bench/tests register it. */
  def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Adds `normOut` (L2 norm, unrounded) and `vecOut` (unit vector,
    * elements rounded to 6dp; zero vectors stay all-zero). The norm is
    * STAGED as its own projection before the per-element lambda —
    * captured subtrees re-evaluate per array element (no CSE inside
    * higher-order functions), so an inline norm would cost dim×
    * dot products per row. The `+ 0.0` collapses IEEE -0.0 from
    * rounding tiny negative components (engines disagree on its sign).
    */
  def withL2Normalized(df: DataFrame, vecCol: Column,
                       normOut: String, vecOut: String): DataFrame =
    df.withColumn(normOut, norm(vecCol))
      .withColumn(vecOut,
        when(col(normOut) === 0.0, transform(vecCol, _ => lit(0.0)))
          .otherwise(transform(vecCol,
            x => graft.functions.Fx.fx(x.cast("double") / col(normOut), 6))))

  /** Cosine similarity; 0 for zero vectors (instead of null/NaN). */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Deterministic pseudo-random hyperplanes: `planes × dim` doubles in
    * [-1, 1), from a fixed LCG (Numerical Recipes constants, 64-bit
    * wrapping). Embedded as literals in both the Spark plan and the
    * oracle SQL. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      // top 53 bits → [0,1) → [-1,1)
      ((state >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Array.fill(planes)(Array.fill(dim)(next()))
  }

  /** Sign-LSH bucket signature: bit j = (v · W[j] > 0). Per-row
    * expression, no shuffle; 2^planes buckets. */
  def signLshSignature(vec: Column, planes: Int, dim: Int, seed: Long = 42L): Column = {
    val w = hyperplanes(planes, dim, seed)
    w.zipWithIndex.foldLeft(lit(0L)) { case (acc, (plane, j)) =>
      acc + when(dot(vec, lit(plane)) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }
  }

  /** Brute-force cosine top-k: every query row against the whole corpus.
    * Exact; O(|Q|·|C|) — the correctness baseline and still the right
    * tool when |Q| is small (broadcast the queries, stream the corpus). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("cvec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("rcos", graft.functions.Fx.fx(cosine(col("qvec"), col("cvec")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rcos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("rcos"))
  }

  /** Corpus-adaptive hyperplane count for [[signLshSignature]] /
    * [[lshNearDupPairs]]. The bucket join puts every vector into one of
    * 2^planes buckets; with `planes` FIXED, bucket occupancy grows
    * linearly with the corpus and the self-join's candidate pairs grow
    * quadratically — the exact failure mode the 100× scale run measured
    * for the fixed-width SimHash banding (Dedup.simhashBitsFor). Picks
    * the smallest plane count that keeps expected bucket occupancy
    * ≤ `targetOccupancy`, floored at 8 (the legacy count — gate corpora
    * ≤ 32·2⁸ vectors are unaffected, so the static DuckDB oracle remains
    * exact there) and capped at 62 (the bucket id is a signed-long bit
    * sum). Unlike the banded SimHash join, sign-LSH recall is defined BY
    * its bucketing (the oracle mirrors the same hyperplanes), so widening
    * only tightens the candidate set — near-dup vectors with cosine → 1
    * still collide on every plane. */
  def planesFor(nVectors: Long, targetOccupancy: Int = 32): Int = {
    // exact ceil(log2(n / occ)) in integer bit math — the double ln-ratio
    // is off by one at exact powers of two (ln(2^58)/ln(2) → 58.000…007)
    val m = (math.max(nVectors, 1L) - 1L) / targetOccupancy + 1L
    val need = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.max(8, math.min(62, need))
  }

  /** LSH-blocked near-duplicate pairs: candidates share a bucket
    * signature (equi-join), then exact rounded cosine ≥ minCos filters.
    * The scale path: bucket count grows with `planes`, so bucket size —
    * and the quadratic term — is tunable; pick `planes` with
    * [[planesFor]] so occupancy stays bounded as the corpus grows. */
  def lshNearDupPairs(df: DataFrame, planes: Int, dim: Int, minCos: Double,
                      scope: graft.CacheScope = graft.CacheScope.unmanaged): DataFrame = {
    // cache: both self-join sides consume the signature relation;
    // uncached, each recomputes `planes` interpreted dot products/row.
    val sig = scope.cache(df.select(col("vec_id"), col("embedding"),
      signLshSignature(col("embedding"), planes, dim).as("bucket")))
    val a = sig.toDF("id_a", "vec_a", "bucket")
    val b = sig.toDF("id_b", "vec_b", "bucket")
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("rcos", graft.functions.Fx.fx(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("rcos") >= minCos)
      .select(col("id_a"), col("id_b"), col("bucket"), col("rcos"))
  }
}
