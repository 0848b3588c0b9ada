package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `nearest_cid(vec, centroids)` → `struct<cid:bigint, dist:bigint>`:
  * nearest-centroid assignment (the k-means E-step) as ONE native
  * codegen pass. `vec` is the raw float/double embedding; `centroids`
  * is a foldable `array<array<bigint>>` literal of 1e-6 FIXED-POINT
  * centroids (Clustering.fixedPoint convention — the same quantization
  * is applied to `vec` in here, so results are bit-identical to the
  * composed transform/zip_with/aggregate form and to the DuckDB
  * mirror).
  *
  * Why native: the composed form is `k` interpreted higher-order-
  * function folds per row (HOFs are CodegenFallback) — at corpus-scaled
  * centroid counts the assignment becomes interpreter-bound, not
  * arithmetic-bound (measured 141 s for 200k×800×64 on 32 local cores;
  * the compiled loop does the identical 10¹⁰ integer ops in seconds).
  * The centroid MODEL rides along as a reference object — evaluated
  * once, flattened to one primitive long[] for the hot loop.
  *
  * Ties → lowest cid (strict `<`), matching Clustering.assign and the
  * oracle's `ORDER BY dist, cid`. Null vec → null; null elements are
  * rejected loudly (a malformed embedding must not silently assign).
  * Dimension mismatches between vec and the model are rejected loudly
  * too. Distance range: see Clustering's ~2^56 bound derivation.
  */
case class NearestCentroid(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(LongType, _), _))
      if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      "nearest_cid needs (array<float|double>, foldable array<array<bigint>>), " +
        s"got (${l.catalogString}, ${r.catalogString}${if (right.foldable) "" else ", non-foldable"})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  override def prettyName: String = "nearest_cid"

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** The fitted model, flattened once: k rows × dim, row-major. */
  @transient private lazy val model: NearestCentroid.Model =
    NearestCentroid.buildModel(right.eval().asInstanceOf[ArrayData], prettyName)

  override def nullSafeEval(vec: Any, unused: Any): Any =
    NearestCentroid.compute(vec.asInstanceOf[ArrayData], model, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("nearestCidModel", model,
      classOf[NearestCentroid.Model].getName)
    // the second child is the foldable model literal — the flattened
    // reference object replaces it in generated code
    nullSafeCodeGen(ctx, ev, (vec, _) =>
      s"${ev.value} = graft.functions.NearestCentroid.compute($vec, $mRef, $vecIsFloat);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `nearest_cids(vec, centroids, n)` → `array<bigint>`: the `n`
  * nearest centroid ids in (dist asc, cid asc) order — the IVF
  * coarse-quantizer PROBE ranking (which lists to search for one
  * query), to [[NearestCentroid]]'s top-1 ASSIGNMENT. Same fixed-point
  * convention, same Model flattening, same early-abandon loop — the
  * abandon threshold is the current n-th best instead of the best, so
  * the probe pass survives production coarse-list counts (k ≈ 10³–10⁴)
  * inside whole-stage codegen exactly like the assignment does.
  *
  * `n` must be a positive literal (it fixes the result shape); n ≥ k
  * degrades to a full (dist, cid) sort of all lists — the full-probe
  * exact-search posture. Ties → lower cid first, matching
  * [[NearestCentroid]] and the oracle's `ORDER BY dist, cid`.
  */
case class NearestCentroids(left: Expression, right: Expression, n: Int)
  extends BinaryExpression with Serializable {

  require(n >= 1, s"nearest_cids: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(LongType, _), _))
      if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      "nearest_cids needs (array<float|double>, foldable array<array<bigint>>, n), " +
        s"got (${l.catalogString}, ${r.catalogString}${if (right.foldable) "" else ", non-foldable"})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "nearest_cids"

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val model: NearestCentroid.Model =
    NearestCentroid.buildModel(right.eval().asInstanceOf[ArrayData], prettyName)

  override def nullSafeEval(vec: Any, unused: Any): Any =
    NearestCentroid.computeTopN(vec.asInstanceOf[ArrayData], model, vecIsFloat, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("nearestCidsModel", model,
      classOf[NearestCentroid.Model].getName)
    nullSafeCodeGen(ctx, ev, (vec, _) =>
      s"${ev.value} = graft.functions.NearestCentroid.computeTopN($vec, $mRef, $vecIsFloat, $n);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight, n = n)
}

object NearestCentroid {

  /** Flattened fixed-point centroid matrix (row-major k×dim). */
  final class Model(val flat: Array[Long], val k: Int, val dim: Int)
    extends Serializable

  /** Evaluate + validate the foldable centroid literal into the
    * flattened model (shared by the top-1 and top-n expressions). */
  def buildModel(a: ArrayData, fn: String): Model = {
    require(a != null && a.numElements() >= 1, s"$fn: need at least one centroid")
    val k = a.numElements()
    require((0 until k).forall(i => !a.isNullAt(i)),
      s"$fn: centroid rows must not be null")
    val rows = (0 until k).map(i => a.getArray(i))
    val dim = rows.head.numElements()
    require(rows.forall(_.numElements() == dim),
      s"$fn: centroid rows must share one dimension")
    require(rows.forall(r => (0 until dim).forall(j => !r.isNullAt(j))),
      s"$fn: centroid elements must not be null")
    val flat = new Array[Long](k * dim)
    var i = 0
    while (i < k) {
      val r = rows(i)
      var j = 0
      while (j < dim) { flat(i * dim + j) = r.getLong(j); j += 1 }
      i += 1
    }
    new Model(flat, k, dim)
  }

  /** Tight integer loop: quantize the vector once, then k×dim
    * multiply-accumulate with early-abandon on the running minimum. */
  def compute(vec: ArrayData, m: Model, isFloat: Boolean): GenericInternalRow = {
    val dim = m.dim
    require(vec.numElements() == dim,
      s"nearest_cid: vector has ${vec.numElements()} dims, model has $dim")
    val fx = new Array[Long](dim)
    var j = 0
    while (j < dim) {
      require(!vec.isNullAt(j), "nearest_cid: vector elements must not be null")
      val v = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
      fx(j) = math.floor(v * 1e6 + 0.5).toLong
      j += 1
    }
    var bestCid = 0L
    var bestDist = Long.MaxValue
    val flat = m.flat
    var i = 0
    while (i < m.k) {
      val base = i * dim
      var d = 0L
      var jj = 0
      // early abandon: once the partial sum exceeds the best, stop —
      // same result (sums are non-decreasing), large constant win when
      // most centroids are far
      while (jj < dim && d < bestDist) {
        val diff = fx(jj) - flat(base + jj)
        d += diff * diff
        jj += 1
      }
      if (jj == dim && d < bestDist) { bestDist = d; bestCid = i }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestDist))
  }

  /** Top-n variant of [[compute]]: the n nearest cids in
    * (dist asc, cid asc) order, as ArrayData. The running selection is
    * a sorted insertion list (n is probe-width small); the abandon
    * threshold is the current n-th best distance. Ascending-cid
    * iteration makes strict `<` against the current worst implement the
    * tie-to-lowest-cid rule for free (an equal-distance later cid never
    * displaces an earlier one). */
  def computeTopN(vec: ArrayData, m: Model, isFloat: Boolean, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val dim = m.dim
    require(vec.numElements() == dim,
      s"nearest_cids: vector has ${vec.numElements()} dims, model has $dim")
    val fx = new Array[Long](dim)
    var j = 0
    while (j < dim) {
      require(!vec.isNullAt(j), "nearest_cids: vector elements must not be null")
      val v = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
      fx(j) = math.floor(v * 1e6 + 0.5).toLong
      j += 1
    }
    val width = math.min(n, m.k)
    val topDist = new Array[Long](width)
    val topCid = new Array[Long](width)
    var filled = 0
    val flat = m.flat
    var i = 0
    while (i < m.k) {
      val base = i * dim
      // abandon against the current worst retained distance once full
      val bound = if (filled < width) Long.MaxValue else topDist(filled - 1)
      var d = 0L
      var jj = 0
      while (jj < dim && d < bound) {
        val diff = fx(jj) - flat(base + jj)
        d += diff * diff
        jj += 1
      }
      if (jj == dim && d < bound) {
        // sorted insert: find the first slot with a strictly greater
        // distance (equal distance keeps the earlier, lower cid first)
        var pos = filled
        while (pos > 0 && topDist(pos - 1) > d) pos -= 1
        val last = math.min(filled, width - 1)
        var s = last
        while (s > pos) { topDist(s) = topDist(s - 1); topCid(s) = topCid(s - 1); s -= 1 }
        topDist(pos) = d
        topCid(pos) = i.toLong
        if (filled < width) filled += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topCid, filled))
  }
}
