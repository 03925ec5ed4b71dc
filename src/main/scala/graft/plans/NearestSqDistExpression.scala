package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Squared distance to the nearest of a PLAN-EMBEDDED centroid set, as one
  * codegen'd call.
  *
  * Semantics (bit-identical to `VectorOps.nearestSqDist`, pinned in
  * PlansSpec): [[NearestSqDistLit.fold]], a left-to-right min fold with
  * strict `<` over the centroids in declaration order, each distance the
  * same `((0+d0²)+d1²)+…` IEEE sequence as `sq_dist`. Ties keep the earlier
  * centroid's value (equal doubles — indistinguishable), empty centroid set
  * yields the fold seed `Double.MaxValue`.
  *
  * Why: the HOF composition `aggregate(transform(typedlit(cs), …))` is
  * CodegenFallback — interpreted per row, allocating the transformed array
  * each time; here the centroid matrix is flattened once per executor and
  * the whole argmin runs in a tight primitive loop inside whole-stage
  * codegen.
  */
@ExpressionDescription(
  usage = "_FUNC_(y) - squared distance from y to the nearest plan-embedded centroid.")
case class NearestSqDistLit(child: Expression, cs: Array[Array[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_sq_dist requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "nearest_sq_dist"

  /** Centroids flattened row-major for a cache-friendly loop; built once per
    * deserialized instance.
    */
  @transient private lazy val (flat, dim) = {
    val d = if (cs.isEmpty) 0 else cs(0).length
    val f = new Array[Double](cs.length * d)
    var j = 0
    while (j < cs.length) {
      System.arraycopy(cs(j), 0, f, j * d, d)
      j += 1
    }
    (f, d)
  }

  def compute(yd: ArrayData): Double = {
    val y = yd.toDoubleArray()
    NearestSqDistLit.sqDist(flat, cs.length, dim, y, 0, y.length)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestSqDist", this, classOf[NearestSqDistLit].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestSqDistLit =
    copy(child = newChild)
}

object NearestSqDistLit {

  /** The one nearest-centroid fold (this expression, the k-means scans):
    * `sq_dist`'s left-to-right `((0+d0²)+d1²)+…` over the first
    * `min(n, dim)` coordinates of `y` from `yOff` on, for each of the `k`
    * centroids in the row-major `cs`, then strict `<` from
    * `Double.MaxValue` — the earlier slot wins a tie, a NaN distance never
    * wins. Returns the slot, or `k`
    * when no distance is below `Double.MaxValue`; `dist(0)` (if given) gets
    * its distance — `Double.MaxValue` then, or NaN if every distance is NaN.
    */
  def fold(cs: Array[Double], k: Int, dim: Int, y: Array[Double], yOff: Int, n: Int,
      dist: Array[Double]): Int = {
    val lim = math.min(n, dim)
    var best = k
    var m = Double.MaxValue
    var some = false
    var j = 0
    while (j < k) {
      val o = j * dim
      var s = 0.0
      var d = 0
      while (d < lim) { val t = cs(o + d) - y(yOff + d); s += t * t; d += 1 }
      if (s < m) { m = s; best = j }
      if (s == s) some = true
      j += 1
    }
    if (dist != null) dist(0) = if (some) m else Double.NaN
    best
  }

  /** [[fold]]'s distance as `nearest_sq_dist` returns it: `Double.MaxValue`
    * when every distance is NaN too.
    */
  def sqDist(cs: Array[Double], k: Int, dim: Int, y: Array[Double], yOff: Int, n: Int): Double = {
    val dist = new Array[Double](1)
    fold(cs, k, dim, y, yOff, n, dist)
    if (dist(0).isNaN) Double.MaxValue else dist(0)
  }
}
