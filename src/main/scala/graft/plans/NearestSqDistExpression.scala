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
  * PlansSpec): a left-to-right min fold with strict `<` over the centroids
  * in declaration order, each distance the same `((0+d0²)+d1²)+…` IEEE
  * sequence as `sq_dist`. Ties keep the earlier centroid's value (equal
  * doubles — indistinguishable), empty centroid set yields the fold seed
  * `Double.MaxValue`.
  *
  * Why: the HOF composition `aggregate(transform(typedlit(cs), …))` is
  * CodegenFallback — interpreted per row, allocating the transformed array
  * each time. The elbow scans evaluate it up to 2·|ks| times per row
  * (`km_optimal_k`), and the k-means++ weight pass once per row; here the
  * centroid matrix is flattened once per executor and the whole argmin runs
  * in a tight primitive loop inside whole-stage codegen.
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

  def compute(yd: ArrayData): Double = fold(yd, Double.MaxValue)

  /** [[compute]], but NaN when no centroid's distance is a number (each is
    * NaN): the row has no nearest centroid, which [[compute]] reports as
    * the fold seed `Double.MaxValue`.
    */
  def computeOrNaN(yd: ArrayData): Double = fold(yd, Double.NaN)

  private def fold(yd: ArrayData, none: Double): Double = {
    val y = yd.toDoubleArray()
    val n = y.length
    var m = Double.MaxValue
    var some = false
    var j = 0
    val k = cs.length
    while (j < k) {
      // same IEEE sequence as sq_dist's left fold: ((0+d0²)+d1²)+…
      var acc = 0.0
      val base = j * dim
      var d = 0
      val lim = math.min(n, dim)
      while (d < lim) {
        val t = flat(base + d) - y(d)
        acc += t * t
        d += 1
      }
      if (acc < m) m = acc
      if (acc == acc) some = true
      j += 1
    }
    if (some) m else none
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestSqDist", this, classOf[NearestSqDistLit].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestSqDistLit =
    copy(child = newChild)
}
