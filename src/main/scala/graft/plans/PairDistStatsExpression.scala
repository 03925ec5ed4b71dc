package graft.plans

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The silhouette pair stage as ONE codegen'd pass instead of an O(n²) join.
  *
  * Semantics (bit-identical to `Quality.silhouettePairStatsJoin`, pinned in
  * QualitySpec): for an input row (i, Y) and the plan-embedded sample
  * {(iₚ, jₚ, Yₚ)}, emit for every cluster j2 with at least one pair
  *   sfx = Σ_{p: jₚ=j2, iₚ≠i} round(sqrt(sqDist(Y, Yₚ))·dScale)   (long)
  *   cnt = #such p
  * as `array<struct<j2, sfx, cnt>>`. Rounding replicates Spark's `round`
  * on doubles (`BigDecimal.valueOf(x).setScale(0, HALF_UP)`), and the
  * per-dimension accumulation order matches the `sq_dist` left fold, so the
  * integer sums regroup exactly.
  *
  * Why: the join form materializes |sample|² UnsafeRows through a
  * BroadcastNestedLoopJoin and shuffles them into a 3-key aggregate — 15 s at
  * sf0.1 for a 6.5k sample. Here the sample (tiny BY CONTRACT — the caller
  * pre-samples; it is the thing being squared) rides in the task binary like
  * a broadcast, each input row loops over it inside whole-stage codegen, and
  * only n_sample·k stat rows ever exist. Same O(n²) arithmetic, none of the
  * row-materialization cost, parallel over the sample's partitions.
  */
case class PairDistStats(
    i: Expression, y: Expression,
    sampleIds: Array[Long], sampleJs: Array[Long], sampleYs: Array[Array[Double]],
    dScale: Double) extends BinaryExpression {

  require(sampleIds.length == sampleJs.length && sampleIds.length == sampleYs.length,
    "sample arrays must align")

  override def left: Expression = i
  override def right: Expression = y

  override def checkInputDataTypes(): TypeCheckResult = (i.dataType, y.dataType) match {
    case (LongType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"pair_dist_stats requires (long, array<double>), got (${a.simpleString}, ${b.simpleString})")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("j2", LongType, nullable = false),
    StructField("sfx", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "pair_dist_stats"

  /** Sample regrouped by cluster id (ascending), coordinates flattened for
    * a cache-friendly inner loop. Built once per deserialized instance.
    */
  @transient private lazy val groups: Array[(Long, Array[Long], Array[Double])] = {
    val dim = if (sampleYs.isEmpty) 0 else sampleYs(0).length
    sampleJs.toArray.distinct.sorted.map { j2 =>
      val idx = sampleJs.indices.filter(p => sampleJs(p) == j2)
      val ids = idx.map(sampleIds).toArray
      val flat = new Array[Double](idx.length * dim)
      var q = 0
      while (q < idx.length) {
        System.arraycopy(sampleYs(idx(q)), 0, flat, q * dim, dim)
        q += 1
      }
      (j2, ids, flat)
    }
  }

  def compute(selfI: Long, yd: ArrayData): ArrayData = {
    val yArr = yd.toDoubleArray()
    val dim = yArr.length
    val out = new Array[AnyRef](groups.length)
    var outN = 0
    var gi = 0
    while (gi < groups.length) {
      val (j2, ids, flat) = groups(gi)
      var sfx = 0L
      var cnt = 0L
      var p = 0
      val np = ids.length
      while (p < np) {
        if (ids(p) != selfI) {
          // same IEEE sequence as sq_dist's left fold: ((0+d0²)+d1²)+…
          var acc = 0.0
          var d = 0
          val base = p * dim
          while (d < dim) {
            val diff = flat(base + d) - yArr(d)
            acc += diff * diff
            d += 1
          }
          sfx += PairDistStats.roundHalfUpDistance(math.sqrt(acc) * dScale)
          cnt += 1
        }
        p += 1
      }
      if (cnt > 0) {
        out(outN) = new GenericInternalRow(Array[Any](j2, sfx, cnt))
        outN += 1
      }
      gi += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN))
  }

  override def nullSafeEval(iv: Any, yv: Any): Any =
    compute(iv.asInstanceOf[Long], yv.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pairDistStats", this, classOf[PairDistStats].getName)
    defineCodeGen(ctx, ev, (ic, yc) => s"$ref.compute($ic, $yc)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PairDistStats =
    copy(i = newLeft, y = newRight)
}

object PairDistStats {
  /** Spark's `round(d)` on a double as a long, through the one HALF_UP
    * kernel ([[graft.operators.KMeans.roundHalfUpLong]]), for either sign:
    * `BigDecimal.valueOf(d).setScale(0, HALF_UP)` — HALF_UP on the
    * SHORTEST-DECIMAL representation — collapses to plain binary HALF_UP,
    * because for |d| < 2^52 no half-integer boundary `k + 0.5` (itself
    * exactly representable in that range) can lie strictly between `d`
    * and its shortest decimal `R(d)`: `R(d)` rounds-to-nearest back to `d`,
    * which a representable value in between would contradict. A midpoint
    * rounds away from zero (−2.5 → −3, as Spark's does); a non-finite `d`
    * casts as the JVM does (NaN → 0). This avoids the `Double.toString`
    * inside `BigDecimal.valueOf` (~2 µs/call), which otherwise dominates the
    * whole O(n²) silhouette stage. Parity with the BigDecimal form is
    * pinned in PlansSpec, including adversarial near-`.5` values like
    * `0.49999999999999994` and negative midpoints.
    */
  def roundHalfUp(d: Double): Long =
    if (java.lang.Double.isFinite(d)) graft.operators.KMeans.roundHalfUpLong(d) else d.toLong

  /** [[roundHalfUp]] of a `d` that is not negative (a scaled distance, or
    * NaN): the same truncation kernel with no sign to restore, so the
    * O(n²) pair loop pays for none. `t = trunc(d)` and `d − t` are exact
    * below 2^52 and a midpoint's `frac − 0.5` is +0.0, so `t + 1` exactly
    * when that sign bit is clear; from 2^52 on, and for NaN and +∞, the
    * JVM cast (pinned ≡ [[roundHalfUp]] in PlansSpec).
    */
  def roundHalfUpDistance(d: Double): Long =
    if (d < 4.503599627370496e15) { // 2^52; false for NaN and +∞
      val t = d.toLong
      t + ((java.lang.Double.doubleToRawLongBits(d - t - 0.5) >>> 63) ^ 1L)
    } else d.toLong

  /** The definitional form `roundHalfUp` is proven against (what Spark's
    * `round` evaluates for a double) — test-support only.
    */
  def roundHalfUpBigDecimal(d: Double): Long =
    java.math.BigDecimal.valueOf(d).setScale(0, RoundingMode.HALF_UP).longValue()
}
