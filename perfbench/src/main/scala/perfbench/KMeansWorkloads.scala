package perfbench

import graft.operators.{KMeans, Quality}
import graft.operators.KMeans.{Centroid, FitResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Shared pieces of the two k-means workloads. */
abstract class KMeansWorkload extends Workload {
  var points: DataFrame = _
  /** Rows of the point set. */
  def n: Long
  /** (steps, rows, k, dim) of every traced fit. */
  val tracedFits = mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
  private val reference = mutable.Map.empty[String, Any]

  /** Generate the point set for this seed, cache it and log its digest. */
  protected def makePoints(ctx: Ctx, n: Long, dim: Int, k: Int, spread: Double, noise: Double): Unit = {
    points = ctx.phase(s"$name.generate") {
      val p = Gen.mixture(ctx.spark, n, dim, k, spread, noise, ctx.seed, ctx.cpus).cache()
      System.err.println(s"[perfbench] $name data digest ${Gen.digest(p)} (seed ${ctx.seed})")
      p
    }
  }

  /** The session conf KMeans.fit runs its loop under (adaptive execution
    * off, one shuffle partition); used to time seeding as its own call under
    * the same conf the fit gives it.
    */
  protected def iterConf[A](spark: SparkSession)(body: => A): A = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }

  /** A fit traced as seeding plus `fitFrom`, the two calls KMeans.fit makes. */
  protected def tracedFit(ctx: Ctx, k: Int, dim: Int, tol: Double, maxIter: Int)(
      seed: => Seq[Centroid]): FitResult = {
    val t = ctx.tracer
    t.span("KMeans.fit") {
      val cs = t.span("KMeans.seed")(iterConf(ctx.spark)(seed))
      val fit = t.span("KMeans.iterate")(KMeans.fitFrom(points, cs, dim, tol, maxIter))
      tracedFits += ((fit.steps, n, k, dim))
      fit
    }
  }

  override def layerMetrics(ctx: Ctx, t: TraceView): Seq[(String, Double, String)] = {
    val iters = t.spansNamed("KMeans.iterate")
    val steps = tracedFits.map(_._1).sum.toDouble
    val iterCounts = t.counts(iters)
    val evals = tracedFits.map { case (s, rows, k, dim) => s.toDouble * rows * k * dim }.sum
    def secs(n: String) = t.perPass(t.secs(t.spansNamed(n)))
    Seq(
      ("KMeans.fit_s", secs("KMeans.fit"), "s"),
      ("KMeans.seed_s", secs("KMeans.seed"), "s"),
      ("KMeans.iterate_s", secs("KMeans.iterate"), "s"),
      ("KMeans.steps", t.perPass(steps), "count"),
      ("KMeans.step_s", if (steps > 0) t.secs(iters) / steps else 0.0, "s"),
      ("KMeans.jobs_per_step", if (steps > 0) iterCounts.jobs / steps else 0.0, "count"),
      ("KMeans.dist_evals_per_task_s",
        if (iterCounts.taskMs > 0) evals / (iterCounts.taskMs / 1e3) else 0.0, "1/s"),
      ("Quality.fit_s", secs("Quality.fit"), "s"),
      ("Quality.elbow_s", secs("Quality.elbow"), "s"),
      ("Quality.silhouette_s", secs("Quality.silhouette"), "s"))
  }

  /** Every run of one operation must return the result of its first run
    * (the untraced and the traced compositions included).
    */
  protected def sameAsFirst(op: Op, r: Any, key: Any): Option[String] = {
    val first = reference.getOrElseUpdate(op.name, key)
    if (first == key) None else Some(s"${op.name}: result differs from its first run")
  }
}

/** `KMeans.fitAuto` on a Gaussian mixture just above the driver-local gate
  * (rows·dim > 4M cells), so the engine picks the distributed Lloyd loop.
  * The blobs overlap enough that Lloyd needs four steps to bring the
  * movement under `tol` (a step costs about a second on 4 cores).
  */
final class LloydScale extends KMeansWorkload {
  val name = "lloyd_scale"
  val n = 262144L
  val dim = 16
  val k = 4
  val tol = 0.01
  val maxIter = 60
  def setup(ctx: Ctx): Unit = {
    makePoints(ctx, n, dim, k, spread = 1.0, noise = 1.0)
  }

  /** One warm-up fit: after a second one the timed fit was only 2-10%
    * faster than that second fit (five seeds), not worth its 4 s in each of
    * the campaign's runs.
    */
  override def warmupPasses: Int = 1

  def ops(ctx: Ctx): Seq[Op] = Seq(Op(name, "km", c =>
    if (!c.tracer.enabled) KMeans.fitAuto(points, k, dim, tol, maxIter)
    else tracedFit(c, k, dim, tol, maxIter) {
      c.tracer.span("KMeans.gate")(points.count()) // fitAuto's size check
      KMeans.seedFirstK(points, k)
    }))

  def check(ctx: Ctx, op: Op, r: Any): Option[String] = {
    val fit = r.asInstanceOf[FitResult]
    if (!(fit.finalMovement < tol && fit.steps < maxIter))
      Some(s"fit did not converge: movement ${fit.finalMovement} after ${fit.steps} steps")
    else sameAsFirst(op, r, (fit.steps, fit.centroids))
  }

  /** Each centroid must be the mean of the points assigned to the previous
    * step's centroids, to within the fixed-point resolution (1e-6).
    */
  override def finalChecks(ctx: Ctx, last: Map[String, Any]): Seq[String] =
    last.values.toSeq.flatMap { r =>
      val fit = r.asInstanceOf[FitResult]
      val prev = fit.log.filter(_.step == fit.steps - 1).map(e => Centroid(e.j, e.c))
      val means = KMeans.assign(points, prev)
        .groupBy("j").agg(array((0 until dim).map(d => avg(element_at(col("Y"), d + 1))): _*))
        .collect().map(row => row.getLong(0) -> row.getSeq[Double](1)).toMap
      fit.centroids.flatMap { c =>
        val m = means.getOrElse(c.j, Nil)
        val err = if (m.size != dim) Double.PositiveInfinity
          else c.c.zip(m).map { case (a, b) => math.abs(a - b) }.max
        if (err <= 2e-6) None else Some(s"centroid ${c.j} is $err away from its points' mean")
      }.headOption
    }
}

/** The OptimalK flow, `Quality.optimalKSweep`: a k-means++ fit per
  * candidate k, the elbow sums, and the simplified silhouette on a sample,
  * on a mixture below the driver-local gate with a planted K.
  */
final class ChooseK extends KMeansWorkload {
  val name = "choose_k"
  val n = 10000L
  val dim = 8
  val planted = 3
  val ks = 2 to 4
  // bounds the wrong-K fits: a sweep took 8 Lloyd steps on both seeds traced
  val maxIter = 4
  // coprime with the planted K, so the sample holds every cluster
  val sampleEvery = 11L
  var sample: DataFrame = _

  def setup(ctx: Ctx): Unit = {
    makePoints(ctx, n, dim, planted, spread = 30.0, noise = 1.0)
    sample = points.filter(col("i") % sampleEvery === 0L).cache()
    sample.count()
  }

  def ops(ctx: Ctx): Seq[Op] = Seq(Op(name, "km", c =>
    if (!c.tracer.enabled)
      Quality.optimalKSweep(points, sample, dim, ks, seed = c.seed, maxIter = maxIter)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    else ks.map { k =>
      // the calls optimalKSweep makes, one span each
      val t = c.tracer
      val fit = t.span("Quality.fit")(tracedFit(c, k, dim, 0.01, maxIter)(
        KMeans.seedPlusPlus(points, k, c.seed)))
      val e = t.span("Quality.elbow")(Quality.elbow(points, fit.centroids).head())
      val si = t.span("Quality.silhouette")(
        Quality.silhouetteSimplified(KMeans.assign(sample, fit.centroids)).select(col("si")).head())
      (k.toLong, e.getDouble(0), e.getDouble(1), if (si.isNullAt(0)) Double.NaN else si.getDouble(0))
    }))

  def check(ctx: Ctx, op: Op, r: Any): Option[String] = {
    val rows = r.asInstanceOf[Seq[(Long, Double, Double, Double)]]
    val best = rows.maxBy(_._4)._1
    if (rows.size != ks.size || rows.exists(x => !(x._2.isFinite && x._3.isFinite && x._4.isFinite)))
      Some(s"sweep returned ${rows.size} rows or a non-finite value")
    else if (best != planted) Some(s"silhouette peaks at k=$best, planted K is $planted")
    else sameAsFirst(op, r, rows)
  }
}
