package graft.operators

import java.math.BigInteger
import org.apache.spark.GraftJobShim
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag
import scala.util.{Failure, Success, Try}
import graft.functions.VectorOps._
import graft.plans.NearestSqDistLit

/** K-means (k-means++ seeding + Lloyd iterations) as Spark dataflow.
  *
  * Mirrors the reference's architecture (reference k-means.sql + k-means.sh):
  * the data plane is declarative relational dataflow over a points relation
  * `YH(i: long, Y: array<double>)`, while the *loop decision lives outside the
  * engine* — the reference drives it from bash (k-means.sh:16-33), we drive it
  * from the Spark driver, which is exactly how iterative ML is idiomatically
  * written on Spark.
  *
  * Scale design (100 TB posture):
  *  - Centroid state is k·dim doubles held on the DRIVER and shipped to
  *    executors inside each step's task closure — the analog of the
  *    reference's scalar-subquery broadcast of `(groupArray(j),
  *    groupArray(C))` (k-means.sql:36). No join, no shuffle for assignment.
  *  - Every scan is ONE kernel job with one per-row body and no query
  *    planned, its ≤ P partial answers merged on the driver: a Lloyd step
  *    ([[LloydKernel]]: the O(k·dim) argmin and fixed-point (Σ, n) per
  *    partition — the partial sums that made the reference shard-friendly,
  *    README.md:15), a k-means++ round ([[seedPlusPlusScalable]]: the
  *    `rand(seed)`/`max_by` draw replayed per partition), a k-means|| pass,
  *    the elbow, and the exact inverse-CDF draw ([[inverseCdfDraw]]: a
  *    key-bucket census, then the crossing bucket's rows).
  *  - Several fits over the same points run in LOCKSTEP ([[iterate]]): one
  *    scan per step serves every still-moving centroid set, so a choose-K
  *    sweep pays one job per step, not one per (k, step).
  *  - Each fit places its points once ([[Points]]) for its seeding, Lloyd
  *    loop and scoring (a fitted query's census too: [[fitBoundedCensus]],
  *    [[fitMiniBatchCensus]]): PARTITIONED, each partition decoded ONCE into a
  *    resident block of flat primitive arrays (keys, coordinates, their
  *    fixed-point encodes, the k-means|| coins; 16 B per cell), persisted
  *    MEMORY_ONLY until the fit ends (the driver holds O(k·dim)); or
  *    COLLECTED, the same blocks on the driver in partition order, while
  *    `rows·dim ≤ localMaxCells` (default 4M cells, 64 MB; [[fitAuto]],
  *    [[fitBounded]], [[fitMiniBatch]], Quality.optimalKSweep and both gap
  *    statistics). The size gate is the job that builds the blocks
  *    ([[Points.place]]), which under the bound also brings them. A scan
  *    runs per block with its partition's index, so either placement gives
  *    the same bits through one Lloyd loop and one chain per seeding.
  *  - A placement can hold several point SETS over the same rows
  *    ([[Points.withSets]]): the gap statistics place their input once
  *    and derive their reference sets from it, so every set's draws,
  *    Lloyd steps and dispersions share each scan.
  *  - Per-dimension sums are fixed-point integers (`round(x*scale)::long`,
  *    `fxScale > 0`), so results do not depend on partition count or merge
  *    order — a deterministic distributed k-means. A sum past the long
  *    range (`max|x|·scale·rowsPerCluster` near 2^63) fails with Spark's
  *    ARITHMETIC_OVERFLOW under ANSI and wraps without it, as `sum` does.
  */
object KMeans {

  /** One centroid: id `j` (reference k-means.sql:11 `j Int32`, widened to
    * long) + coordinates. The full `Seq` is the reference's latest-step WCR
    * slice.
    */
  final case class Centroid(j: Long, c: Seq[Double])

  /** Centroid log entry — the WCR table analog (k-means.sql:11). */
  final case class LogEntry(step: Long, j: Long, c: Seq[Double])

  final case class FitResult(
      centroids: Seq[Centroid],
      log: Seq[LogEntry],
      steps: Long,
      finalMovement: Double)

  private def ids(cs: Seq[Centroid]): Seq[Long] = cs.map(_.j)
  private def coords(cs: Seq[Centroid]): Seq[Seq[Double]] = cs.map(_.c)

  // ---------------------------------------------------------------- seeding

  /** Deterministic seed: the k points with the smallest keys, j = 1..k in key
    * order. The reference's first seed is a (shell-randomized) offset-limit
    * pick (k-means.sql:12, k-means.sh:9); we fix the draw for reproducibility.
    */
  def seedFirstK(points: DataFrame, k: Int): Seq[Centroid] =
    points.orderBy("i").limit(k).collect().zipWithIndex.map { case (r, ix) =>
      Centroid(ix + 1L, r.getSeq[Double](r.fieldIndex("Y")))
    }.toSeq

  /** Reference-fidelity first seed: the reference randomizes the first
    * centroid with a shell-random offset-limit pick over the points relation
    * (`limit $((1 + $RANDOM % 100)),1`, k-means.sh:9). Same behavior, made
    * reproducible: a seeded PRNG draws offset ∈ [1, maxOffset], and the
    * offset-th point in key order is the seed (key order stands in for the
    * reference's insertion order, which Spark does not guarantee).
    * `seedFirstK(points, 1)` remains the deterministic default.
    */
  def seedFirstRandom(points: DataFrame, seed: Long, maxOffset: Int = 100): Seq[Centroid] = {
    val offset = 1 + new scala.util.Random(seed).nextInt(maxOffset)
    points.orderBy("i").offset(offset).limit(1).collect().map { r =>
      Centroid(1L, r.getSeq[Double](r.fieldIndex("Y")))
    }.toSeq
  }

  /** One k-means++ seeding round, exact inverse-CDF form — the reference's
    * `centroidsInit` view (k-means.sql:16-33): anti-join points already chosen
    * (by COORDINATES, not keys — k-means.sql:27 `Y not in (select C from
    * WCR)`), weight every remaining point by its distance to the nearest
    * chosen centroid, then draw one point ∝ weight via cumulative sum +
    * threshold (k-means.sql:21-33).
    *
    * Divergence (SURVEY.md Q1): the reference weights by PLAIN distance
    * (k-means.sql:24, despite its `dx2` alias); we implement textbook
    * k-means++ D² weighting.
    *
    * The uniform draw u = uNum/uDen is caller-supplied (seeded / fixed for
    * the oracle) as a RATIONAL so the threshold compare `cum·uDen ≥
    * total·uNum` stays in exact integer domain — weights are rounded to
    * integers, making cumulative sums order-exact and the whole draw
    * bit-reproducible against the DuckDB oracle.
    *
    * A null `Y` weighs null (not the clamp below) and is never drawn; a
    * null key that survives the anti-join comes first in the running sum
    * (its own bucket, before every other), as [[inverseCdfDraw]] orders
    * it. This form is the `km_seed_next` oracle query,
    * ReferenceSurface's `centroidsInit` view and the specs' reference for
    * the fits' kernel draw ([[inverseCdfDraw]]), as [[lloydStepDF]] is.
    *
    * NOTE scale: the global running sum is a two-level prefix sum, not a
    * single-partition window. Rows are bucketed by a DETERMINISTIC range
    * function of the key (`(i - min_i) div width`, monotone in `i`), each
    * bucket computes its local prefix in parallel, and the ≤P per-bucket
    * totals are folded into exclusive offsets on the driver. Because weights
    * are integers, `offset(bucket) + local_prefix` is bit-identical to the
    * one-window form in any partitioning — the oracle compare stays exact
    * while the stage scales as P parallel tasks. (Bucketing is a pure
    * function of the data, so re-executions of the lazy plan can never
    * disagree with the offsets job.)
    *
    * NOTE overflow: the integer-domain compare needs `total·uNum` and
    * `cw·uDen` to fit in a signed 64-bit long (cw ≤ total), which this
    * binding's per-row weights (~2.5e11) approach around sf1+. Instead of
    * failing, the pass derives a shrink of `weightScale` from the observed
    * double-domain total (weights are only sampling weights: a uniform
    * rescale keeps the distribution up to rounding); the `require` below
    * is the backstop. The rescale never fires at oracle scale.
    *
    * `d1Weights = true` is the BUG-COMPAT mode: weight by plain L2 distance
    * exactly as the reference's `centroidsInit` actually computes it
    * (k-means.sql:24 — `dx2` in name only), reproducing the reference
    * as-built rather than as-intended. Default stays textbook D².
    *
    * `dedupY = true` replays the reference's `group by Y` (k-means.sql:28,
    * A10): identical coordinates collapse to ONE weighted row before the
    * cumulative draw — on duplicate-heavy data (the reference's own
    * integer-grid demo) a popular point is drawn with a single point's
    * weight, not its multiplicity. The collapsed row keeps the group's
    * min key as its position in the (deterministic) key-ordered running
    * sum. Default (false) weights every row — textbook k-means++ over a
    * multiset.
    */
  def seedNextInverseCdf(points: DataFrame, chosen: Seq[Centroid],
      uNum: Long, uDen: Long, weightScale: Double = 1.0,
      d1Weights: Boolean = false, dedupY: Boolean = false): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val chosenDf = chosen.map(_.c).toDF("C")
    val antiJoined = points.join(chosenDf, points("Y") === chosenDf("C"), "left_anti")
    val surviving =
      if (dedupY) antiJoined.groupBy("Y").agg(min("i").as("i")).select("i", "Y")
      else antiJoined
    val d2 = graft.plans.native.nearest_sq_dist(col("Y"), coords(chosen))
    val weight = if (d1Weights) sqrt(d2) else d2
    // the long cast clamped at 2^62 so the ANSI cast never throws: inert
    // unless the total passes bound/2, where the rescale below reweighs
    def weightedAt(s: Double) = surviving.withColumn("w",
      when(weight.isNotNull, least(round(weight * s), lit((1L << 62).toDouble))).cast("long"))
    // ONE aggregate: the exact total as a decimal(38,0) sum (a long sum would
    // throw exactly where the rescale is needed), the key range, and the
    // UNCLAMPED double sum: the sentinel the rescale derives its shrink from
    def headAt(s: Double) = weightedAt(s).agg(
      sum(col("w").cast("decimal(38,0)")), min("i"), max("i"),
      count(lit(1)), sum(round(weight * s))).head()
    val bound = Long.MaxValue / math.max(uNum, math.max(uDen, 1L))
    var effScale = weightScale
    var head = headAt(effScale)
    if (head.isNullAt(0)) // no surviving points — empty draw
      return weightedAt(effScale)
        .select(lit(chosen.map(_.j).max + 1).as("j"), col("i"), col("Y")).limit(0)
    // ADAPTIVE weightScale (the overflow NOTE above): past half the bound the
    // unclamped total is rescaled to a quarter of it, so post-rescale
    // sum(round(w·s')) ≤ bound/4 + n/2 — in-bounds at any sf
    if (head.getDouble(4) > bound.toDouble * 0.5) {
      effScale = weightScale * (bound.toDouble * 0.25) / head.getDouble(4)
      head = headAt(effScale)
    }
    val weighted = weightedAt(effScale)
    val total = head.getDecimal(0).toBigInteger.longValueExact()
    val (minI, maxI) = (head.getLong(1), head.getLong(2))
    require(total >= 0 && total <= bound,
      s"k-means++ draw would overflow Long: total weight $total × u=$uNum/$uDen; " +
        "reduce weightScale")
    // two-level prefix sum over deterministic key-range buckets (see scaladoc)
    val nBuckets = math.max(1, spark.sparkContext.defaultParallelism)
    val width = math.max(1L, (maxI - minI) / nBuckets + 1)
    // the null keys' bucket, −1, sorts first
    val bucketed = weighted.withColumn("b", coalesce(((col("i") - minI) / width).cast("int"), lit(-1)))
    val bucketSums = bucketed.groupBy("b").agg(sum("w").as("bw"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).sortBy(_._1)
    val offsets = bucketSums.map(_._1)
      .zip(bucketSums.map(_._2).scanLeft(0L)(_ + _)).toMap
    val localW = Window.partitionBy("b").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val next = bucketed
      .withColumn("cw", element_at(typedLit(offsets), col("b")) + sum("w").over(localW))
      .filter(col("cw") * uDen >= lit(total) * uNum)
      .orderBy("cw", "i")
      .limit(1)
    next.select(lit(chosen.map(_.j).max + 1).as("j"), col("i"), col("Y"))
  }

  /** Scalable k-means++ round: same distribution, no global prefix sum.
    * Weighted sampling via the exponential-race trick: each point draws
    * key = u^(1/w) and the global max wins — a single map + one k-row
    * reduce, fully parallel (A-Res / Efraimidis–Spirakis weighted reservoir
    * sampling). This is what survives 1000 executors.
    *
    * The round is the DataFrame
    * `points.select(i, Y, when(w > 0, pow(rand(seed), 1 / w)).otherwise(-1))`
    * + `max_by(struct(i, Y), key)` replayed bit for bit as ONE kernel job
    * over `points`' resident blocks ([[plusPlusRound]]; the DataFrame form
    * is the reference in KMeansSpec), so no query is planned per round. A null
    * `Y`, or one whose distance to every chosen centroid is NaN, has no
    * weight and gets key −1: it can only win when no row has weight.
    */
  def seedPlusPlusScalable(points: DataFrame, chosen: Seq[Centroid], seed: Long): Centroid =
    Points.withPartitioned(points)(plusPlusRound(_, chosen, seed))

  /** Full k-means++ seeding: first centroid = deterministic min-key point,
    * then k−1 scalable weighted rounds (reference k-means.sh:9-13), each one
    * kernel job over the points placed once per chain (the first pick is
    * the job that builds their blocks). Round r reads only the first r
    * seeds and `seed + r`, so on one partitioning
    * `seedPlusPlus(p, k, s).take(k2) == seedPlusPlus(p, k2, s)` for k2 ≤ k
    * (pinned in KMeansSpec; Quality.optimalKSweep seeds once on it).
    */
  def seedPlusPlus(points: DataFrame, k: Int, seed: Long): Seq[Centroid] =
    Points.withPartitioned(points)(plusPlusSeeds(_, k, seed))

  /** [[seedPlusPlus]] over placed points, either placement: the collected
    * blocks keep their partition indices, so the draws are the same bits.
    */
  private[operators] def plusPlusSeeds(points: Points, k: Int, seed: Long): Seq[Centroid] = {
    require(k >= 1, s"k-means++ needs k >= 1, got $k")
    var cs = points.firstK(1)
    while (cs.size < k)
      cs = cs :+ plusPlusRound(points, cs, seed + cs.size)
    cs
  }

  /** One ++ round over the placed points, replaying what Spark evaluates
    * for the DataFrame round:
    *  - `w` is `nearest_sq_dist`'s own fold ([[NearestSqDistLit.fold]]);
    *  - `rand(seed)` is `XORShiftRandom(seed + partitionIndex).nextDouble()`,
    *    advanced only on rows whose `w > 0` branch is taken (a null `Y`
    *    takes `otherwise(-1)`), and `pow` is `StrictMath.pow`;
    *  - `max_by` keeps its buffer only if it is strictly greater
    *    (`SQLOrderingUtil.compareDoubles`), on update and on merge, and its
    *    single reducer merges the partitions in index order — so a tied key
    *    goes to the later row, and then to the later partition.
    * A row whose every distance is NaN (Spark's `w` is `Double.MaxValue`,
    * key ≈ 1.0) still draws its `u`, so every other row keeps its key, but
    * its own key is −1.
    */
  private def plusPlusRound(points: Points, chosen: Seq[Centroid], seed: Long): Centroid = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val (cs, k, dim) = foldOf(coords(chosen))
    val wins = points.indexed("KMeans.pp.round") { (part, it) =>
      val rng = org.apache.spark.sql.GraftPlanShim.xorShiftRandom(seed + part)
      val dist = new Array[Double](1)
      var seen = false
      var bestKey = 0.0
      var bestY: Array[Double] = null // null: a null-Y winner
      it.foreach { p =>
        val key = if (p.y == null) -1.0 else {
          NearestSqDistLit.fold(cs, k, dim, p.y, p.yOff, p.n, dist)
          val w = dist(0)
          if (w > 0) StrictMath.pow(rng.nextDouble(), 1.0 / w)
          else { if (w.isNaN) rng.nextDouble(); -1.0 }
        }
        if (!seen || compareDoubles(bestKey, key) <= 0) {
          seen = true
          bestKey = key
          bestY = if (p.y == null) null else java.util.Arrays.copyOfRange(p.y, p.yOff, p.yOff + p.n)
        }
      }
      if (seen) Some((bestKey, bestY)) else None
    }
    val win = wins.flatten.reduceOption((l, r) => if (compareDoubles(l._1, r._1) > 0) l else r)
    Centroid(chosen.map(_.j).max + 1, win.flatMap(w => Option(w._2)).map(_.toSeq).orNull)
  }

  /** The per-point, per-round sampling coin for k-means|| — a deterministic
    * uniform in [0,1): the top 53 bits of `xxhash64(i, seed, round)`, one
    * expression evaluated in the plan that builds either placement.
    */
  private def coinCol(seed: Long, r: Int): Column =
    shiftrightunsigned(xxhash64(col("i"), lit(seed), lit(r)), 11)
      .cast("double") / lit(9007199254740992.0) // 2^53

  /** [[coinCol]]'s coins of rounds 1..`u.length` for the key `i`, as Spark
    * evaluates `xxhash64(i, seed, r)` (seed 42, the long `i` and `seed`
    * then the int `r`), into `u`.
    */
  private[graft] def coins(i: Long, seed: Long, u: Array[Double]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.XXH64.{hashInt, hashLong}
    var r = 0
    while (r < u.length) {
      u(r) = (hashInt(r + 1, hashLong(seed, hashLong(i, 42L))) >>> 11).toDouble / 9007199254740992.0
      r += 1
    }
  }

  /** [[coinCol]] for rounds 1..`rounds`. */
  private[graft] def coinCols(seed: Long, rounds: Int): Seq[Column] =
    (1 to rounds).map(coinCol(seed, _))

  /** k-means|| seeding (Bahmani et al., "Scalable k-means++", VLDB 2012 —
    * the algorithm MLlib also uses): instead of k−1 sequential cluster-wide
    * rounds, run a FIXED small number of rounds that each oversample
    * ~`overFactor·k` candidates in parallel (each point joins the candidate
    * set independently with probability min(1, l·d²/ϕ)), then solve the
    * tiny weighted clustering problem on the candidates driver-side.
    *
    * Why it matters at 100 TB: sequential ++ is k−1 full scans BY DESIGN
    * (each round depends on the last); k-means|| needs 2·`rounds` + 1
    * scans regardless of k. Candidate sampling is deterministic — the per-point
    * coin is `xxhash64(i, seed, round)` mapped to [0, 1), a pure function of
    * the data, so any partitioning yields the same seeds (unlike `rand`,
    * which draws per partition index).
    *
    * The driver-side refine is weighted k-means++ then weighted Lloyd on
    * ≤ rounds·overFactor·k candidates (each weighted by the number of points
    * it attracts) — O(candidates²·dim) driver work, microscopic next to one
    * data scan.
    *
    * The scans are [[parallelPhi]], [[parallelDraw]] and [[parallelWeights]],
    * each the arithmetic of the DataFrame step it replaces (KMeansSpec's
    * reference), over the resident blocks here and the collected rows in
    * [[fitLocal]]. A null `Y` has no distance and takes no part in them.
    */
  def seedParallel(points: DataFrame, k: Int, seed: Long, rounds: Int = 3,
      overFactor: Double = 2.0): Seq[Centroid] =
    Points.withPartitioned(points, coinCols(seed, rounds))(
      parallelSeeds(_, k, seed, rounds, overFactor))

  /** [[seedParallel]] over points carrying the coins of rounds 1..`rounds`. */
  private[operators] def parallelSeeds(points: Points, k: Int, seed: Long, rounds: Int,
      overFactor: Double): Seq[Centroid] = {
    var cands = points.firstK(1).map(_.c).toVector
    val l = overFactor * k
    for (r <- 1 to rounds) {
      val phi = parallelPhi(points, cands)
      if (phi > 0) cands = (cands ++ parallelDraw(points, cands, r, phi, l)).distinct
    }
    localWeightedKMeans(cands.map(_.toArray).toArray,
      parallelWeights(points, cands).map(_.toDouble), k, seed)
      .zipWithIndex.map { case (c, ix) => Centroid(ix + 1L, c.toSeq) }
  }

  /** Centroids as [[NearestSqDistLit.fold]]'s row-major array, count, dim. */
  private[operators] def foldOf(cands: Seq[Seq[Double]]): (Array[Double], Int, Int) =
    (cands.flatten.toArray, cands.size, cands.headOption.fold(0)(_.size))

  /** k-means|| ϕ = `sumFx(d², 1.0)` over the non-null `Y`s: each
    * [[NearestSqDistLit.sqDist]] [[fxEncode]]d and added as Spark's long
    * `sum` adds ([[plusLong]]) — an integer total, the same under any
    * partitioning.
    */
  private[graft] def parallelPhi(points: Points, cands: Seq[Seq[Double]]): Double = {
    val (cs, k, dim) = foldOf(cands)
    val ansi = points.ansi
    points.partials("KMeans.parallel.phi") { it =>
      var s = 0L
      it.foreach { p =>
        if (p.y != null)
          s = plusLong(s, fxEncode(NearestSqDistLit.sqDist(cs, k, dim, p.y, p.yOff, p.n), ansi), ansi)
      }
      s
    }.foldLeft(0L)(plusLong(_, _, ansi)).toDouble
  }

  /** k-means|| round `r`'s draw: the non-null `Y`s with `coin_r·ϕ < d²·l`,
    * in key order, a null key first and a tied key in partition order (the
    * refine's PRNG reads it).
    */
  private[graft] def parallelDraw(points: Points, cands: Seq[Seq[Double]], r: Int,
      phi: Double, l: Double): Seq[Vector[Double]] = {
    val (cs, k, dim) = foldOf(cands)
    points.partials("KMeans.parallel.draw") { it =>
      val drawn = Array.newBuilder[(Boolean, Long, Vector[Double])]
      it.foreach { p =>
        if (p.y != null && p.u(r - 1) * phi < NearestSqDistLit.sqDist(cs, k, dim, p.y, p.yOff, p.n) * l)
          drawn += ((!p.nullKey, p.i, p.y.slice(p.yOff, p.yOff + p.n).toVector))
      }
      drawn.result()
    }.flatten.sortBy(d => (d._1, d._2)).map(_._3).toSeq
  }

  /** How many points each candidate attracts: the argmin counted per slot
    * ([[slotCounts]]). A null `Y` and the no-winner slot (no distance below
    * Double.MaxValue) drop, as `nearestIdCols`' id −1 matched no candidate.
    */
  private[graft] def parallelWeights(points: Points, cands: Seq[Seq[Double]]): Array[Long] =
    slotCounts("KMeans.parallel.weights", points, cands).init

  /** Rows per nearest-centroid slot of `cands` ([[NearestSqDistLit.fold]]'s),
    * slot k counting the no-winner rows and the null `Y`s, from ONE scan
    * described as `name`.
    */
  private def slotCounts(name: String, points: Points, cands: Seq[Seq[Double]]): Array[Long] = {
    val (cs, k, dim) = foldOf(cands)
    points.partials(name) { it =>
      val n = new Array[Long](k + 1)
      it.foreach(p => n(if (p.y == null) k else NearestSqDistLit.fold(cs, k, dim, p.y, p.yOff, p.n, null)) += 1)
      n
    }.foldLeft(new Array[Long](k + 1))((a, b) => Array.tabulate(k + 1)(x => a(x) + b(x)))
  }

  /** Driver-side weighted k-means for the k-means|| refine: weighted ++
    * seeding (deterministic PRNG) followed by weighted Lloyd to a fixpoint
    * (≤ 30 iterations). Pure Scala on ≤ a few hundred candidate rows.
    */
  private[operators] def localWeightedKMeans(xs: Array[Array[Double]],
      w: Array[Double], k: Int, seed: Long, maxIter: Int = 30): Seq[Array[Double]] = {
    val n = xs.length
    if (n <= k) return xs.toSeq
    val rnd = new scala.util.Random(seed)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var d = 0
      while (d < a.length) { val t = a(d) - b(d); s += t * t; d += 1 }
      s
    }
    // weighted ++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(xs(rnd.nextInt(n)))
    val minD = Array.fill(n)(Double.MaxValue)
    while (centers.size < k) {
      var i = 0
      var tot = 0.0
      while (i < n) {
        val d = sq(xs(i), centers.last)
        if (d < minD(i)) minD(i) = d
        tot += minD(i) * w(i)
        i += 1
      }
      val thr = rnd.nextDouble() * tot
      var acc = 0.0
      var pick = -1
      i = 0
      while (i < n && pick < 0) {
        acc += minD(i) * w(i)
        if (acc >= thr) pick = i
        i += 1
      }
      centers += xs(if (pick < 0) n - 1 else pick)
    }
    // weighted Lloyd
    val dim = xs(0).length
    var cs = centers.toArray
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      val sums = Array.fill(k, dim)(0.0)
      val cnts = Array.fill(k)(0.0)
      val flat = cs.flatten
      var i = 0
      while (i < n) {
        // the nearest center; with none below Double.MaxValue, the first
        val best = NearestSqDistLit.fold(flat, k, dim, xs(i), 0, dim, null) % k
        var d = 0
        while (d < dim) { sums(best)(d) += xs(i)(d) * w(i); d += 1 }
        cnts(best) += w(i)
        i += 1
      }
      val next = Array.tabulate(k)(j =>
        if (cnts(j) > 0) Array.tabulate(dim)(d => sums(j)(d) / cnts(j)) else cs(j))
      moved = next.zip(cs).exists { case (a, b) => sq(a, b) > 1e-12 }
      cs = next
      it += 1
    }
    cs.toSeq
  }

  // ------------------------------------------------------------- assignment

  /** Reference `nearestCentroid` view (k-means.sql:35-39): adds column `j` =
    * id of nearest centroid. Centroids travel as literals (broadcast-in-plan);
    * zero shuffle, argmin fold with the native `sq_dist` kernel (bit-identical
    * to the pure-HOF form — see PlansSpec).
    */
  def assign(points: DataFrame, cs: Seq[Centroid]): DataFrame =
    points.withColumn("j",
      graft.plans.native.nearestIdNative(col("Y"), ids(cs), coords(cs)))

  /** [[assign]]'s ids for rows held on the driver, from the one nearest
    * fold ([[NearestSqDistLit.fold]]): slot → centroid id, and the
    * no-winner slot (every distance NaN) → −1, the fold's initial id
    * (pinned ≡ [[assign]] in KMeansSpec).
    */
  private[graft] def nearestIds(ys: Array[Array[Double]], cs: Seq[Centroid]): Array[Long] = {
    val (flat, k, dim) = foldOf(coords(cs))
    val js = ids(cs).toArray :+ -1L
    ys.map(y => js(NearestSqDistLit.fold(flat, k, dim, y, 0, y.length, null)))
  }

  /** `assign(points, cs).groupBy("j").agg(count(lit(1)).as("n"))` as `(j,
    * n)` rows in `j` order, without a query: `points` placed as resident
    * blocks ([[Points.partitioned]]) by the ONE job of its one scan,
    * described as `KMeans.build+census`, which counts rows per
    * [[nearestIds]] slot ([[slotCounts]]) and brings only the counts to
    * the driver; a null `Y` and the no-winner slot count as `j = −1`, and
    * slots sharing an id count together (pinned ≡ in KMeansSpec).
    */
  def census(points: DataFrame, cs: Seq[Centroid]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    Points.withPartitioned(points)(censusOf(_, cs)).toDF("j", "n")
  }

  /** [[census]]'s `(j, n)` rows over placed points (set 0): one
    * [[slotCounts]] scan, a job described as `KMeans.census` over resident
    * blocks, none over collected ones.
    */
  private[graft] def censusOf(points: Points, cs: Seq[Centroid]): Seq[(Long, Long)] = {
    val counts = slotCounts("KMeans.census", points, coords(cs))
    val js = ids(cs) :+ -1L
    js.indices.filter(counts(_) > 0).groupMapReduce(js)(counts(_))(_ + _).toSeq.sorted
  }

  /** `fit` over placed points, and [[censusOf]] its centroids over the same
    * placement: a fit and its census build the blocks once.
    */
  private def withCensus(fit: Points => FitResult)(placed: Points): (FitResult, Seq[(Long, Long)]) = {
    val f = fit(placed)
    (f, censusOf(placed, f.centroids))
  }

  // ------------------------------------------------------------- Lloyd step

  /** New centroids = per-cluster, per-dimension mean (reference Lloyd insert,
    * k-means.sql:42-46: `GROUP BY j, step` + `COLUMNS('tupleElement') APPLY
    * avg`). The schema-macro trick becomes plain programmatic column
    * generation. Returns the aggregate as a DataFrame of
    * (j, n, c: array<double>): one shuffle of k·(dim+2) values.
    *
    * Empty clusters silently disappear (GROUP BY emits no row) — the
    * reference's semantics (SURVEY.md §2.11.4); `fit` logs when k shrinks.
    */
  def lloydStepDF(assigned: DataFrame, dim: Int, fxScale: Double = 1e6): DataFrame = {
    requireFx(fxScale)
    val dims = (0 until dim).map(d => element_at(col("Y"), d + 1).as(s"_c$d"))
    val flat = assigned.select((col("j") +: dims): _*)
    val means = (0 until dim).map(d => avgFx(col(s"_c$d"), fxScale).as(s"_m$d"))
    val agged = flat.groupBy("j").agg(count(lit(1)).as("n"), means: _*)
    agged.select(col("j"), col("n"),
      array((0 until dim).map(d => col(s"_m$d")): _*).as("C"))
  }

  def lloydStep(assigned: DataFrame, dim: Int, fxScale: Double = 1e6): Seq[Centroid] =
    lloydStepDF(assigned, dim, fxScale).collect().map { r =>
      Centroid(r.getLong(0), r.getSeq[Double](2))
    }.toSeq.sortBy(_.j)

  private def requireFx(fxScale: Double): Unit =
    require(fxScale > 0, s"fxScale must be > 0 (fixed-point sums), got $fxScale")

  /** Per-centroid-id sufficient statistics of one step: (Σ fixed-point
    * coordinates, row count).
    */
  private type Stats = scala.collection.mutable.LongMap[(Array[Long], Long)]

  /** The Lloyd step of the fit loop ([[iterate]]) and [[fitMiniBatch]],
    * for every centroid set in `sets` at once (set x over point set
    * `of(x)`, [[bySets]]), as ONE scan of the points
    * described as `name`: each point's [[fxEncode]]d coordinates (held by
    * the placement, encoded per row where it holds none) go to one
    * [[LloydKernel]] per set (argmin + fixed-point per-slot sums), and the
    * ≤ P partial arrays merge on the driver: the collect-sufficient-stats shape MLlib's KMeans uses (its
    * `runAlgorithm` folds per-partition (sum, count) pairs via
    * `treeAggregate`; public Spark source, mllib/clustering/KMeans.scala).
    * Each set's stats are value-identical to [[lloydStep]] on that set
    * alone in any partitioning and either placement: the kernel replays
    * `nearestIdNative`'s fold and `round(x*scale)::long` exactly, and long
    * adds are exact in any order (pinned in KMeansSpec). A null `Y` is
    * rejected: it has no cluster to join.
    *
    * Why it exists: [[lloydStep]] is the declarative form (and stays the
    * `km_lloyd_step` oracle query), but its higher-order functions run
    * interpreted per row (Spark does not compile `zip_with`/`aggregate`),
    * `round` on a double builds a BigDecimal per coordinate, and its
    * aggregate costs a shuffle boundary per iteration. Here one scan task
    * per partition emits one (Σ, n) array pair per set straight to the
    * driver.
    */
  private def kernelStats(name: String, points: Points, sets: Seq[Seq[Centroid]], of: Seq[Int], dim: Int,
      fxScale: Double): Seq[Stats] = {
    require(points.fxAt.forall(_ == ((dim, fxScale))),
      s"the points hold encodes at ${points.fxAt.get}, not at ($dim, $fxScale)")
    val flats = sets.map(cs => (flatten(cs, dim), cs.size)).toArray
    val bySet = bySets(of, sets.size)
    val ansi = points.ansi
    val partials = points.scanSets(name) { (_, rows) =>
      val kerns = flats.map { case (f, k) => new LloydKernel(f, k, dim, ansi) }
      val buf = new Array[Long](dim)
      bySet.foreach { case (ps, mine) =>
        val it = rows(ps)
        while (it.hasNext) {
          val p = it.next()
          require(p.y != null, "Y is null: a k-means point needs coordinates")
          require(p.n >= dim, s"Y has ${p.n} coordinates, dim is $dim")
          var fx = p.fx
          var fxOff = p.fxOff
          if (fx == null) { encodeInto(p.y, p.yOff, buf, 0, dim, fxScale, ansi); fx = buf; fxOff = 0 }
          var s = 0
          while (s < mine.length) { kerns(mine(s)).add(p.y, p.yOff, fx, fxOff); s += 1 }
        }
      }
      kerns.map(k => (k.sums, k.cnts))
    }
    flats.indices.map { s =>
      val total = new LloydKernel(flats(s)._1, flats(s)._2, dim, ansi)
      partials.foreach { p => total.merge(p(s)._1, p(s)._2) }
      total.stats(ids(sets(s)).toArray)
    }
  }

  /** The point sets `of` names (set 0 for all where empty) for `n` centroid
    * sets, in set order, each with the indices of its centroid sets.
    */
  private[operators] def bySets(of: Seq[Int], n: Int): Array[(Int, Array[Int])] = {
    val set = if (of.isEmpty) Seq.fill(n)(0) else of
    require(set.size == n, s"${set.size} point sets for $n centroid sets")
    set.indices.groupBy(set(_)).toArray.sortBy(_._1).map { case (ps, ix) => (ps, ix.toArray) }
  }

  /** Centroid coordinates as one row-major `k·dim` array. */
  private def flatten(cs: Seq[Centroid], dim: Int): Array[Double] = {
    require(cs.forall(_.c.size == dim), s"every centroid must have dim = $dim coordinates")
    cs.flatMap(_.c).toArray
  }

  /** New centroids = Σfx / scale / n per id, in j order (empty ids drop). */
  private def centroidsOf(stats: Stats, fxScale: Double): Seq[Centroid] =
    stats.iterator.map { case (j, (sums, n)) =>
      Centroid(j, sums.toSeq.map(s => s.toDouble / fxScale / n))
    }.toSeq.sortBy(_.j)

  /** `round(v)::long` as Spark evaluates it on `v = x·scale`: HALF_UP via
    * [[roundHalfUpLong]] (≡ Spark `round`, PropertySpec); past the long
    * range, or on NaN, the ANSI cast's CAST_OVERFLOW — or, with ANSI off,
    * the JVM's saturating cast (NaN → 0), as Spark's legacy cast does.
    */
  private[operators] def fxEncode(v: Double, ansi: Boolean): Long =
    if (v <= 9.223372036854775807e18 && v >= -9.223372036854775808e18) roundHalfUpLong(v)
    else if (ansi) throw new ArithmeticException(
      s"[CAST_OVERFLOW] The value ${v}D of the type \"DOUBLE\" cannot be cast to " +
        "\"BIGINT\" due to an overflow.")
    else v.toLong

  /** `a + b` as Spark's long `sum` adds: ARITHMETIC_OVERFLOW under `ansi`,
    * else the wrapping add.
    */
  private[operators] def plusLong(a: Long, b: Long, ansi: Boolean): Long =
    if (!ansi) a + b
    else try Math.addExact(a, b) catch {
      case _: ArithmeticException => throw new ArithmeticException(
        "[ARITHMETIC_OVERFLOW] long overflow. Use 'try_add' to tolerate overflow and " +
          "return NULL instead. If necessary set \"spark.sql.ansi.enabled\" to \"false\" " +
          "to bypass this error.")
    }

  /** [[fxEncode]] of the `dim` coordinates of `y` from `yOff` on, into `fx`
    * from `fxOff` on.
    */
  private def encodeInto(y: Array[Double], yOff: Int, fx: Array[Long], fxOff: Int, dim: Int,
      fxScale: Double, ansi: Boolean): Unit = {
    var d = 0
    while (d < dim) { fx(fxOff + d) = fxEncode(y(yOff + d) * fxScale, ansi); d += 1 }
  }

  /** The Lloyd step's per-row arithmetic, ONE copy: [[kernelStats]] runs
    * one per set and partition (or per set over collected points).
    * Centroids ride as one row-major `k·dim` array; the argmin is the one
    * nearest fold ([[NearestSqDistLit.fold]]), and slot `k` collects the
    * rows no centroid claims (every distance NaN), reported as id −1 — the
    * HOF fold's initial accumulator. Sums add as Spark's long `sum` does:
    * ARITHMETIC_OVERFLOW under `ansi`, else the wrapping add.
    */
  private final class LloydKernel(cs: Array[Double], k: Int, dim: Int, ansi: Boolean) {
    val sums = new Array[Long]((k + 1) * dim)
    val cnts = new Array[Long](k + 1)

    private def plus(a: Long, b: Long): Long = plusLong(a, b, ansi)

    /** Assign the point at `y(yOff)` and add its fixed-point coordinates,
      * at `fx(fxOff)`, to that slot.
      */
    def add(y: Array[Double], yOff: Int, fx: Array[Long], fxOff: Int): Unit = {
      val j = NearestSqDistLit.fold(cs, k, dim, y, yOff, dim, null)
      val o = j * dim
      var d = 0
      while (d < dim) { sums(o + d) = plus(sums(o + d), fx(fxOff + d)); d += 1 }
      cnts(j) += 1
    }

    def merge(s: Array[Long], n: Array[Long]): Unit = {
      s.indices.foreach(x => sums(x) = plus(sums(x), s(x)))
      n.indices.foreach(x => cnts(x) += n(x))
    }

    /** Non-empty slots by centroid id (`ids` in slot order); slots sharing
      * an id merge, as `GROUP BY j` would.
      */
    def stats(ids: Array[Long]): Stats = {
      val out: Stats = scala.collection.mutable.LongMap.empty
      var j = 0
      while (j <= k) {
        if (cnts(j) > 0) {
          val id = if (j < k) ids(j) else -1L
          val (s, n) = out.getOrElse(id, (new Array[Long](dim), 0L))
          var d = 0
          while (d < dim) { s(d) = plus(s(d), sums(j * dim + d)); d += 1 }
          out(id) = (s, n + cnts(j))
        }
        j += 1
      }
      out
    }
  }

  // -------------------------------------------------------- point placement

  /** One point as a scan's per-row body reads it — a cursor that its
    * placement moves from row to row, so a body must not keep it: the key
    * `i` (0 where `nullKey`); `n` coordinates of `y` from `yOff` on (`y`
    * null for a null `Y`);
    * the k-means|| coins `u` (round r's at `r − 1`) where the placement
    * carries them; and `fx`, with this row's [[fxEncode]]s from `fxOff` on,
    * where the placement holds them (else null).
    */
  private[graft] final class Point {
    var y: Array[Double] = _
    var yOff = 0
    var n = 0
    var i = 0L
    var nullKey = false
    var u: Array[Double] = _
    var fx: Array[Long] = _
    var fxOff = 0
  }

  /** Where a fit's points live, chosen once per fit: resident blocks on the
    * executors ([[Partitioned]]) or the same blocks on the driver
    * ([[Collected]]). Every scan — the Lloyd step, the k-means|| passes, the
    * ++ round, the elbow, the mini-batch batch — is ONE per-row body over
    * [[Point]]s, and the placement only decides where it runs. A size-gated
    * fit chooses from ONE job ([[Points.place]]): the job that builds the
    * blocks is the size gate. A placement holds one or more point SETS over
    * the same rows (set 0 the placed `Y`, the others [[Points.withSets]]'s
    * functions of the key), so one scan serves every set.
    */
  private[graft] sealed abstract class Points {
    /** `spark.sql.ansi.enabled` of the points' session. */
    def ansi: Boolean

    /** (dim, fxScale) of the encodes the points hold, if they hold any. */
    def fxAt: Option[(Int, Double)]

    /** How many point sets the placement holds. */
    def sets: Int

    /** `f(partition, set ⇒ that set's rows)` once per partition, in
      * partition order: as ONE job described as `name`, or over the
      * collected blocks on the driver.
      */
    def scanSets[A: ClassTag](name: String)(f: (Int, Int => Iterator[Point]) => A): Array[A]

    /** [[scanSets]] over set 0. */
    def indexed[A: ClassTag](name: String)(f: (Int, Iterator[Point]) => A): Array[A] =
      scanSets(name)((p, rows) => f(p, rows(0)))

    /** [[indexed]] without the partition index. */
    def partials[A: ClassTag](name: String)(f: Iterator[Point] => A): Array[A] =
      indexed(name)((_, it) => f(it))

    /** [[seedFirstK]] of set `set`: the `k` smallest-key points, j = 1..k. */
    def firstK(k: Int, set: Int = 0): Seq[Centroid]

    /** The points whose key `keep` accepts (a null key never). */
    def where(keep: Long => Boolean): Points

    /** The smallest and the largest non-null key of set 0, if any (a
      * view's: its placement's).
      */
    def keyRange: Option[(Long, Long)] = keyRangeOf(0)

    /** [[keyRange]] of point set `set`. */
    def keyRangeOf(set: Int): Option[(Long, Long)]

    /** The placement job's [[Block.box]] of set 0, merged over the
      * partitions in index order, where the placement asked for it.
      */
    def box: Box

    /** Point set `s` alone, as set 0. */
    def only(s: Int): Points = if (s == 0 && sets == 1) this else new OneSet(this, s)
  }

  /** Point set `set` of `points` alone, as set 0 (its scans are `points`'). */
  private final class OneSet(points: Points, set: Int) extends Points {
    def ansi: Boolean = points.ansi
    def fxAt: Option[(Int, Double)] = points.fxAt
    def sets: Int = 1
    def scanSets[A: ClassTag](name: String)(f: (Int, Int => Iterator[Point]) => A): Array[A] = {
      val set = this.set
      points.scanSets(name)((p, rows) => f(p, _ => rows(set)))
    }
    def firstK(k: Int, s: Int = 0): Seq[Centroid] = points.firstK(k, set)
    def where(keep: Long => Boolean): Points = new OneSet(points.where(keep), set)
    def keyRangeOf(s: Int): Option[(Long, Long)] = points.keyRangeOf(set)
    def box: Box = points.box
  }

  /** Per dimension d, `min` then `max` of `element_at(Y, d + 1)` (None for
    * null) at `2d` and `2d + 1`: [[Block.box]]'s answer.
    */
  private[graft] type Box = Array[Option[Double]]

  /** Box `b` merged after box `a`, as Spark's `min`/`max` merge their
    * partial buffers: a later value replaces the buffer only where it is
    * strictly less (min) or greater (max) under SQL ordering (NaN above
    * every number, −0.0 = 0.0), so a tie keeps the earlier one.
    */
  private def mergeBox(a: Box, b: Box): Box =
    Array.tabulate(a.length)(x => (a(x), b(x)) match {
      case (Some(u), Some(v)) => Some(if (replaces(x % 2 == 0, v, u)) v else u)
      case (u, v) => u.orElse(v)
    })

  /** `v` is strictly below (`min`) or above `u` under SQL ordering. */
  private def replaces(min: Boolean, v: Double, u: Double): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(v, u)
    if (min) c < 0 else c > 0
  }

  private[graft] object Points {
    /** `points`' rows as resident blocks ([[Partitioned]]), holding the
      * encodes at `fxAt` and, with `coins`, those columns; built on the
      * first scan and held until [[Partitioned.release]].
      */
    def partitioned(points: DataFrame, coins: Seq[Column] = Nil,
        fxAt: Option[(Int, Double)] = None): Partitioned =
      new Partitioned(Resident(points, coins, fxAt), null)

    /** `body` over [[partitioned]] points, released when it returns or
      * throws: a fit's one placement, shared by its seeding, its Lloyd loop
      * and its scoring.
      */
    def withPartitioned[A](points: DataFrame, coins: Seq[Column] = Nil,
        fxAt: Option[(Int, Double)] = None)(body: Partitioned => A): A = {
      val placed = partitioned(points, coins, fxAt)
      try body(placed) finally placed.release()
    }

    /** A size-gated fit's placement of `points` (with `coins`, the encodes
      * at `fxAt`), chosen from ONE job described as `KMeans.build+place`:
      * the job that builds [[partitioned]]'s blocks also returns each
      * block's row count, its `firstK` first rows ([[Partitioned.firstK]]'s
      * answer), its key range ([[Points.keyRange]]) and, where the block
      * fits its even share ⌈`maxCells`/P⌉ cells (Quality.collectAtMost's
      * rule), the block itself, so the driver receives O(`maxCells`) cells
      * whatever the partitioning.
      * COLLECTED iff `rows·dim ≤ maxCells` (never for a negative
      * `maxCells`): the blocks in partition order, a second job fetching
      * the persisted blocks that outgrew their share, the persisted blocks
      * released. Else the resident blocks, the caller's to release. With
      * `box`, the job also returns each block's [[Block.box]] at `dim`
      * ([[Points.box]]).
      */
    def place(points: DataFrame, coins: Seq[Column], fxAt: (Int, Double), firstK: Int,
        maxCells: Long, box: Boolean = false): Either[Partitioned, Collected] = {
      val resident = Resident(points, coins, Some(fxAt))
      val dim = fxAt._1
      val ansi = resident.ansi
      var resides = false
      try {
        val parts = math.max(1, resident.partitions)
        val share = if (maxCells < 0) -1L else maxCells / parts + (if (maxCells % parts == 0) 0 else 1)
        val placed = resident.scan("KMeans.place") { (_, bs) =>
          val b = bs(0)
          (b.rows, b.firstK(firstK, null), if (math.max(b.rows.toLong * dim, b.cells) <= share) bs else null,
            b.keyRange, if (box) b.box(dim, ansi) else null)
        }
        val boxed = if (box) placed.map(_._5).foldLeft(Array.fill[Option[Double]](2 * dim)(None))(mergeBox)
          else null
        resident.placedFirst(firstK, Array(placed.map(_._2)), Array(spanOf(placed.map(_._4))), boxed,
          placed.map(_._1))
        if (placed.iterator.map(_._1.toLong).sum * dim > maxCells) {
          resides = true
          Left(new Partitioned(resident, null))
        } else {
          val over = placed.indices.filter(placed(_)._3 == null)
          val fetched = (over zip resident.fetch("KMeans.place", over)).toMap
          Right(new Collected(placed.indices.map(p => fetched.getOrElse(p, placed(p)._3)).toArray,
            fxAt, ansi, null, boxed))
        }
      } finally if (!resides) resident.release()
    }

    /** `body` over [[place]]'s placement, released when it returns or throws. */
    def withPlaced[A](points: DataFrame, coins: Seq[Column], fxAt: (Int, Double), firstK: Int,
        maxCells: Long, box: Boolean = false)(body: Points => A): A =
      place(points, coins, fxAt, firstK, maxCells, box).fold(p => try body(p) finally p.release(), body)

    /** `body` over `points` (one set, no key filter) and `extra` more point
      * sets of as many rows: `derive(s, i, pos, y, u)` fills the `dim`
      * coordinates `y` and the coins `u` (as many as the points carry) of
      * set s's row derived from the placed row with key `i` (None for a
      * null key) at position `pos` in partition, then row order, and gives
      * its key (None: null). The encodes are at the points' `fxAt`.
      * COLLECTED points derive them on the driver; PARTITIONED points
      * ([[place]]'s) in ONE job described as `KMeans.sets`, which builds
      * resident blocks of every set (set 0's the placed blocks themselves)
      * and returns each block's first row per set, and then drops the
      * placed blocks (a later rebuild runs their plan again). The derived
      * blocks are released when `body` returns or throws.
      */
    def withSets[A](points: Points, extra: Int, dim: Int)(derive: Derive)(body: Points => A): A =
      points match {
        case c: Collected =>
          val offsets = c.blocks.map(_.head.rows.toLong).scanLeft(0L)(_ + _)
          body(new Collected(c.blocks.indices.map { p =>
            c.blocks(p).head +: derivedSets(c.blocks(p).head, offsets(p), extra, dim, c.fxAt, c.ansi, derive)
          }.toArray, c.fxAt.get, c.ansi, null, c.boxed))
        case p: Partitioned =>
          val (parent, fxAt, ansi) = (p.resident, p.fxAt, p.ansi)
          val offsets = parent.rowsPer.map(_.toLong).scanLeft(0L)(_ + _)
          val sets = extra + 1
          val derived = new Resident(ansi, fxAt, sets, () =>
            (GraftJobShim.mapPartitionsWithIndexInternal(parent.planned()) { (part, it) =>
              val bs = it.next()
              Iterator.single(bs.head +: derivedSets(bs.head, offsets(part), extra, dim, fxAt, ansi, derive))
            }, null))
          try {
            val firsts = derived.scan("KMeans.sets")((_, bs) => bs.map(b => (b.firstK(1, null), b.keyRange)))
            derived.placedFirst(1, Array.tabulate(sets)(s => firsts.map(_(s)._1)),
              Array.tabulate(sets)(s => spanOf(firsts.map(_(s)._2))), parent.box, parent.rowsPer)
            parent.release()
            body(new Partitioned(derived, null))
          } finally derived.release()
        case _ => throw new IllegalArgumentException("derive sets from a placement, not from a view of one set")
      }

    /** [[withSets]]' sets 1..`extra` of block `b`, whose first row is at `offset`. */
    private def derivedSets(b: Block, offset: Long, extra: Int, dim: Int, fxAt: Option[(Int, Double)],
        ansi: Boolean, derive: Derive): Array[Block] =
      Array.tabulate(extra) { e =>
        val out = new BlockBuilder(b.nu, fxAt, ansi)
        val (y, u) = (new Array[Double](dim), new Array[Double](b.nu))
        var r = 0
        while (r < b.rows) {
          val key = derive(e + 1, if (b.nullKey(r)) None else Some(b.keys(r)), offset + r, y, u)
          out.addY(key.isEmpty, key.getOrElse(0L), y, u)
          r += 1
        }
        out.result()
      }

    /** [[place]] with no bound: `points`' blocks on the driver. */
    def collected(points: DataFrame, dim: Int, fxScale: Double,
        coins: Seq[Column] = Nil): Seq[Collected] =
      Seq(place(points, coins, (dim, fxScale), 0, Long.MaxValue).toOption.get)
  }

  /** [[Points.withSets]]' row derivation: (set, key, position, y, u) ⇒ key. */
  private[graft] type Derive = (Int, Option[Long], Long, Array[Double], Array[Double]) => Option[Long]

  /** One partition's rows, decoded once into flat primitive arrays (no
    * object per row): row r's key `keys(r)` (`nullKey(r)` for a null key),
    * its `lens(r)` coordinates in `ys` right after the rows before it
    * (`lens(r)` = −1 for a null `Y`), its `nu` coins from `us(r·nu)` on,
    * and, when `fx` is not null, its `dim` [[fxEncode]]s from `fx(r·dim)`
    * on wherever `fxSet(r)`. A `Y` shorter than `dim`, or one whose encode
    * overflows (CAST_OVERFLOW under ANSI), is left unset: the scan that
    * needs it encodes it again and raises at its row, after any row before
    * it has raised its own error.
    */
  private final class Block(val rows: Int, val keys: Array[Long], val nullKey: Array[Boolean],
      val lens: Array[Int], val ys: Array[Double], val nu: Int, val us: Array[Double], val dim: Int,
      val fx: Array[Long], val fxSet: Array[Boolean]) extends Serializable {

    /** The coordinates the block holds. */
    def cells: Int = ys.length

    /** The rows `keep` accepts (every row for a null `keep`, else never a
      * null key), in row order, through one [[Point]] cursor.
      */
    def points(keep: Long => Boolean): Iterator[Point] = new Iterator[Point] {
      private val p = new Point
      private var r = 0   // the next row
      private var off = 0 // where its coordinates start in ys
      def hasNext: Boolean = {
        if (keep != null)
          while (r < rows && (nullKey(r) || !keep(keys(r)))) { off += math.max(lens(r), 0); r += 1 }
        r < rows
      }
      def next(): Point = {
        if (!hasNext) throw new NoSuchElementException("no more points")
        load(p, r, off)
        off += p.n
        r += 1
        p
      }
    }

    /** `p` moved to row `r`, whose coordinates start at `ys(off)`. */
    def load(p: Point, r: Int, off: Int): Point = {
      if (p.u == null) p.u = new Array[Double](nu)
      p.y = if (lens(r) < 0) null else ys
      p.yOff = off
      p.n = math.max(lens(r), 0)
      p.i = keys(r)
      p.nullKey = nullKey(r)
      var c = 0
      while (c < nu) { p.u(c) = us(r * nu + c); c += 1 }
      p.fx = if (fx != null && fxSet(r)) fx else null
      p.fxOff = r * dim
      p
    }

    /** The smallest and the largest non-null key, if any. */
    def keyRange: Option[(Long, Long)] = {
      var (lo, hi, r) = (Long.MaxValue, Long.MinValue, 0)
      while (r < rows) {
        if (!nullKey(r)) { lo = math.min(lo, keys(r)); hi = math.max(hi, keys(r)) }
        r += 1
      }
      if (lo > hi) None else Some((lo, hi))
    }

    /** [[Points.box]] over this block's rows in row order, as Spark's
      * `min`/`max(element_at(Y, d + 1))` aggregate them ([[mergeBox]]'s
      * rule): a null `Y` adds nothing, and a `Y` of n < `dim` coordinates
      * adds its n, or under `ansi` fails as `element_at` does at index n + 1.
      */
    def box(dim: Int, ansi: Boolean): Box = {
      val out = Array.fill[Option[Double]](2 * dim)(None)
      var (r, off) = (0, 0)
      while (r < rows) {
        val n = lens(r)
        if (n >= 0) {
          if (n < dim && ansi) throw org.apache.spark.sql.GraftPlanShim.elementAtError(n + 1, n)
          var d = 0
          while (d < math.min(n, dim)) {
            val v = ys(off + d)
            if (out(2 * d).forall(replaces(min = true, v, _))) out(2 * d) = Some(v)
            if (out(2 * d + 1).forall(replaces(min = false, v, _))) out(2 * d + 1) = Some(v)
            d += 1
          }
          off += n
        }
        r += 1
      }
      out
    }

    /** The `k` first rows `keep` accepts in `orderBy("i")` order (a null key
      * first, a tied key in row order).
      */
    def firstK(k: Int, keep: Long => Boolean): Array[FirstRow] = {
      val offs = new Array[Int](rows + 1) // where each row's Y starts
      (0 until rows).foreach(r => offs(r + 1) = offs(r) + math.max(lens(r), 0))
      def before(a: Int, b: Int): Boolean =
        if (nullKey(a) != nullKey(b)) nullKey(a)
        else if (nullKey(a) || keys(a) == keys(b)) a < b
        else keys(a) < keys(b)
      // the k first rows so far, the last of them at the head
      val heap = new java.util.PriorityQueue[Integer](math.max(k, 1),
        (a: Integer, b: Integer) => if (before(a, b)) 1 else if (before(b, a)) -1 else 0)
      var r = 0
      while (r < rows) {
        if (keep == null || (!nullKey(r) && keep(keys(r)))) {
          if (heap.size < k) heap.add(r)
          else if (k > 0 && before(r, heap.peek())) { heap.poll(); heap.add(r) }
        }
        r += 1
      }
      heap.toArray(new Array[Integer](0)).map(_.intValue).sortWith(before).map { r =>
        (nullKey(r), keys(r), if (lens(r) < 0) null else ys.slice(offs(r), offs(r) + lens(r)))
      }
    }
  }

  /** The key range spanning `ranges`. */
  private def spanOf(ranges: Seq[Option[(Long, Long)]]): Option[(Long, Long)] =
    ranges.flatten.reduceOption((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))

  /** A first row as [[Block.firstK]] gives it: (null key, key, Y or null). */
  private type FirstRow = (Boolean, Long, Array[Double])

  /** The `k` first of the blocks' first rows, in `orderBy("i")` order (a
    * tied key goes to the earlier partition).
    */
  private def firstOf(parts: Array[Array[FirstRow]], k: Int): Seq[FirstRow] =
    parts.toSeq.flatten.sortBy(r => (!r._1, r._2)).take(k)

  /** Appends `(i, Y, coins…)` rows, one call per row, into one [[Block]],
    * with the encodes at `fxAt`.
    */
  private final class BlockBuilder(nu: Int, fxAt: Option[(Int, Double)], ansi: Boolean) {
    import java.util.Arrays.copyOf
    private val (dim, fxScale) = fxAt.getOrElse((0, 0.0))
    private var cap = 1024
    private var rows = 0
    private var cells = 0
    private var keys = new Array[Long](cap)
    private var nullKey = new Array[Boolean](cap)
    private var lens = new Array[Int](cap)
    private var us = new Array[Double](cap * nu)
    private var ys = new Array[Double](cap * math.max(dim, 1))
    private var fx = if (fxAt.isEmpty) null else new Array[Long](cap * dim)
    private var fxSet = if (fxAt.isEmpty) null else new Array[Boolean](cap)

    def add(row: InternalRow): Unit = {
      val a = if (row.isNullAt(1)) null else row.getArray(1)
      val len = if (a == null) -1 else a.numElements()
      next(row.isNullAt(0), if (row.isNullAt(0)) 0L else row.getLong(0), len)
      var d = 0
      while (d < len) { ys(cells + d) = a.getDouble(d); d += 1 }
      var c = 0
      while (c < nu) { us(rows * nu + c) = row.getDouble(2 + c); c += 1 }
      done()
    }

    /** [[add]] for a row of key `key` (`nullKey`), coordinates `y` and coins `u`. */
    def addY(nullKey: Boolean, key: Long, y: Array[Double], u: Array[Double]): Unit = {
      next(nullKey, key, y.length)
      System.arraycopy(y, 0, ys, cells, y.length)
      System.arraycopy(u, 0, us, rows * nu, nu)
      done()
    }

    /** Start the next row: its key and the length of its `Y` (−1: null). */
    private def next(nk: Boolean, key: Long, len: Int): Unit = {
      if (rows == cap) {
        cap *= 2
        keys = copyOf(keys, cap); nullKey = copyOf(nullKey, cap); lens = copyOf(lens, cap)
        us = copyOf(us, cap * nu)
        if (fx != null) { fx = copyOf(fx, cap * dim); fxSet = copyOf(fxSet, cap) }
      }
      nullKey(rows) = nk
      keys(rows) = if (nk) 0L else key
      lens(rows) = len
      if (cells + len > ys.length) ys = copyOf(ys, math.max(2 * ys.length, cells + len))
    }

    /** Finish the row [[next]] started, its coordinates in place. */
    private def done(): Unit = {
      val len = lens(rows)
      if (len >= 0) {
        if (fx != null && len >= dim) fxSet(rows) = encodes(cells, rows * dim)
        cells += len
      }
      rows += 1
    }

    /** [[encodeInto]], or false where an encode overflows (CAST_OVERFLOW). */
    private def encodes(yOff: Int, fxOff: Int): Boolean =
      try { encodeInto(ys, yOff, fx, fxOff, dim, fxScale, ansi); true }
      catch { case _: ArithmeticException => false }

    def result(): Block =
      new Block(rows, copyOf(keys, rows), copyOf(nullKey, rows), copyOf(lens, rows),
        copyOf(ys, cells), nu, copyOf(us, rows * nu), dim,
        if (fx == null) null else copyOf(fx, rows * dim),
        if (fx == null) null else copyOf(fxSet, rows))
  }

  /** The blocks behind a partitioned placement, per partition one [[Block]]
    * per point set: `source`'s blocks RDD (and the query execution its
    * first scan runs under, if any), planned on first use, persisted
    * MEMORY_ONLY until [[release]]. [[Resident.apply]]'s are `points`'
    * `(i, Y, coins…)` rows, planned once under [[withIterConf]], each
    * partition decoded once; [[Points.withSets]]' derive more sets from
    * those. Partition indices and in-partition row order are the plan's, so
    * the ++ round's per-partition `rand` replay and `max_by`'s tie order
    * hold. The first scan builds the blocks and runs as the plan's one SQL
    * execution (for a size-gated fit, [[Points.place]]'s job, which also
    * brings the blocks within their share to the driver); every later scan
    * reads them. A block the memory store
    * refuses (or evicts, or one unpersisted) is rebuilt from the plan by the
    * scan that needs it: one more decode of its rows, with the same bits.
    */
  private final class Resident(val ansi: Boolean, val fxAt: Option[(Int, Double)], val sets: Int,
      source: () => (RDD[Array[Block]], org.apache.spark.sql.execution.QueryExecution)) {
    private var blocks: RDD[Array[Block]] = null
    // the plan, until the first scan (which builds the blocks) runs it
    private var qe: org.apache.spark.sql.execution.QueryExecution = null
    // per set, the first `firstKnown` rows; the key range and the box, from
    // the placement job ([[Points.place]])
    private var first: Array[Seq[FirstRow]] = Array.fill(sets)(Nil)
    private var firstKnown = 0
    private var range: Array[Option[(Long, Long)]] = null
    private var boxed: Box = null
    private var rowCounts: Array[Int] = null

    /** The blocks, planned on first use. */
    def planned(): RDD[Array[Block]] = {
      if (blocks == null) {
        val (rdd, q) = source()
        qe = q
        blocks = rdd.setName("KMeans points").persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      }
      blocks
    }

    /** How many blocks (partitions) the points make. */
    def partitions: Int = planned().getNumPartitions

    /** `f(partition, blocks)` for every partition, as ONE job described as
      * `name` (the first, which builds the blocks from a plan, as
      * `KMeans.build+…`), submitted by [[GraftJobShim.run]] on the
      * persisted blocks RDD itself: no RDD made and no closure cleaned per
      * scan.
      */
    def scan[A: ClassTag](name: String)(f: (Int, Array[Block]) => A): Array[A] = {
      val (rdd, build) = (planned(), qe)
      qe = null
      def job(label: String) = GraftJobShim.run(rdd, label)((p, it) => f(p, it.next()))
      if (build == null) job(name)
      else org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(build, Some(name))(
        job("KMeans.build+" + name.stripPrefix("KMeans.")))
    }

    /** The blocks of partitions `parts`, as ONE job described as `name`
      * (none for no partition).
      */
    def fetch(name: String, parts: Seq[Int]): Array[Array[Block]] =
      if (parts.isEmpty) Array.empty else GraftJobShim.run(planned(), name, parts)((_, it) => it.next())

    /** Keep each block's `k` first rows per set, `parts(set)`, as the first
      * rows of the whole placement ([[firstRows]]), its key range per set,
      * its box and each block's row count.
      */
    def placedFirst(k: Int, parts: Array[Array[Array[FirstRow]]], keys: Array[Option[(Long, Long)]],
        box: Box, rows: Array[Int]): Unit = {
      first = parts.map(firstOf(_, k))
      firstKnown = k
      range = keys
      boxed = box
      rowCounts = rows
    }

    /** The placement job's row count per block. */
    def rowsPer: Array[Int] =
      Option(rowCounts).getOrElse(throw new IllegalStateException("no placement job has run: no row counts"))

    /** The placement job's key range of set `set` (an inverse-CDF draw's buckets). */
    def keyRange(set: Int): Option[(Long, Long)] =
      Option(range).getOrElse(throw new IllegalStateException("no placement job has run: no key range"))(set)

    /** The placement job's box (null where it took none). */
    def box: Box = boxed

    /** The `k` first rows of set `set` that `keep` accepts: the placement
      * job's where it brought them, else one scan.
      */
    def firstRows(k: Int, keep: Long => Boolean, set: Int): Seq[FirstRow] =
      if (keep == null && k <= firstKnown) first(set).take(k)
      else firstOf(scan("KMeans.firstK")((_, bs) => bs(set).firstK(k, keep)), k)

    /** Drop the blocks; a later scan would build them again. */
    def release(): Unit = if (blocks != null) {
      blocks.unpersist(blocking = false)
      blocks = null
      qe = null
    }
  }

  private object Resident {
    /** `points`' `(i, Y, coins…)` rows as one point set, with the encodes
      * at `fxAt`.
      */
    def apply(df: DataFrame, coins: Seq[Column], fxAt: Option[(Int, Double)]): Resident = {
      val ansi = df.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
      val nu = coins.size
      new Resident(ansi, fxAt, 1, () => withIterConf(df.sparkSession) {
        val qe = df.select(col("i") +: col("Y") +: coins: _*).queryExecution
        (GraftJobShim.mapPartitionsInternal(qe.toRdd) { it =>
          val b = new BlockBuilder(nu, fxAt, ansi)
          it.foreach(b.add)
          Iterator.single(Array(b.result()))
        }, qe)
      })
    }
  }

  /** The partitioned placement: a view of one [[Resident]]'s blocks, the
    * rows `keep` accepts (every row for null). Each scan is one kernel job
    * over the blocks — no decode, no encode, no query planned.
    */
  private[graft] final class Partitioned private[KMeans] (private[KMeans] val resident: Resident,
      keep: Long => Boolean) extends Points {
    def ansi: Boolean = resident.ansi
    def fxAt: Option[(Int, Double)] = resident.fxAt
    def sets: Int = resident.sets

    def scanSets[A: ClassTag](name: String)(f: (Int, Int => Iterator[Point]) => A): Array[A] = {
      val keep = this.keep
      resident.scan(name)((p, bs) => f(p, s => bs(s).points(keep)))
    }

    /** Each block's k first rows, merged on the driver in `orderBy("i")`
      * order (a tied key goes to the earlier partition): [[seedFirstK]]'s
      * centroids without its query, and without a job of their own where
      * the placement job brought them.
      */
    def firstK(k: Int, set: Int = 0): Seq[Centroid] = firstCentroids(resident.firstRows(k, keep, set))

    def where(accept: Long => Boolean): Points = new Partitioned(resident, both(keep, accept))

    def keyRangeOf(set: Int): Option[(Long, Long)] = resident.keyRange(set)

    def box: Box = noBox(resident.box)

    /** Drop the blocks (every view's). */
    def release(): Unit = resident.release()
  }

  /** The collected placement: the placement job's blocks on the driver,
    * `blocks(p)` the rows of partition p (one block per point set), so a
    * scan runs per block as it runs per partition, with the same bits; the
    * rows `keep` accepts (every row for null, else never a null key).
    */
  private[graft] final class Collected private[KMeans] (private[KMeans] val blocks: Array[Array[Block]],
      dimScale: (Int, Double), val ansi: Boolean, keep: Long => Boolean,
      private[KMeans] val boxed: Box) extends Points {
    def fxAt: Option[(Int, Double)] = Some(dimScale)
    def sets: Int = blocks.headOption.fold(1)(_.length)

    def scanSets[A: ClassTag](name: String)(f: (Int, Int => Iterator[Point]) => A): Array[A] =
      Array.tabulate(blocks.length)(p => f(p, s => blocks(p)(s).points(keep)))

    def firstK(k: Int, set: Int = 0): Seq[Centroid] =
      firstCentroids(firstOf(blocks.map(_(set).firstK(k, keep)), k))

    def where(accept: Long => Boolean): Points = new Collected(blocks, dimScale, ansi, both(keep, accept), boxed)

    private lazy val ranges = Array.tabulate(sets)(s => spanOf(blocks.map(_(s).keyRange)))
    def keyRangeOf(set: Int): Option[(Long, Long)] = ranges(set)

    def box: Box = noBox(boxed)
  }

  /** `box`, or where the placement took none, the error. */
  private def noBox(box: Box): Box =
    Option(box).getOrElse(throw new IllegalStateException("the placement took no box"))

  /** A view's row filter and `accept`, both. */
  private def both(keep: Long => Boolean, accept: Long => Boolean): Long => Boolean =
    if (keep == null) accept else i => keep(i) && accept(i)

  /** Centroids j = 1.. of first rows. */
  private def firstCentroids(rows: Seq[FirstRow]): Seq[Centroid] =
    rows.zipWithIndex.map { case (r, ix) => Centroid(ix + 1L, Option(r._3).map(_.toSeq).orNull) }

  // ------------------------------------------------------------ convergence

  /** Total centroid movement between two consecutive steps — the intended
    * semantics of the reference's `deltaFinish` (k-means.sql:49-56): distance
    * between the last two positions PER CENTROID, summed. (The reference's
    * `limit 2 by step` is a bug — SURVEY.md Q2 — keeping 2 arbitrary
    * centroids per step instead of 2 steps per centroid; we implement the
    * stated intent.) Vanished centroids contribute nothing.
    */
  def movement(prev: Seq[Centroid], next: Seq[Centroid]): Double = {
    val byJ = prev.map(c => c.j -> c.c).toMap
    next.flatMap { n =>
      byJ.get(n.j).map { p =>
        math.sqrt(p.zip(n.c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }.sum
  }

  // ----------------------------------------------------- size-aware local fit

  /** The size-gated fits' default collected bound: 4M cells, 64 MB as blocks. */
  private val LocalMaxCells = 4000000L

  /** Size-aware fit: identical results to [[fit]] (bitwise, pinned in
    * KMeansSpec), the placement picked by input size from the job that
    * builds it ([[Points.place]]: the block build is the size gate, no
    * count runs first). While `rows·dim` fits on the driver
    * (`localMaxCells`, default 4M cells, 64 MB as blocks) that job brings the
    * points ([[fitLocal]]'s placement) and the 30-odd Lloyd steps and
    * k-means++ rounds stop paying ~0.1 s of per-job scheduling each; past
    * it they stay resident blocks and the job's first rows are the first-k
    * seeds ([[fit]]). Every seeding is gated: the collected blocks keep
    * their partition indices, so `plusPlus`'s `rand(seed)` draw, seeded per
    * partition, replays there too.
    */
  def fitAuto(points: DataFrame, k: Int, dim: Int, tol: Double = 0.01,
      maxIter: Int = 50, seed: Long = 42L, plusPlus: Boolean = false,
      fxScale: Double = 1e6, parallelSeed: Boolean = false,
      localMaxCells: Long = LocalMaxCells): FitResult =
    placedFit(points, k, dim, tol, maxIter, seed, fxScale, parallelSeed, localMaxCells, plusPlus)

  /** [[fit]] over COLLECTED points, for small inputs — the identical
    * `FitResult` bit for bit: [[fitAuto]]'s placement with no bound, whose
    * one job brings the rows and, for k-means||, every round's coin to the
    * driver, and the same seeding passes and [[iterate]] run over them.
    */
  def fitLocal(points: DataFrame, k: Int, dim: Int, tol: Double,
      maxIter: Int, seed: Long, fxScale: Double, parallelSeed: Boolean,
      rounds: Int = 3, overFactor: Double = 2.0): FitResult =
    placedFit(points, k, dim, tol, maxIter, seed, fxScale, parallelSeed, Long.MaxValue,
      plusPlus = false, rounds, overFactor)

  /** The first-k, k-means|| or (`plusPlus`) k-means++ fit over
    * [[Points.place]]'s placement at `maxCells` ([[fitAuto]], [[fitLocal]],
    * [[fit]]).
    */
  private def placedFit(points: DataFrame, k: Int, dim: Int, tol: Double, maxIter: Int,
      seed: Long, fxScale: Double, parallelSeed: Boolean, maxCells: Long, plusPlus: Boolean,
      rounds: Int = 3, overFactor: Double = 2.0): FitResult = {
    requireFx(fxScale)
    val coins = if (parallelSeed) coinCols(seed, rounds) else Nil
    val firstK = if (parallelSeed || plusPlus) 1 else k
    Points.withPlaced(points, coins, (dim, fxScale), firstK, maxCells) { placed =>
      val cs = if (parallelSeed) parallelSeeds(placed, k, seed, rounds, overFactor)
        else if (plusPlus) plusPlusSeeds(placed, k, seed) else placed.firstK(k)
      iterate(placed, Seq(cs), dim, tol, maxIter, fxScale, startStep = 0L).head
    }
  }

  /** Spark's `round(x)` for doubles (`BigDecimal(x).setScale(0, HALF_UP)`)
    * followed by a long cast — the ONE Spark scalar the local kernels must
    * reproduce themselves (pinned ≡ Spark `round` and ≡ the BigDecimal form
    * over an adversarial ladder in PropertySpec), without a BigDecimal per
    * call (the block build encodes every coordinate with it) and without a
    * branch: for finite |x| < 2^52, `t = trunc(|x|)` and `frac = |x| − t`
    * are exact, and so is `frac − 0.5` wherever it is ≥ 0 (Sterbenz), so
    * HALF_UP is `t + 1` exactly when the sign bit of `frac − 0.5` is clear
    * (never a compare against an inexact `|x| + 0.5`); the sign of x is
    * then restored, so a midpoint rounds away from zero (−2.5 → −3). Past
    * 2^52 x is integral; a non-finite x keeps the BigDecimal path and its
    * throw.
    */
  private[graft] def roundHalfUpLong(x: Double): Long = {
    val a = math.abs(x)
    if (a < 4.503599627370496e15) { // 2^52; false for NaN and ±∞
      val t = a.toLong
      val up = (java.lang.Double.doubleToRawLongBits(a - t - 0.5) >>> 63) ^ 1L
      val sign = java.lang.Double.doubleToRawLongBits(x) >> 63 // 0, or −1 for a negative x
      ((t + up) ^ sign) - sign
    } else if (java.lang.Double.isFinite(x)) x.toLong // integral already; toLong saturates
    else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
  }

  /** Q2 BUG-COMPAT movement: the reference's `deltaFinish` AS BUILT
    * (k-means.sql:54 `order by step desc limit 2 by step`), which keeps 2
    * arbitrary centroids PER STEP instead of 2 steps per centroid — so for
    * k > 2 only the centroids that survive the per-step cut are distance-
    * checked, and a centroid captured at a single step compares against the
    * type default (ClickHouse out-of-bounds `l[2]` = zero tuple), i.e.
    * contributes its NORM. ClickHouse's kept-2 choice is storage order
    * (nondeterministic); this deterministic stand-in keeps the 2 lowest `j`
    * per step, matching the Lloyd insert's GROUP BY output order in the
    * common case. [[movement]] (per-centroid last-two-steps, the documented
    * intent) remains the default everywhere; this exists to replay the
    * reference as-built.
    */
  def movementRefLimit2ByStep(log: Seq[LogEntry]): Double = {
    val kept = log.groupBy(_.step).toSeq.sortBy(-_._1).flatMap {
      case (_, rows) => rows.sortBy(_.j).take(2)
    }
    kept.groupBy(_.j).map { case (_, rows) =>
      val l = rows.take(2).map(_.c) // groupArray(2) in step-desc order
      val l2 = if (l.size >= 2) l(1) else l.head.map(_ => 0.0) // zero default
      math.sqrt(l.head.zip(l2).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sum
  }

  // -------------------------------------------------------------- fit loop

  /** The reference's full driver loop (k-means.sh:16-33): iterate
    * assign → re-average until total movement < `tol` (reference stop:
    * `toUInt32(sum(d)*100) == 0`, i.e. movement < 0.01) or `maxIter`.
    * `points` should be cached by the caller (reference `Memory` engine).
    * Always over resident blocks ([[Points.place]] with no collected
    * bound): the partitioned reference every gated fit reproduces.
    */
  def fit(points: DataFrame, k: Int, dim: Int, tol: Double = 0.01,
      maxIter: Int = 50, seed: Long = 42L, plusPlus: Boolean = false,
      fxScale: Double = 1e6, parallelSeed: Boolean = false): FitResult =
    placedFit(points, k, dim, tol, maxIter, seed, fxScale, parallelSeed, maxCells = -1L, plusPlus)

  /** Per-iteration query tuning, restored on exit: around the planning of
    * the points plan whose blocks make either placement ([[Points]]). Every
    * later scan is a kernel job that plans nothing; what still plans a
    * query carries few rows after map-side partial aggregation, so the
    * right reducer count is 1, and AQE's per-stage re-planning would add
    * ~50 ms to every tiny job and split an aggregate's job into two.
    *
    * Reentrant: fits on one session from several threads must not
    * interleave save/restore pairs (a save could capture another fit's iter
    * conf and "restore" it for good), so the guard is reference-counted per
    * session: the first entrant saves the caller's conf and applies the
    * iter conf, later ones bump the count, and the last leaver restores.
    */
  private val iterConfDepth =
    new java.util.IdentityHashMap[SparkSession, (Int, String, String)]()
  private[operators] def withIterConf[A](spark: SparkSession)(body: => A): A = {
    val conf = spark.conf
    iterConfDepth.synchronized {
      iterConfDepth.get(spark) match {
        case null =>
          val aqe = conf.get("spark.sql.adaptive.enabled", "true")
          val parts = conf.get("spark.sql.shuffle.partitions", "200")
          conf.set("spark.sql.adaptive.enabled", "false")
          conf.set("spark.sql.shuffle.partitions", "1")
          iterConfDepth.put(spark, (1, aqe, parts))
        case (n, aqe, parts) => iterConfDepth.put(spark, (n + 1, aqe, parts))
      }
    }
    try body
    finally iterConfDepth.synchronized {
      iterConfDepth.get(spark) match {
        case (1, aqe, parts) =>
          iterConfDepth.remove(spark)
          conf.set("spark.sql.adaptive.enabled", aqe)
          conf.set("spark.sql.shuffle.partitions", parts)
        case (n, aqe, parts) => iterConfDepth.put(spark, (n - 1, aqe, parts))
      }
    }
  }

  /** Resume a fit from previously trained centroids — the restart path a
    * multi-hour 100 TB fit needs: [[saveModel]] after any step, reload, and
    * continue. Steps are numbered from `startStep` so a resumed run's log
    * CONCATENATES with the original's into one coherent WCR history, and
    * iterating from a converged-at-step-s state is bit-identical to having
    * run the plain fit for s + extra steps (each Lloyd step depends only on
    * the current centroid set — pinned in KMeansSpec).
    */
  def fitFrom(points: DataFrame, centroids: Seq[Centroid], dim: Int,
      tol: Double = 0.01, maxIter: Int = 50, fxScale: Double = 1e6,
      startStep: Long = 0L): FitResult =
    Points.withPartitioned(points, fxAt = Some((dim, fxScale)))(
      iterate(_, Seq(centroids), dim, tol, maxIter, fxScale, startStep).head)

  /** Fixed rational inverse-CDF draws shared by the ORACLE-REPLAYABLE
    * bounded fits ([[fitBounded]], Quality.gapStatisticFitted): the u for
    * k-means++ round r is `FixedUs((r − 2) mod 7)` — small numerators and
    * denominators keep the integer threshold compare `cw·uDen ≥ tw·uNum`
    * far from the Long overflow bound. Each round is an [[inverseCdfDraw]].
    */
  val FixedUs: Seq[(Long, Long)] = Seq((1L, 2L), (1L, 3L), (2L, 5L),
    (3L, 7L), (5L, 11L), (7L, 13L), (11L, 17L))
  def fixedU(r: Int): (Long, Long) = FixedUs((r - 2) % FixedUs.size)

  /** Bounded ORACLE-REPLAYABLE fit — the km_gap_fitted discipline as a
    * standalone entry point: exact inverse-CDF k-means++ seeding with the
    * [[FixedUs]] rational draws (first seed = the min-key point, the
    * reference's deterministic pick), then [[fitFrom]]'s movement-gated
    * Lloyd bounded at `lloydSteps` iterations. Every stage is
    * ANSI-expressible (anti-join by coordinates, integer D² weights,
    * windowed cumulative threshold pick, fixed-point re-averages), so a
    * query built on the returned centroids can be DuckDB-oracle
    * hash-checked END TO END (`sim_ivf_fitted`). `weightScale` lifts the
    * D² draw weights into integer range for small-coordinate data
    * (L2-normalized vectors: 1e6 — at weightScale 1 their sub-4.0 squared
    * distances would round to a handful of integer ties and degrade the
    * draw).
    *
    * Bounding the Lloyd loop at `lloydSteps` movement-gated iterations is
    * the published cost of hash-exactness (the km_wcr_log contract); on
    * data where Lloyd converges within the budget the bounded and free
    * fits coincide.
    *
    * One body over [[Points.place]]'s placement, as [[fitAuto]]'s: the
    * points are collected while `rows·dim ≤ localMaxCells`, else resident
    * blocks, and the [[inverseCdfSeeds]] draws and the [[iterate]] loop run
    * over either with the same bits (KMeansSpec). Partitioned, the fit is
    * the placement job, at most 2 jobs per draw (3 where the weights
    * rescale) and 1 per Lloyd step.
    */
  def fitBounded(points: DataFrame, k: Int, dim: Int, tol: Double = 0.01,
      lloydSteps: Int = 3, fxScale: Double = 1e6,
      weightScale: Double = 1.0, localMaxCells: Long = LocalMaxCells): FitResult =
    Points.withPlaced(points, Nil, (dim, fxScale), 1, localMaxCells)(
      bounded(_, k, dim, tol, lloydSteps, fxScale, weightScale))

  /** [[fitBounded]] at its default bounds, and [[census]]'s rows of its
    * centroids counted over the fit's own placement: collected, the census
    * runs no job.
    */
  private[graft] def fitBoundedCensus(points: DataFrame, k: Int, dim: Int, tol: Double,
      lloydSteps: Int, fxScale: Double): (FitResult, Seq[(Long, Long)]) =
    Points.withPlaced(points, Nil, (dim, fxScale), 1, LocalMaxCells)(
      withCensus(bounded(_, k, dim, tol, lloydSteps, fxScale, weightScale = 1.0)))

  /** [[fitBounded]]'s seeds and Lloyd loop over placed points. */
  private def bounded(placed: Points, k: Int, dim: Int, tol: Double, lloydSteps: Int,
      fxScale: Double, weightScale: Double): FitResult =
    iterate(placed, inverseCdfSeeds(placed, k, weightScale)._1, dim, tol, lloydSteps, fxScale,
      startStep = 0L).head

  /** [[fitBounded]]'s seeds over placed points, for each point set in
    * `sets`: its min-key point, then [[inverseCdfDraw]]s 2..`kMax` at
    * [[fixedU]] (k's seeds: the k-prefix), every set's draw r in the same
    * scans ([[inverseCdfDraws]]). A draw that fails on the driver stops its
    * set and every set after it, as running the sets one at a time would:
    * the seeds of the sets before it come back with its error, and the
    * first set's error is raised at once.
    */
  private[operators] def inverseCdfSeeds(points: Points, kMax: Int, weightScale: Double,
      sets: Seq[Int] = Seq(0)): (Seq[Seq[Centroid]], Option[Throwable]) = {
    val firsts = sets.map(points.firstK(1, _))
    require(firsts.forall(_.nonEmpty), "fitBounded on an empty relation")
    (2 to kMax).foldLeft((firsts, Option.empty[Throwable])) { case ((seeds, failed), r) =>
      val (uN, uD) = fixedU(r)
      val drawn = inverseCdfDraws(points, sets zip seeds, uN, uD, weightScale).map(_.flatMap(_.toRight(
        new IllegalArgumentException(s"requirement failed: k-means++ draw $r returned no row")).toTry))
      val ok = drawn.takeWhile(_.isSuccess).map(_.get)
      val failure = drawn.drop(ok.size).headOption.map(_.failed.get)
      if (ok.isEmpty) failure.foreach(throw _)
      (seeds.zip(ok).map { case (s, c) => s :+ c }, failure.orElse(failed))
    }
  }

  /** An [[inverseCdfDraw]] census's key-range buckets, and the most rows of
    * several keys its crossing bucket brings to the driver unsplit.
    */
  private val DrawBuckets = 1024
  private val DrawRows = 4096

  /** [[seedNextInverseCdf]]'s draw (D² weights, every row) as kernel scans
    * over the placed points, either placement, planning no query:
    *  - a null `Y`, or one equal to a chosen centroid under SQL equality
    *    (same length; NaN = NaN, −0.0 = 0.0), has no weight; another row
    *    weighs `least(round(x), 2^62)::long` for x =
    *    [[NearestSqDistLit.sqDist]]·s ([[fxEncode]]'s round and cast);
    *  - the total is exact; the sentinel `Σ round(x)` (past 2^52 `round(x)`
    *    is `x`) is a double summed as Spark sums it for that plan: in row
    *    order per partition from 0.0, then over the partitions in index
    *    order. Past half the overflow bound the weights rescale to a quarter
    *    of it; past the bound the draw fails;
    *  - the drawn row is the first in key order whose running weight sum
    *    `cw` has `cw·uDen ≥ total·uNum`. Key order puts a null key first and
    *    a tied key in partition, then row order ([[Block.firstK]]'s): on
    *    unique non-null keys, the DataFrame form's pick (KMeansSpec).
    * The first scan is a census ([[drawScan]]); the driver finds the
    * crossing bucket, and the next scan brings its rows or, past
    * [[DrawRows]] rows of several keys, splits it again. Partitioned, a
    * draw is 2 jobs (3 where the weights rescale). None where no row has
    * weight or none crosses.
    */
  private[graft] def inverseCdfDraw(points: Points, chosen: Seq[Centroid], uNum: Long,
      uDen: Long, weightScale: Double): Option[Centroid] =
    inverseCdfDraws(points, Seq(0 -> chosen), uNum, uDen, weightScale).head.get

  /** One [[inverseCdfDraw]] per (point set, chosen centroids) in `draws`,
    * in LOCKSTEP: each round of scans is ONE job serving every draw still
    * waiting for one, so partitioned the draws together take the jobs of
    * the longest of them. A draw that fails on the driver (its `require`s)
    * gives its error and stops; the others go on.
    */
  private[graft] def inverseCdfDraws(points: Points, draws: Seq[(Int, Seq[Centroid])], uNum: Long,
      uDen: Long, weightScale: Double): Seq[Try[Option[Centroid]]] = {
    val bound = Long.MaxValue / math.max(uNum, math.max(uDen, 1L))
    // a draw waiting for the census of its query `q`, and what it does with it
    final case class Waiting(q: DrawQuery, next: DrawCensus => Either[Waiting, Option[Centroid]])
    type Step = Either[Waiting, Option[Centroid]]
    def tried(step: => Step): Either[Waiting, Try[Option[Centroid]]] =
      Try(step).fold(e => Right(Failure(e)), _.map(Success(_)))
    def start(set: Int, chosen: Seq[Centroid]): Step = {
      require(chosen.forall(_.c != null), "Y is null: a k-means point needs coordinates")
      val (lo, hi) = points.keyRangeOf(set).getOrElse((0L, -1L))
      def query(s: Double, lo: Long, hi: Long, nulls: Boolean, rows: Boolean) =
        DrawQuery(set, chosen, s, lo, hi, nulls, rows)
      // census `c` of the keys in [lo, hi] at scale s, after `cw` of weight in key order
      def descend(c: DrawCensus, s: Double, total: Long, lo: Long, hi: Long, cw: Long): Step = {
        val ends = c.sums.scanLeft(cw)(_ + _).tail // the weight to each bucket's end
        val b = ends.indices.indexWhere(b => c.ns(b) > 0 && ends(b) * uDen >= total * uNum)
        val width = java.lang.Long.divideUnsigned(hi - lo, DrawBuckets) + 1
        val (bLo, bHi) = if (b <= 0) (0L, -1L) else {
          val l = lo + (b - 1) * width
          (l, if (java.lang.Long.compareUnsigned(hi - l, width - 1) <= 0) hi else l + width - 1)
        }
        val cwBefore = if (b < 0) 0L else ends(b) - c.sums(b)
        if (b > 0 && c.ns(b) > DrawRows && bLo != bHi)
          Left(Waiting(query(s, bLo, bHi, nulls = false, rows = false),
            descend(_, s, total, bLo, bHi, cwBefore)))
        else if (b < 0) Right(None)
        else Left(Waiting(query(s, bLo, bHi, nulls = b == 0, rows = true), { r =>
          var w = cwBefore
          Right(r.rows.sortBy(r => (!r._1, r._2, r._3, r._4)).find { r => w += r._5; w * uDen >= total * uNum }
            .map(r => Centroid(chosen.map(_.j).max + 1, r._6.toSeq)))
        }))
      }
      def census(c: DrawCensus, s: Double): Step = {
        val total = c.total.longValueExact()
        require(total >= 0 && total <= bound,
          s"k-means++ draw would overflow Long: total weight $total × u=$uNum/$uDen; " +
            "reduce weightScale")
        descend(c, s, total, lo, hi, 0L)
      }
      Left(Waiting(query(weightScale, lo, hi, nulls = true, rows = false), { first =>
        if (first.sentinel.isEmpty) Right(None)
        else if (first.sentinel.get > bound.toDouble * 0.5) {
          val s = weightScale * (bound.toDouble * 0.25) / first.sentinel.get
          Left(Waiting(query(s, lo, hi, nulls = true, rows = false), census(_, s)))
        } else census(first, weightScale)
      }))
    }
    val steps = draws.map { case (set, chosen) => tried(start(set, chosen)) }.toArray
    while (steps.exists(_.isLeft)) {
      val waiting = steps.indices.filter(steps(_).isLeft)
      val qs = waiting.map(steps(_).left.toOption.get)
      val censuses = drawScans(points, qs.map(_.q))
      waiting.indices.foreach(x => steps(waiting(x)) = tried(qs(x).next(censuses(x))))
    }
    steps.map(_.toOption.get).toSeq
  }

  /** A [[drawScan]]: per bucket (0: the null keys) the weight sum and row
    * count, the exact total, the sentinel (None without a weighted row) and
    * the rows, each (null key, key, partition, row, weight, Y), where asked.
    */
  private[graft] final case class DrawCensus(sums: Array[Long], ns: Array[Int], total: BigInteger,
      sentinel: Option[Double], rows: Seq[(Boolean, Long, Int, Int, Long, Array[Double])])

  /** One [[drawScan]] of point set `set`. */
  private[graft] final case class DrawQuery(set: Int, chosen: Seq[Centroid], s: Double, lo: Long,
      hi: Long, nulls: Boolean, rows: Boolean)

  /** One [[inverseCdfDraw]] scan of set 0 at weight scale `s`: [[drawScans]]. */
  private[graft] def drawScan(points: Points, chosen: Seq[Centroid], s: Double, lo: Long, hi: Long,
      nulls: Boolean, rows: Boolean): DrawCensus =
    drawScans(points, Seq(DrawQuery(0, chosen, s, lo, hi, nulls, rows))).head

  /** The [[inverseCdfDraw]] scans `qs` as ONE job described as
    * `KMeans.draw` where partitioned: per query, the weighted rows of its
    * point set with a key in [`lo`, `hi`], in [[DrawBuckets]] even key
    * ranges, and (`nulls`) those with a null key; the partitions' answers
    * merge in index order.
    */
  private[graft] def drawScans(points: Points, qs: Seq[DrawQuery]): Seq[DrawCensus] = {
    import BigInteger.{ZERO, valueOf}
    val ansi = points.ansi
    val plans = qs.map { q =>
      (foldOf(coords(q.chosen)), q.chosen.map(_.c.toArray).toArray,
        java.lang.Long.divideUnsigned(q.hi - q.lo, DrawBuckets) + 1)
    }.toArray
    val bySet = bySets(qs.map(_.set), qs.size)
    val queries = qs.toArray
    val parts = points.scanSets("KMeans.draw") { (part, rows) =>
      val out = new Array[DrawCensus](queries.length)
      bySet.foreach { case (set, mine) => mine.foreach { x =>
        val q = queries(x)
        val ((cs, k, dim), ys, width) = plans(x)
        val (sums, ns) = (new Array[Long](DrawBuckets + 1), new Array[Int](DrawBuckets + 1))
        val drawn = Array.newBuilder[(Boolean, Long, Int, Int, Long, Array[Double])]
        var (t, big, sentinel, row) = (0L, ZERO, 0.0, -1)
        rows(set).foreach { p =>
          row += 1
          val b = if (p.nullKey) { if (q.nulls) 0 else -1 }
            else if (p.i >= q.lo && p.i <= q.hi) 1 + java.lang.Long.divideUnsigned(p.i - q.lo, width).toInt
            else -1
          if (b >= 0 && p.y != null && !ys.exists(sqlEquals(_, p))) {
            val x = NearestSqDistLit.sqDist(cs, k, dim, p.y, p.yOff, p.n) * q.s
            val w = if (x.isNaN || x >= 4.611686018427387904e18) 1L << 62 else fxEncode(x, ansi)
            sums(b) += w; ns(b) += 1
            val sum = t + w // past the long range, the rows so far move to `big`
            if (((t ^ sum) & (w ^ sum)) < 0) { big = big.add(valueOf(t)); t = w } else t = sum
            sentinel += (if (math.abs(x) < 4.503599627370496e15) roundHalfUpLong(x).toDouble else x)
            if (q.rows) drawn += ((p.nullKey, p.i, part, row, w, p.y.slice(p.yOff, p.yOff + p.n)))
          }
        }
        out(x) = DrawCensus(sums, ns, big.add(valueOf(t)), Option.when(ns.exists(_ > 0))(sentinel),
          drawn.result().toSeq)
      } }
      out
    }
    queries.indices.map { x =>
      val ps = parts.map(_(x))
      val sentinels = ps.flatMap(_.sentinel)
      DrawCensus(Array.tabulate(DrawBuckets + 1)(b => ps.map(_.sums(b)).sum),
        Array.tabulate(DrawBuckets + 1)(b => ps.map(_.ns(b)).sum),
        ps.map(_.total).foldLeft(ZERO)(_ add _),
        Option.when(sentinels.nonEmpty)(sentinels.foldLeft(0.0)(_ + _)), ps.flatMap(_.rows).toSeq)
    }
  }

  /** `c` equals `p`'s `Y` under SQL equality: same length; NaN = NaN, −0.0 = 0.0. */
  private def sqlEquals(c: Array[Double], p: Point): Boolean =
    c.length == p.n && c.indices.forall(d =>
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(c(d), p.y(p.yOff + d)) == 0)

  /** Mini-batch k-means (Sculley 2010, "Web-scale k-means clustering"):
    * each iteration assigns only a deterministic pseudo-random BATCH of
    * points and nudges every touched centroid toward its batch mean with a
    * per-centroid learning rate 1/n_j (n_j = points that centroid has ever
    * absorbed). The scan per iteration is `batchFrac` of the data, so 20
    * iterations cost ~2 full passes instead of 20 — the fit variant a
    * 100 TB corpus actually runs when full Lloyd is too expensive.
    *
    * The batch is an LCG bucket over the point id (the transparent
    * doc-split family): per-step salt `seed + step` re-draws membership
    * each iteration, replayable on any engine. The update uses the
    * AGGREGATED form of Sculley's per-point rule — for a centroid that
    * absorbed `cnt` batch points summing to `s`:
    * `c ← c + (s − cnt·c) / n_j_total` — one k-sized driver update per
    * step off the SAME sufficient-stats scan as the fit loop's step (one
    * kernel scan of the batch, ≤ P partial arrays to the driver, no
    * shuffle).
    *
    * One loop, either placement, chosen by [[fitAuto]]'s one placement job
    * ([[Points.place]]): while `rows·dim ≤ localMaxCells` (and
    * `localMaxCells > 0`) the points are collected (saving ~20 jobs of fixed
    * cost), past it they are resident blocks, and each step scans the rows
    * the int64 LCG predicate keeps. The FitResult is bit-identical (pinned
    * in KMeansSpec).
    *
    * Convergence is monitored with the same [[movement]] metric and `tol`;
    * the log records each step's centroids so the WCR history stays
    * replayable. Not oracle-hash-checkable (the learning-rate recursion is
    * a per-step driver fold) — quality vs full Lloyd is pinned in
    * KMeansSpec instead.
    */
  def fitMiniBatch(points: DataFrame, k: Int, dim: Int,
      batchFrac: Double = 0.1, tol: Double = 0.01, maxIter: Int = 20,
      seed: Long = 42L, localMaxCells: Long = LocalMaxCells): FitResult = {
    require(batchFrac > 0 && batchFrac <= 1, s"batchFrac $batchFrac not in (0,1]")
    Points.withPlaced(points, Nil, (dim, 1e6), k, if (localMaxCells > 0) localMaxCells else -1L)(
      miniBatch(_, k, dim, batchFrac, tol, maxIter, seed))
  }

  /** [[fitMiniBatch]] at its defaults, and [[census]]'s rows of its
    * centroids counted over the fit's own placement: collected, the census
    * runs no job.
    */
  private[graft] def fitMiniBatchCensus(points: DataFrame, k: Int, dim: Int): (FitResult, Seq[(Long, Long)]) =
    Points.withPlaced(points, Nil, (dim, 1e6), k, LocalMaxCells)(
      withCensus(miniBatch(_, k, dim, batchFrac = 0.1, tol = 0.01, maxIter = 20, seed = 42L)))

  /** [[fitMiniBatch]]'s loop over placed points. */
  private def miniBatch(placed: Points, k: Int, dim: Int, batchFrac: Double, tol: Double,
      maxIter: Int, seed: Long): FitResult = {
    val mod = 2147483647L
    val cut = (batchFrac * mod).toLong
    var cs = placed.firstK(k)
    var log = cs.map(c => LogEntry(0L, c.j, c.c))
    val absorbed = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    var step = 0L
    var move = Double.MaxValue
    while (move >= tol && step < maxIter) {
      step += 1
      val salt = 12345L + seed + step
      val batch = placed.where(i => (i * 1103515245L + salt) % mod < cut)
      val stats = kernelStats("KMeans.miniBatch", batch, Seq(cs), Nil, dim, fxScale = 1e6).head
      val next = cs.map { c =>
        stats.get(c.j) match {
          case Some((sums, cnt)) =>
            val n = absorbed(c.j) + cnt
            absorbed(c.j) = n
            // c + (batchSum − cnt·c)/n, batchSum exact off the fx longs
            Centroid(c.j, c.c.zipWithIndex.map { case (cc, d) =>
              cc + (sums(d).toDouble / 1e6 - cnt.toDouble * cc) / n
            })
          case None => c // centroid untouched by this batch
        }
      }
      move = movement(cs, next)
      cs = next
      log = log ++ cs.map(c => LogEntry(step, c.j, c.c))
    }
    FitResult(cs, log, step, move)
  }

  /** The fit loop — the ONE Lloyd loop of every fit ([[fit]], [[fitLocal]],
    * [[fitFrom]], [[fitBounded]], the choose-K sweep and the fitted gap
    * statistic), over either placement: every centroid set in `inits`
    * iterates in LOCKSTEP over `points`, one [[kernelStats]] scan per step
    * serving all sets still moving. Each set keeps its own stop rule
    * (movement < `tol` or `maxIter` steps), log and emptied-cluster
    * warning, so its [[FitResult]] is bit-identical to fitting it alone,
    * partitioned or collected (pinned in KMeansSpec). Init `x` iterates
    * over point set `of(x)` (set 0 for every init where `of` is empty).
    * Steps are numbered from `startStep` (see [[fitFrom]]).
    */
  private[graft] def iterate(points: Points, inits: Seq[Seq[Centroid]], dim: Int,
      tol: Double, maxIter: Int, fxScale: Double, startStep: Long, of: Seq[Int] = Nil): Seq[FitResult] = {
    requireFx(fxScale)
    final class Run(var cs: Seq[Centroid], val set: Int) {
      // a resumed run's starting centroids were already logged (at
      // startStep) by the run that produced them — only a fresh fit logs
      // its seeds
      var log: Seq[LogEntry] = if (startStep == 0L) cs.map(c => LogEntry(0L, c.j, c.c)) else Nil
      var step = startStep
      var move = Double.MaxValue
      def moving: Boolean = move >= tol && step < startStep + maxIter
    }
    val runs = inits.indices.map(ix => new Run(inits(ix), if (of.isEmpty) 0 else of(ix)))
    var active = runs.filter(_.moving)
    while (active.nonEmpty) {
      val stats = kernelStats("KMeans.lloyd", points, active.map(_.cs), active.map(_.set), dim, fxScale)
      active.zip(stats).foreach { case (r, st) =>
        r.step += 1
        val next = centroidsOf(st, fxScale)
        if (next.size < r.cs.size)
          logger.warn(s"kmeans: ${r.cs.size - next.size} cluster(s) emptied at step " +
            s"${r.step} (reference drop semantics)")
        r.move = movement(r.cs, next)
        r.cs = next
        r.log = r.log ++ r.cs.map(c => LogEntry(r.step, c.j, c.c))
      }
      active = active.filter(_.moving)
    }
    runs.map(r => FitResult(r.cs, r.log, r.step, r.move))
  }

  // ------------------------------------------------------- model persistence

  /** Persist a trained model: `<path>/centroids` (j, C) and `<path>/log`
    * (step, j, C) as parquet — the WCR-table shape (k-means.sql:11), so the
    * saved artifact doubles as the centroid log export. Coordinates are
    * doubles in parquet: the round trip is bit-exact, and [[loadModel]] +
    * [[assign]] serves the training-time assignments unchanged (pinned in
    * KMeansSpec and by `km_model_roundtrip` sharing `km_assign`'s oracle).
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, fit: FitResult,
      path: String): Unit = {
    import spark.implicits._
    fit.centroids.toDF("j", "C").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    fit.log.toDF("step", "j", "C").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/log")
  }

  /** Load the centroid set saved by [[saveModel]], in j order. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Centroid] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("j").collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1))).toSeq

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.kmeans")
}
