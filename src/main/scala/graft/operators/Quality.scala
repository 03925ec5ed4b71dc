package graft.operators

import org.apache.spark.GraftJobShim
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._
import graft.operators.KMeans.Centroid
import graft.plans.{NearestSqDistLit, PairDistStats}

/** Cluster-quality metrics — the reference's `OptimalK.sql`. */
object Quality {

  /** Elbow metric for a centroid set (reference OptimalK.sql:3-8): sum over
    * points of the distance to the nearest centroid. The reference uses PLAIN
    * distance (Quirk Q3 — not textbook WCSS); we emit both: `elbow_d1`
    * (reference semantics) and `elbow_d2` (textbook within-cluster sum of
    * squares). Single aggregated row; fixed-point sums for oracle exactness.
    */
  def elbow(points: DataFrame, cs: Seq[Centroid],
      d1Scale: Double = 1e6, d2Scale: Double = 1e6): DataFrame = {
    val msq = graft.plans.native.nearest_sq_dist(col("Y"), cs.map(_.c))
    points.select(msq.as("msq"))
      .agg(
        sumFx(sqrt(col("msq")), d1Scale).as("elbow_d1"),
        sumFx(col("msq"), d2Scale).as("elbow_d2"))
  }

  /** Davies–Bouldin + Calinski–Harabasz indices for a centroid set — the
    * two standard choose-K validity indices next to the reference's
    * elbow/silhouette (Davies & Bouldin 1979; Caliński & Harabasz 1974).
    * One row `(db_index, ch_index)`; lower DB / higher CH = better.
    *
    * Fixed-point discipline throughout so the DuckDB oracle hash-matches:
    * per-cluster scatters `s_j` and the global means are fixed-point sums;
    * the k per-cluster DB maxes and the k between-variance terms are
    * rounded to integers BEFORE the final k-row sum (doubles would sum in
    * engine-dependent order); every division chain is the identical IEEE
    * sequence on identical inputs.
    *
    * Scale: one shuffle over the assigned points (partial/final per-cluster
    * aggregation) + k-row arithmetic. `assigned` = output of
    * [[KMeans.assign]] joined coordinates — here recomputed from `cs`
    * literals so the operator is self-contained.
    */
  def validityIndices(points: DataFrame, cs: Seq[Centroid],
      sScale: Double = 1e4, dbScale: Double = 1e6,
      bScale: Double = 1e2, wScale: Double = 1e2): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val k = cs.size
    val dim = cs.head.c.size
    val csDf = cs.map(c => (c.j, c.c)).toDF("j", "C")
    // ONE scan: per-cluster count, scatter sum (sqrt distances), within sum
    // (squared distances), and per-dimension coordinate sums — all as exact
    // longs. The per-cluster partials reassemble every global total the two
    // indices need (integer sums are order-independent), so W and the
    // global mean come for free instead of costing extra scans.
    val d2 = sqDist(col("Y"), col("C"))
    val perAggs =
      Seq(count(lit(1)).as("n"),
        sum(round(sqrt(d2) * sScale).cast("long")).as("sdL"),
        sum(round(d2 * wScale).cast("long")).as("wL")) ++
      (0 until dim).map(d =>
        sum(round(element_at(col("Y"), d + 1) * sScale).cast("long")).as(s"xL$d"))
    val rows = KMeans.assign(points, cs).join(broadcast(csDf), "j")
      .groupBy("j").agg(perAggs.head, perAggs.tail: _*)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          (0 until dim).map(d => r.getLong(4 + d)))
      }.sortBy(_._1)
    // driver arithmetic replicates the oracle SQL's exact op sequences on
    // the k collected rows (roundHalfUpLong = Spark/DuckDB round)
    val byJ = cs.map(c => c.j -> c.c).toMap
    def sqd(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var d = 0
      while (d < a.length) { val t = a(d) - b(d); s += t * t; d += 1 }
      s
    }
    val scatter = rows.map { case (j, n, sdL, _, _) =>
      j -> (sdL.toDouble / sScale) / n
    }.toMap
    val mxSum = rows.map { case (ji, _, _, _, _) =>
      val mx = rows.collect { case (jj, _, _, _, _) if jj != ji =>
        (scatter(ji) + scatter(jj)) / math.sqrt(sqd(byJ(ji), byJ(jj)))
      }.max
      KMeans.roundHalfUpLong(mx * dbScale)
    }.sum
    val dbIndex = mxSum.toDouble / dbScale / k
    val nTot = rows.map(_._2).sum
    val w = rows.map(_._4).sum.toDouble / wScale
    val g = (0 until dim).map(d =>
      rows.map(_._5(d)).sum.toDouble / sScale / nTot)
    val b = rows.map { case (j, n, _, _, _) =>
      KMeans.roundHalfUpLong((n * sqd(byJ(j), g)) * bScale)
    }.sum.toDouble / bScale
    val ch =
      if (k > 1 && nTot > k) (b / (k - 1)) / (w / (nTot - k)) else Double.NaN
    Seq((dbIndex, ch)).toDF("db_index", "ch_index")
  }

  /** The reference's second entry point — the OptimalK sweep (reference
    * OptimalK.sql:3-21, README.md:39-43): one row (k, elbow_d1, elbow_d2,
    * silhouette) per candidate k, a null silhouette read as NaN. Each row is
    * bit-identical to the reference's per-k loop `KMeans.fit(PlusPlus)` +
    * [[elbow]] + [[silhouetteSimplified]] (QualitySpec), but the points
    * are placed once for the whole sweep, as `KMeans.fit` places them
    * (one job builds the blocks and, while `rows·dim` ≤ 4M cells, brings
    * them to the driver; past it they stay resident until the end),
    * and the ++ chain runs once, for `ks.max`: round r reads only the first
    * r seeds and `seed + r`, so `seeds.take(k)` is k's own seeding. Then
    * every k's fit runs in the one Lloyd loop's lockstep
    * ([[KMeans.iterate]]: one scan per step for all k still moving) and one
    * [[scoreKs]] scores all of them. Below the bound the sweep is three
    * jobs: the placement, the sample collect and the silhouette. `points`
    * should be cached by the caller; `sample` is the silhouette pre-sample
    * (its pair stage is O(|sample|²)).
    */
  def optimalKSweep(points: DataFrame, sample: DataFrame, dim: Int, ks: Seq[Int],
      seed: Long = 42L, d1Scale: Double = 1e6, d2Scale: Double = 1e6,
      maxIter: Int = 50): DataFrame = {
    require(ks.forall(_ >= 1), s"every k must be >= 1, got ${ks.mkString(", ")}")
    val spark = points.sparkSession
    import spark.implicits._
    (if (ks.isEmpty) Nil else KMeans.Points.withPlaced(points, Nil, (dim, 1e6), firstK = 1,
        maxCells = KMeans.LocalMaxCells) { placed =>
      val seeds = KMeans.plusPlusSeeds(placed, ks.max, seed)
      val fits = KMeans.iterate(placed, ks.map(seeds.take), dim, tol = 0.01, maxIter = maxIter,
        fxScale = 1e6, startStep = 0L)
      scoreKs(placed, sample, ks.zip(fits.map(_.centroids)), d1Scale, d2Scale)
    }).map { case (k, d1, d2, si) => (k, d1.get, d2.get, si.getOrElse(Double.NaN)) }
      .toDF("k", "elbow_d1", "elbow_d2", "silhouette")
  }

  /** OptimalK curve over NESTED seed prefixes (centroid set for k is
    * `seeds.take(k)`) — the oracle-able form of the sweep, scored by the same
    * [[scoreKs]]. Nesting makes both elbows monotone non-increasing in k (a
    * min over a superset of centroids can't grow) — QualitySpec asserts it.
    */
  def optimalKNested(points: DataFrame, sample: DataFrame, seeds: Seq[Centroid],
      ks: Seq[Int], d1Scale: Double = 1e6, d2Scale: Double = 1e6,
      dScale: Double = 1e3, maxCollectRows: Int = 1000000): DataFrame = {
    require(ks.nonEmpty && ks.max <= seeds.size, s"need ${ks.max} seeds, got ${seeds.size}")
    val spark = points.sparkSession
    import spark.implicits._
    KMeans.Points.withPartitioned(points)(scoreKs(_, sample, ks.map(k => k -> seeds.take(k)),
      d1Scale, d2Scale, dScale, maxCollectRows)).toDF("k", "elbow_d1", "elbow_d2", "si")
  }

  /** (k, elbow_d1, elbow_d2, si) per (k, centroids) set, each value
    * bit-identical to [[elbow]] / [[silhouetteSimplified]] on that set alone
    * (None for null). All elbows come from ONE scan of `points`
    * ([[elbowSums]]). The sample is collected once (bounded, one job when
    * its partitions are balanced: [[collectAtMost]]) and labelled per set on the driver by the
    * Lloyd kernel's argmin ([[KMeans.nearestIds]], ≡ [[KMeans.assign]]);
    * then ONE job over its index range ([[GraftJobShim.run]], no closure
    * cleaned) runs each row's [[graft.plans.PairDistStats]] kernel per set
    * and sums the set's same- and cross-cluster (Σsfx, count) longs (exact
    * regroupings of the stats rows); the partitions' sums merge on the
    * driver in partition order (long sums: exact in any order) and
    * [[simplifiedSi]] finishes them. Past the bound each set runs
    * [[silhouettePairStatsJoin]] over the cached sample instead.
    */
  private def scoreKs(points: KMeans.Points, sample: DataFrame, sets: Seq[(Int, Seq[Centroid])],
      d1Scale: Double, d2Scale: Double, dScale: Double = 1e3,
      maxCollectRows: Int = 1000000): Seq[(Long, Option[Double], Option[Double], Option[Double])] = {
    if (sets.isEmpty) return Nil
    val spark = sample.sparkSession
    def opt(r: Row, ix: Int) = if (r.isNullAt(ix)) None else Some(r.getDouble(ix))
    val e = elbowSums(points, sets.map(_._2), Some(d1Scale), d2Scale)
    val sel = sample.select(col("i"), col("Y"))
    val si = collectAtMost(sel, maxCollectRows, "Quality.sample") match {
      case None =>
        val dist = sel.cache()
        try sets.map { case (_, cs) => opt(silhouetteSimplifiedFromStats(
          silhouettePairStatsJoin(KMeans.assign(dist, cs), dScale), dScale).select("si").head(), 0)
        } finally dist.unpersist()
      case Some(rows) =>
        val (ids, ys) = (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
        val kernels = sets.map { case (_, cs) => // children unused: only `compute` runs
          val js = KMeans.nearestIds(ys, cs)
          (js, PairDistStats(Literal(0L), Literal(0L), ids, js, ys, dScale))
        }
        val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.length))
        val partials = GraftJobShim.run(spark.sparkContext.parallelize(rows.indices, slices),
            "Quality.silhouette") { (_, ps) =>
          val acc = new Array[Long](4 * kernels.size) // per set: same Σ, n; cross Σ, n
          ps.foreach { p =>
            val y = UnsafeArrayData.fromPrimitiveArray(ys(p))
            kernels.iterator.zipWithIndex.foreach { case ((js, kern), s) =>
              val st = kern.compute(ids(p), y)
              (0 until st.numElements()).foreach { q =>
                val r = st.getStruct(q, 3)
                val o = 4 * s + (if (r.getLong(0) == js(p)) 0 else 2)
                acc(o) += r.getLong(1); acc(o + 1) += r.getLong(2)
              }
            }
          }
          acc
        }
        val sums = partials.reduce((a, b) => Array.tabulate(a.length)(x => a(x) + b(x)))
        sets.indices.map(s => simplifiedSi(sums.slice(4 * s, 4 * s + 4), dScale, points.ansi))
    }
    sets.indices.map(ix => (sets(ix)._1.toLong, e(ix)._1, e(ix)._2, si(ix)))
  }

  /** `df`'s rows — the rows, order and `Row` values `take(max + 1)` gives —
    * or None when `df` holds more than `max` rows; the driver receives
    * O(max) rows either way. Each task counts its partition up to `max + 1`
    * rows and returns them only if they fit its even share ⌈(max + 1)/P⌉,
    * so a total count past `max` answers None from the counts alone, and a
    * balanced partitioning answers in ONE job (`take` scans partition 0
    * first and the rest in a second job). Only if some partition outgrows
    * its share while the total fits does a second job fetch those
    * partitions, which then hold at most `max` rows between them. Both
    * jobs are described as `name` and submitted by [[GraftJobShim.run]].
    */
  private[graft] def collectAtMost(df: DataFrame, max: Int,
      name: String = "Quality.collectAtMost"): Option[Array[Row]] = {
    val rdd = df.queryExecution.toRdd
    val share = max / math.max(1, rdd.getNumPartitions) + 1
    val counted = GraftJobShim.run(rdd, name) { (_, it) =>
      val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var n = 0L
      while (n <= max && it.hasNext) {
        val r = it.next()
        if (n < share) kept += r.copy()
        n += 1
      }
      (n, if (n <= share) kept.toArray else null)
    }
    if (counted.iterator.map(_._1).sum > max) return None
    val over = counted.indices.filter(p => counted(p)._2 == null)
    val refetched = if (over.isEmpty) Array.empty[Array[InternalRow]]
      else GraftJobShim.run(rdd, name, over)((_, it) => it.map(_.copy()).toArray)
    val byPart = (over zip refetched).toMap
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    Some(counted.indices.iterator
      .flatMap(p => byPart.getOrElse(p, counted(p)._2)).map(toRow).toArray)
  }

  /** [[elbow]]'s sums for every centroid set, from ONE scan of the
    * placement (set x over point set `of(x)`, set 0 for all where `of` is
    * empty): per point and set, the squared distance `m` that
    * `nearest_sq_dist` computes ([[NearestSqDistLit.sqDist]], the one
    * nearest fold), encoded as `round(sqrt(m)·d1Scale)::long` and
    * `round(m·d2Scale)::long` ([[KMeans.fxEncode]], CAST_OVERFLOW under
    * ANSI) and added as Spark's long `sum` adds ([[KMeans.plusLong]]). A
    * null `Y` is skipped, as `sum` skips it, so with no `Y` at all both sums
    * are None (null); `d1Scale` None leaves the d1 sum out. Bit-identical to
    * [[elbow]] per set (QualitySpec).
    */
  private def elbowSums(points: KMeans.Points, sets: Seq[Seq[Centroid]], d1Scale: Option[Double],
      d2Scale: Double, of: Seq[Int] = Nil): Seq[(Option[Double], Option[Double])] = {
    val ansi = points.ansi
    val folds = sets.map(cs => KMeans.foldOf(cs.map(_.c))).toArray
    val bySet = KMeans.bySets(of, sets.size)
    val partials = points.scanSets("Quality.elbow") { (_, rows) =>
      val acc = new Array[Long](2 * folds.length) // per set: Σ d1, Σ d2
      val seen = new Array[Long](folds.length)
      bySet.foreach { case (ps, mine) =>
        rows(ps).foreach { p =>
          if (p.y != null) {
            var x = 0
            while (x < mine.length) {
              val s = mine(x)
              val (cs, k, dim) = folds(s)
              val m = NearestSqDistLit.sqDist(cs, k, dim, p.y, p.yOff, p.n)
              d1Scale.foreach { sc =>
                acc(2 * s) = KMeans.plusLong(acc(2 * s), KMeans.fxEncode(math.sqrt(m) * sc, ansi), ansi)
              }
              acc(2 * s + 1) = KMeans.plusLong(acc(2 * s + 1), KMeans.fxEncode(m * d2Scale, ansi), ansi)
              seen(s) += 1
              x += 1
            }
          }
        }
      }
      (seen, acc)
    }
    val sums = partials.map(_._2).foldLeft(new Array[Long](2 * folds.length)) { (a, b) =>
      Array.tabulate(a.length)(x => KMeans.plusLong(a(x), b(x), ansi))
    }
    def total(s: Int, x: Int, scale: Double) =
      if (partials.forall(_._1(s) == 0)) None else Some(sums(x).toDouble / scale)
    sets.indices.map(s => (d1Scale.flatMap(total(s, 2 * s, _)), total(s, 2 * s + 1, d2Scale)))
  }

  /** [[silhouetteSimplifiedFromStats]]' arithmetic on (same Σsfx, count,
    * cross Σsfx, count) with Spark's nulls: a sum over no stats row (all
    * have cnt > 0) is null, so is si then, and `x / 0` is null or, under
    * ANSI, DIVIDE_BY_ZERO.
    */
  private def simplifiedSi(s: Array[Long], dScale: Double, ansi: Boolean): Option[Double] = {
    def avg(sfx: Long, n: Long) = if (n == 0) None else Some((sfx.toDouble / dScale) / n)
    (avg(s(0), s(1)), avg(s(2), s(3))) match {
      case (Some(ai), Some(bi)) if math.max(ai, bi) != 0 => Some((bi - ai) / math.max(ai, bi))
      case (Some(_), Some(_)) if ansi =>
        throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero.")
      case _ => None
    }
  }

  /** Gap statistic over NESTED seed prefixes — the fully relational,
    * oracle-able sibling of [[gapStatistic]], exactly as [[optimalKNested]]
    * is to [[optimalKSweep]]: the centroid set for k is `seeds.take(k)` on
    * the data side and the k lowest-id reference draws on each reference
    * side (no iterative fit anywhere, so every W term is ANSI-SQL
    * expressible and the DuckDB oracle hash-matches).
    *
    * Reference draws are TRANSPARENT-hash uniforms (an LCG over the row id:
    * `((i·A_bd + C_bd) mod M)/M` stretched to the data's bounding box —
    * per-(set, dim) MULTIPLIERS, see [[gapLcgA]], so sets are not
    * translations of each other and coordinates are not collinear), not
    * Spark's xxhash64 — the whole point is that the oracle can replay them
    * in SQL, the same discipline as [[graft.Dedup]]'s minhash constants.
    * Deterministic under any partitioning by construction.
    *
    * Scale shape: one box scan (a placement job that builds no collected
    * copy) + ONE multi-aggregate scan computing all
    * (refSets+1)·|ks| fixed-point dispersions in a single pass (the
    * reference coordinates are expressions over `i`, never materialized);
    * only (refSets+1)·|ks| scalars reach the driver. The log / mean / sd
    * arithmetic runs driver-side in the EXACT operation order the oracle
    * SQL writes (mean = (l0+l1+l2)/3.0 etc.), and `chosen` compares the
    * e6-rounded integers (not raw doubles) so the pick is engine-exact.
    *
    * `scale` follows the elbow's d2Scale convention (SMALL for SQUARED
    * sums): with seeds that are arbitrary nested prefixes, per-row msq
    * reaches the squared box diagonal (~3.6e11 on orders coordinates), so
    * a 1e4 scale overflows the Long sum at a few thousand rows — the exact
    * overflow ANSI mode catches at sf0.1 and DuckDB would refuse at any
    * size. 0.01 keeps the per-row term ≤ ~4e9, leaving ~2^31 headroom on
    * row count, and costs nothing after the log (relative error ~1e-13).
    */
  def gapStatisticNested(points: DataFrame, dim: Int, ks: Seq[Int],
      seeds: Seq[Centroid], refSets: Int = 3, scale: Double = 0.01): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.max <= seeds.size,
      s"need ascending ks with ${ks.max} seeds")
    // the reference box from one placement job, never collected
    val (lo, hi) = KMeans.Points.withPlaced(points, Nil, (dim, 1e6), firstK = 0, maxCells = -1L,
      box = true)(p => boxBounds(p.box, dim))
    // reference-side nested seeds: the draws at the ks.max smallest ids,
    // computed with the identical integer-then-double op sequence
    val seedIds = points.select(col("i")).orderBy("i").limit(ks.max)
      .collect().map(_.getLong(0)).toSeq
    def refSeeds(b: Int): Seq[Seq[Double]] = seedIds.map { i =>
      (0 until dim).map { d =>
        ((i * gapLcgA(b, dim, d) + gapLcgC(b, dim, d)) % GapLcgM).toDouble /
          GapLcgM.toDouble * (hi(d) - lo(d)) + lo(d)
      }
    }
    // ONE scan: all (refSets+1)·|ks| fixed-point dispersions together
    val aggs = ks.flatMap { k =>
      sumFx(graft.plans.native.nearest_sq_dist(
        col("Y"), seeds.take(k).map(_.c)), scale).as(s"wd_$k") +:
        (0 until refSets).map(b => sumFx(graft.plans.native.nearest_sq_dist(
          gapRefY(b, dim, lo, hi), refSeeds(b).take(k)), scale).as(s"wr_${b}_$k"))
    }
    val w = points.agg(aggs.head, aggs.tail: _*).head()
    def wOf(name: String): Double = w.getDouble(w.fieldIndex(name))
    gapRows(points.sparkSession, ks, ks.map(k => wOf(s"wd_$k")) +:
      (0 until refSets).map(b => ks.map(k => wOf(s"wr_${b}_$k"))))
  }

  /** Reference set `b`'s `Y`: the LCG uniforms of the key `i` stretched to
    * the box (`lo`, `hi`), as [[gapStatisticNested]] and
    * [[gapStatisticFitted]] draw them — one vector per row, the data's
    * cardinality, pure column expressions (never materialized).
    */
  private def gapRefY(b: Int, dim: Int, lo: Seq[Double], hi: Seq[Double]): Column =
    array((0 until dim).map { d =>
      ((col("i") * gapLcgA(b, dim, d) + gapLcgC(b, dim, d)) % GapLcgM).cast("double") /
        GapLcgM.toDouble * (hi(d) - lo(d)) + lo(d)
    }: _*)

  /** The gap rows from each set's dispersion per k (`ws(0)` the data,
    * `ws(b)` reference set b, both indexed like `ks`): driver-side scalar
    * math, op-for-op the oracle SQL's expressions, and `chosen` compares
    * the e6-rounded integers so the pick is engine-exact.
    */
  private[graft] def gapRows(spark: SparkSession, ks: Seq[Int], ws: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    val refSets = ws.size - 1
    val stats = ks.zipWithIndex.map { case (k, ix) =>
      val ls = (1 to refSets).map(b => math.log(ws(b)(ix)))
      val mean = ls.reduce(_ + _) / refSets.toDouble
      val gap = mean - math.log(ws(0)(ix))
      val sd = math.sqrt(ls.map(l => (l - mean) * (l - mean)).reduce(_ + _) /
        refSets.toDouble)
      val sk = sd * math.sqrt(1.0 + 1.0 / refSets.toDouble)
      (k.toLong, math.round(gap * 1e6), math.round(sk * 1e6))
    }
    val chosen = stats.zip(stats.drop(1)).collectFirst {
      case ((k, g, _), (_, gN, skN)) if g >= gN - skN => k
    }.getOrElse(ks.max.toLong)
    stats.map { case (k, g, sk) => (k, g, sk, if (k == chosen) 1L else 0L) }
      .toDF("k", "gap_e6", "sk_e6", "chosen")
  }

  /** LCG constants for [[gapStatisticNested]]'s reference draws — small
    * enough that `i·A + C` stays far below 2^63 for any realistic key space
    * (DuckDB ERRORS on BIGINT overflow rather than wrapping, so the oracle
    * must never overflow).
    */
  val GapLcgA = 1103515245L
  val GapLcgM = 2147483647L
  val GapLcgC0 = 12345L
  val GapLcgCStep = 999983L

  /** Per-(set, dim) LCG MULTIPLIER for the gap reference draws,
    * `A + (b·dim + d)·AStep`. A single shared multiplier with per-(b, d)
    * additive constants makes every draw an affine translate of the same
    * underlying sequence mod M: reference SETS become translations of each
    * other (their fitted dispersions agree to wraparound noise, so the
    * Tibshirani s_k collapses to ~0) and, within a set, the x and y draws
    * differ by a constant (the "uniform box" degenerates to wrapped
    * diagonal lines). Distinct multipliers (any nonzero value works — M is
    * prime, so each is a bijection mod M, preserving uniformity)
    * decorrelate both. Kept small enough that `i·A_bd` stays far below
    * 2^63 for any realistic key space.
    */
  val GapLcgAStep = 999983L
  def gapLcgA(b: Int, dim: Int, d: Int): Long =
    GapLcgA + (b * dim + d).toLong * GapLcgAStep
  def gapLcgC(b: Int, dim: Int, d: Int): Long = GapLcgC0 + (b * dim + d).toLong * GapLcgCStep

  /** The shared O(n²) stage behind BOTH silhouette variants: for every
    * (point i1 in cluster j1, other cluster j2) the exact integer sum of
    * rounded pair distances (`sfx = Σ round(d·dScale)`) and the pair count.
    * n_points × k rows — tiny; both [[silhouetteRousseeuw]] and
    * [[silhouetteSimplified]] derive from it EXACTLY (long sums are
    * associative, so any regrouping is value-identical), which lets callers
    * run the quadratic pair stage once and reuse it.
    *
    * Default implementation: the fused [[graft.plans.PairDistStats]] kernel.
    * The sample is collected (tiny BY CONTRACT — it is the thing being
    * squared; at scale `assigned` must be a deterministic pre-sample, columns
    * (i, Y, j)), redistributed across the cluster, and every row computes its
    * per-cluster stats against the plan-shipped sample inside whole-stage
    * codegen. The O(n²) arithmetic is unchanged, but no |sample|² rows are
    * ever materialized or shuffled — at sf0.1 (6.5k sample, 42.5M pairs) this
    * is ~50× faster than the join form below, and it parallelizes over the
    * repartitioned sample instead of serializing through a
    * BroadcastNestedLoopJoin over a single-partition stream side.
    * Value-identity with the join form is pinned in QualitySpec.
    *
    * The "tiny by contract" clause is ENFORCED, not assumed: the collect is
    * bounded ([[collectAtMost]]: each task sends at most its share of
    * `maxCollectRows` rows, plus its count), and if the sample overflows
    * the bound the operator falls back to
    * [[silhouettePairStatsJoin]]'s fully distributed kernel (same integer
    * pair stats — long sums are associative, so the two forms are
    * bit-identical; ScaleSpec pins the seam). A caller that
    * mis-sizes its sample gets a slower distributed plan, never an O(n)
    * driver materialization — the `memoMaxRows` discipline of
    * SparkEntry.docComponents applied to the kernel itself.
    */
  def silhouettePairStats(assigned: DataFrame, dScale: Double = 1e3,
      maxCollectRows: Int = 1000000): DataFrame = {
    val spark = assigned.sparkSession
    val sel = assigned.select(col("i"), col("j"), col("Y"))
    val rows = collectAtMost(sel, maxCollectRows, "Quality.pairStats.collect") match {
      case Some(rows) => rows
      case None => return silhouettePairStatsJoin(assigned, dScale)
    }
    val ids = rows.map(_.getLong(0))
    val js = rows.map(_.getLong(1))
    val ys = rows.map(_.getSeq[Double](2).toArray)
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.length))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sel.schema)
      .repartition(slices)
      .select(col("i").as("i1"), col("j").as("j1"),
        explode(graft.plans.native.pair_dist_stats(
          col("i"), col("Y"), ids, js, ys, dScale)).as("st"))
      .select(col("i1"), col("j1"), col("st").getField("j2").as("j2"),
        col("st").getField("sfx").as("sfx"), col("st").getField("cnt").as("cnt"))
  }

  /** The pair stage as an explicit relational O(n²) self-join — the form the
    * reference's OptimalK.sql:19 writes, kept as the executable spec that
    * [[silhouettePairStats]]'s kernel is pinned against (QualitySpec) and as
    * the fallback if the sample can't be collected. Non-equi self-join
    * (`i1 =!= i2`) ⇒ BroadcastNestedLoopJoin materializing |sample|² rows.
    */
  def silhouettePairStatsJoin(assigned: DataFrame, dScale: Double = 1e3): DataFrame = {
    val a = assigned.select(col("i").as("i1"), col("Y").as("Y1"), col("j").as("j1"))
    val b = assigned.select(col("i").as("i2"), col("Y").as("Y2"), col("j").as("j2"))
    // native kernel: keep the per-pair work one fused codegen'd loop
    val pairs = a.join(b, col("i1") =!= col("i2"))
      .select(col("i1"), col("j1"), col("j2"),
        round(sqrt(graft.plans.native.sq_dist(col("Y1"), col("Y2"))) * dScale)
          .cast("long").as("dfx"))
    pairs.groupBy("i1", "j1", "j2")
      .agg(sum("dfx").as("sfx"), count(lit(1)).as("cnt"))
  }

  /** Textbook per-point Rousseeuw silhouette, averaged: for each point,
    * a(i) = mean distance to its own cluster's other members, b(i) = min
    * over other clusters of the mean distance to that cluster,
    * s(i) = (b−a)/max(a,b); the output is mean s(i) — the standard quality
    * score the reference's simplified global form approximates. All means
    * derive from fixed-point integer sums so the DuckDB oracle matches
    * bit-for-bit.
    */
  def silhouetteRousseeuw(assigned: DataFrame, dScale: Double = 1e3,
      siScale: Double = 1e6): DataFrame =
    silhouetteRousseeuwFromStats(silhouettePairStats(assigned, dScale), dScale, siScale)

  /** Rousseeuw silhouette from a precomputed [[silhouettePairStats]]
    * intermediate (same dScale). Value-identical to computing from pairs
    * directly: `md = sfx/dScale/cnt` is the exact per-(point, cluster) mean.
    */
  def silhouetteRousseeuwFromStats(stats: DataFrame, dScale: Double = 1e3,
      siScale: Double = 1e6): DataFrame = {
    val toCluster = stats.select(col("i1"), col("j1"), col("j2"),
      (col("sfx").cast("double") / dScale / col("cnt")).as("md"))
    val ai = toCluster.filter(col("j1") === col("j2"))
      .select(col("i1").as("ia"), col("md").as("a"))
    val bi = toCluster.filter(col("j1") =!= col("j2"))
      .groupBy("i1").agg(min("md").as("b"))
      .select(col("i1").as("ib"), col("b"))
    val si = ai.join(bi, col("ia") === col("ib"))
      .select(((col("b") - col("a")) / greatest(col("a"), col("b"))).as("si"))
    si.agg((sum(round(col("si") * siScale).cast("long")).cast("double") / siScale /
      count(lit(1))).as("mean_si"), count(lit(1)).as("n_points"))
  }

  /** Simplified GLOBAL silhouette (reference OptimalK.sql:10-21): over all
    * point pairs (a ≠ b), `ai` = mean same-cluster distance, `bi` = mean
    * cross-cluster distance, `si = (bi−ai)/max(ai,bi)`. One number, not the
    * per-point Rousseeuw mean. O(n²) pairs — the reference does this over the
    * full table with no sampling (SURVEY.md §6); at scale the caller MUST
    * pre-sample, so `assigned` here is expected to be a (deterministic)
    * sample with columns (i, Y, j).
    */
  def silhouetteSimplified(assigned: DataFrame, dScale: Double = 1e3): DataFrame =
    silhouetteSimplifiedFromStats(silhouettePairStats(assigned, dScale), dScale)

  /** Simplified global silhouette from a precomputed
    * [[silhouettePairStats]] intermediate (same dScale). The global
    * conditional sums are regroupings of the per-point integer sums, so the
    * result is bit-identical to the direct pair aggregation.
    */
  def silhouetteSimplifiedFromStats(stats: DataFrame, dScale: Double = 1e3): DataFrame = {
    val same = col("j1") === col("j2")
    def condAvg(cond: Column): Column =
      (sum(when(cond, col("sfx"))).cast("double") / dScale) /
        sum(when(cond, col("cnt")).otherwise(0L))
    stats
      .agg(condAvg(same).as("ai"), condAvg(!same).as("bi"))
      .select(col("ai"), col("bi"),
        ((col("bi") - col("ai")) / greatest(col("ai"), col("bi"))).as("si"))
  }

  /** Gap statistic with REAL per-k fits on both sides, in the
    * ORACLE-REPLAYABLE bounded form — the km_fit2_exact / km_wcr_log
    * discipline applied to the fitted gap (the emb_pq_fitted move: replace
    * the non-replayable fit internals with deterministic machinery the
    * oracle can unroll, keep the fit real):
    *  - seeding per set is NESTED exact inverse-CDF k-means++, the
    *    reference's `centroidsInit` draw as [[KMeans.InverseCdf]] runs it:
    *    first centroid = min-key point, then `ks.max − 1` D²-weighted draws
    *    with FIXED RATIONAL u's (integer-domain threshold compare —
    *    bit-reproducible in ANSI SQL); the k-fit starts from the first k
    *    seeds, so seeding cost is shared across the sweep;
    *  - each (set, k) fit is the movement-gated Lloyd loop bounded
    *    at `lloydSteps` iterations (fixed-point 1e4 re-averages, tol-gated
    *    stop — exactly the km_wcr_log unrolled-CTE contract);
    *  - reference sets are the SAME transparent-LCG uniforms as
    *    [[gapStatisticNested]] (pure functions of the row id);
    *  - dispersions, log/mean/sd math and the e6-integer `chosen` compare
    *    are op-for-op [[gapStatisticNested]]'s.
    * "Fitting both sides" is what makes the criterion fire (see
    * [[gapStatistic]]); bounding the fit at `lloydSteps` movement-gated
    * iterations is the published cost of hash-exactness — on data where
    * Lloyd converges within the budget the two forms coincide.
    *
    * Scale shape: ONE placement of `(i, Y)`, whose job also returns the
    * bounding box ([[KMeans.Points.place]]'s `box`), collected while
    * `rows ≤ localMaxRows` (−1: `(refSets + 1)·rows·dim` ≤ 4M cells, so
    * the driver holds every set within [[KMeans.fit]]'s budget; 0:
    * resident blocks). The reference sets are derived from the placed rows
    * ([[KMeans.Points.withSets]]: on the driver, or in one job building
    * resident blocks of all four sets), and
    * every set's draws ([[KMeans.inverseCdfSeeds]]), its Lloyd steps
    * ([[KMeans.iterate]]) and its dispersions ([[elbowSums]]) then run in
    * the same scans, with the same bits on either placement (QualitySpec).
    * Gated it is one job; forced-distributed, 1 placement + 1 derivation +
    * 2 per draw + 1 per Lloyd step + 1 elbow.
    */
  def gapStatisticFitted(points: DataFrame, dim: Int, ks: Seq[Int],
      refSets: Int = 3, scale: Double = 0.01, tol: Double = 0.01,
      lloydSteps: Int = 3, fxScale: Double = 1e4,
      localMaxRows: Long = -1L): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted, "need ascending ks")
    val maxCells = if (localMaxRows < 0) KMeans.LocalMaxCells / (refSets + 1)
      else (BigInt(localMaxRows) * math.max(dim, 1)).min(Long.MaxValue).toLong
    val sets = 0 to refSets
    val ws = KMeans.Points.withPlaced(points, Nil, (dim, fxScale), firstK = 1, maxCells, box = true) { placed =>
      val (lo, hi) = boxBounds(placed.box, dim)
      val ansi = placed.ansi
      KMeans.Points.withSets(placed, refSets, dim) { (s, i, _, y, _) =>
        gapRefRow(s - 1, dim, i, lo, hi, ansi, y)
        i
      } { all =>
        // a reference set whose draw fails raises its error after the sets
        // before it have finished their fits, as one set at a time would
        val (seeds, failure) = KMeans.inverseCdfSeeds(all, ks.max, weightScale = 1.0, sets)
        val of = seeds.indices.flatMap(s => ks.map(_ => s))
        val fits = KMeans.iterate(all, seeds.flatMap(sd => ks.map(sd.take)), dim, tol, lloydSteps,
          fxScale, startStep = 0L, of)
        val dispersions = elbowSums(all, fits.map(_.centroids), None, scale, of).map(_._2.get)
        failure.foreach(throw _)
        dispersions.grouped(ks.size).toSeq
      }
    }
    gapRows(points.sparkSession, ks, ws)
  }

  /** The per-dimension (lo, hi) of a placement's box, read from a `Row`
    * laid out as the box query's was (a count, then `min`/`max` per
    * dimension), so a null bound fails as `Row.getDouble` fails on it.
    */
  private def boxBounds(box: KMeans.Box, dim: Int): (Seq[Double], Seq[Double]) = {
    val row = Row.fromSeq(0L +: box.toSeq.map(_.map(Double.box).orNull))
    ((0 until dim).map(d => row.getDouble(1 + 2 * d)), (0 until dim).map(d => row.getDouble(2 + 2 * d)))
  }

  /** Reference set `b`'s `Y` for the row with key `i`, into `y`:
    * [[gapRefY]] as Spark evaluates it — `i·A + C` in longs
    * (ARITHMETIC_OVERFLOW under `ansi`, else wrapping), `% M`, then the
    * double ops in order; a null key's coordinates are null, which the
    * placement reads as 0.0.
    */
  private def gapRefRow(b: Int, dim: Int, i: Option[Long], lo: Seq[Double], hi: Seq[Double],
      ansi: Boolean, y: Array[Double]): Unit = {
    import org.apache.spark.sql.GraftPlanShim.{addExact, multiplyExact}
    var d = 0
    while (d < dim) {
      val (a, c) = (gapLcgA(b, dim, d), gapLcgC(b, dim, d))
      y(d) = i.fold(0.0) { i =>
        val lcg = if (ansi) addExact(multiplyExact(i, a), c) else i * a + c
        (lcg % GapLcgM).toDouble / GapLcgM.toDouble * (hi(d) - lo(d)) + lo(d)
      }
      d += 1
    }
  }

  /** Gap statistic (Tibshirani, Walther & Hastie 2001), the textbook form:
    * gap(k) = mean_b log W*_kb − log W_k, where W_k is the D² dispersion of
    * the DATA under its own k-fit and each W*_kb is the dispersion of a
    * uniform reference draw (data's bounding box) under THAT SET'S own
    * k-fit; s_k = sd_b(log W*_kb)·√(1+1/B). `chosen` marks the standard
    * pick — the smallest k with gap(k) ≥ gap(k+1) − s(k+1), compared on
    * the e6-rounded values ([[gapRows]]). Fitting both sides matters:
    * un-fitted dispersion keeps falling past the true k and the criterion
    * never fires.
    *
    * Scale shape: ONE placement of the points with the k-means|| coins,
    * collected while every set fits `KMeans.fit`'s 4M-cell gate
    * together (`(refSets + 1)·rows·dim` ≤ 4M), whose job also returns the
    * bounding box; the reference sets are derived from it ([[KMeans.Points.withSets]])
    * as the rows `(i, Y)` of `spark.range(n)` keyed `1..n`, row `i` at the
    * data's `i`-th place, which leaves every fit unchanged (k-means|| and
    * the fixed-point Lloyd steps do not depend on the partitioning of
    * unique keys). Each (set, k) is seeded alone, all fits run in one
    * lockstep and one scan takes every dispersion: each k's fit is
    * bit-identical to `KMeans.fit` with `Parallel` seeding alone and its W to
    * `sumFx(nearest_sq_dist, scale)`. Reference coordinates are pure
    * xxhash64 functions of the row id (deterministic under ANY partitioning
    * — `rand()` is not).
    */
  def gapStatistic(points: DataFrame, dim: Int, ks: Seq[Int],
      refSets: Int = 3, seed: Long = 42L, scale: Double = 1e4,
      maxIter: Int = 20): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted, "need ascending ks")
    val sets = 0 to refSets
    val ws = KMeans.Points.withPlaced(points, KMeans.coinCols(seed), (dim, 1e6), firstK = 1,
        maxCells = KMeans.LocalMaxCells / (refSets + 1), box = true) { placed =>
      val (lo, hi) = boxBounds(placed.box, dim)
      KMeans.Points.withSets(placed, refSets, dim) { (s, _, pos, y, u) =>
        uniformRefRow(s - 1, dim, seed, pos, lo, hi, y)
        KMeans.coins(pos + 1, seed, u)
        Some(pos + 1)
      } { all =>
        // seeding matters twice here: first-k-by-key seeds can land in one
        // true cluster (Lloyd never escapes, inverting the data/reference
        // gap), and rand()-based ++ draws depend on partitioning — k-means||
        // spreads seeds AND keeps the fit a pure function of the data
        val of = sets.flatMap(s => ks.map(_ => s))
        val inits = sets.flatMap(s => ks.map(KMeans.parallelSeeds(all.only(s), _, seed)))
        val fits = KMeans.iterate(all, inits, dim, tol = 0.01, maxIter, 1e6, startStep = 0L, of)
        elbowSums(all, fits.map(_.centroids), None, scale, of).map(_._2.get).grouped(ks.size).toSeq
      }
    }
    // a dispersion of 0 (every point a centroid) logs as 1e-300's
    gapRows(points.sparkSession, ks, ws.map(_.map(math.max(_, 1e-300))))
  }

  /** [[gapStatistic]]'s reference set `b`: the `Y` of `spark.range(n)`'s row
    * `id` = `pos`, into `y` — per dimension d, `pmod(xxhash64(id, seed + b·dim
    * + d), m) / m` stretched to the box, as Spark evaluates it.
    */
  private def uniformRefRow(b: Int, dim: Int, seed: Long, pos: Long, lo: Seq[Double], hi: Seq[Double],
      y: Array[Double]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.XXH64.hashLong
    val m = 1000003L // coordinate resolution of the hash-uniform draw
    var d = 0
    while (d < dim) {
      val r = hashLong(seed + b * dim + d, hashLong(pos, 42L)) % m
      y(d) = (if (r < 0) (r + m) % m else r).toDouble / m.toDouble * (hi(d) - lo(d)) + lo(d)
      d += 1
    }
  }
}
