package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{KMeans, Quality}
import graft.operators.KMeans.Centroid

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("elbow: d1 = sum of nearest distances, d2 = WCSS, computed exactly") {
    val data = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(3.0, 4.0)),   // nearest c1: d=0, 5
      (3L, Seq(100.0, 100.0))                      // nearest c2: d=0
    ).toDF("i", "Y")
    val cs = Seq(Centroid(1, Seq(0.0, 0.0)), Centroid(2, Seq(100.0, 100.0)))
    val r = Quality.elbow(data, cs, d1Scale = 1e6, d2Scale = 1e6)
      .as[(Double, Double)].head()
    assert(r._1 == 5.0)   // 0 + 5 + 0
    assert(r._2 == 25.0)  // 0 + 25 + 0
  }

  test("silhouette: two tight far-apart clusters -> si near 1") {
    val data = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(100.0, 100.0)), (5L, Seq(101.0, 100.0)), (6L, Seq(100.0, 101.0))
    ).toDF("i", "Y")
    val cs = Seq(Centroid(1, Seq(0.3, 0.3)), Centroid(2, Seq(100.3, 100.3)))
    val r = Quality.silhouetteSimplified(KMeans.assign(data, cs))
      .select("si").as[Double].head()
    assert(r > 0.95, s"si=$r")
  }

  test("native pair-stats kernel is bit-identical to the relational pair join") {
    val yh = Tables.yhOrders(spark, sf("0.001"))
    val sample = yh.filter(col("i") % 29 === 0)
    val assigned = KMeans.assign(sample, KMeans.seedFirstK(yh, 4)).cache()
    val native = Quality.silhouettePairStats(assigned)
      .orderBy("i1", "j2").as[(Long, Long, Long, Long, Long)].collect().toSeq
    val join = Quality.silhouettePairStatsJoin(assigned)
      .orderBy("i1", "j2").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assigned.unpersist()
    assert(native.nonEmpty && native == join)
  }

  test("optimalKNested: monotone elbows, per-row parity with single-k operators") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    val sample = yh.filter(col("i") % 29 === 0)
    val seeds = KMeans.seedFirstK(yh, 6)
    val ks = 2 to 6
    val rows = Quality.optimalKNested(yh, sample, seeds, ks,
        d1Scale = 1e4, d2Scale = 0.01)
      .orderBy("k").as[(Long, Double, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == ks.map(_.toLong))
    // nested prefixes: min over a centroid superset can't grow
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, s"elbow_d1 not monotone: $a -> $b")
      assert(b._3 <= a._3, s"elbow_d2 not monotone: $a -> $b")
    }
    // bit-identical to running the single-k operators separately
    ks.zip(rows).foreach { case (k, row) =>
      val ck = seeds.take(k)
      val e = Quality.elbow(yh, ck, d1Scale = 1e4, d2Scale = 0.01)
        .as[(Double, Double)].head()
      val si = Quality.silhouetteSimplified(KMeans.assign(sample, ck))
        .select("si").as[Double].head()
      assert(row._2 == e._1 && row._3 == e._2, s"k=$k elbow mismatch: $row vs $e")
      assert(row._4 == si, s"k=$k si mismatch: ${row._4} vs $si")
    }
  }

  /** The reference's OptimalK loop, one full fit per k:
    * `KMeans.fit(plusPlus = true)` + elbow + simplified silhouette, as raw
    * bits (a null silhouette read as NaN, as optimalKSweep reports it).
    */
  private def perKSweep(points: DataFrame, sample: DataFrame, ks: Seq[Int],
      maxIter: Int): Seq[(Long, Long, Long, Long)] = ks.map { k =>
    val fit = KMeans.fit(points, k = k, dim = 2, plusPlus = true, maxIter = maxIter)
    val e = Quality.elbow(points, fit.centroids, d1Scale = 1e4, d2Scale = 0.01).head()
    val si = Quality.silhouetteSimplified(KMeans.assign(sample, fit.centroids))
      .select("si").head()
    bits(k.toLong, e.getDouble(0), e.getDouble(1),
      if (si.isNullAt(0)) Double.NaN else si.getDouble(0))
  }

  private def bits(k: Long, d1: Double, d2: Double, si: Double) = {
    import java.lang.Double.doubleToRawLongBits
    (k, doubleToRawLongBits(d1), doubleToRawLongBits(d2), doubleToRawLongBits(si))
  }

  private def sweepBits(points: DataFrame, sample: DataFrame, ks: Seq[Int],
      maxIter: Int): Seq[(Long, Long, Long, Long)] =
    Quality.optimalKSweep(points, sample, dim = 2, ks = ks,
        d1Scale = 1e4, d2Scale = 0.01, maxIter = maxIter)
      .as[(Long, Double, Double, Double)].collect().toSeq
      .map { case (k, d1, d2, si) => bits(k, d1, d2, si) }

  /** Jobs started while `body` runs. */
  private def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try { val r = body; ListenerDrain(sc); (r, jobs.get) }
    finally sc.removeSparkListener(l)
  }

  test("optimalKSweep is bit-identical to the per-k reference loop") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    val sample = yh.filter(col("i") % 29 === 0)
    // unsorted, with k = 1: every sample pair is same-cluster there, so the
    // silhouette is null (NaN) on both sides
    val ks = Seq(2, 3, 4, 1)
    val got = sweepBits(yh, sample, ks, maxIter = 5)
    assert(got == perKSweep(yh, sample, ks, maxIter = 5))
    import java.lang.Double.{isNaN, longBitsToDouble}
    assert(got.map(_._1) == ks.map(_.toLong))
    assert(isNaN(longBitsToDouble(got.last._4)) && !got.init.exists(r => isNaN(longBitsToDouble(r._4))))
    val wcss = got.map(r => r._1 -> longBitsToDouble(r._3)).toMap
    assert(wcss(4L) <= wcss(2L) && wcss(2L) <= wcss(1L), s"fit WCSS should not grow with k: $wcss")
  }

  test("optimalKSweep seeds once and scores every k in one scan and one job") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    yh.count()
    val sample = yh.filter(col("i") % 29 === 0)
    val ks = 2 to 4
    val steps = ks.map(k => KMeans.fit(yh, k = k, dim = 2, plusPlus = true, maxIter = 5).steps).max
    // ++ chain for ks.max (one first-seed job, one per round), one lockstep
    // Lloyd job per step of the slowest k, one elbow scan, one sample
    // collect, one silhouette job
    val bound = ks.max + steps + 3
    val (ref, perKJobs) = countJobs(perKSweep(yh, sample, ks, maxIter = 5))
    val (got, jobs) = countJobs(sweepBits(yh, sample, ks, maxIter = 5))
    assert(got == ref)
    assert(jobs <= bound, s"sweep ran $jobs jobs, bound $bound")
    assert(perKJobs > bound, s"the per-k loop ran $perKJobs jobs, within the bound $bound")
  }

  test("optimalKSweep's resident placement gives the collected placement's " +
      "Lloyd loop and elbow bits, on a repartition(3) copy too") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    val spread = yh.repartition(3).cache()
    Seq(yh, spread).foreach { p =>
      val sample = p.filter(col("i") % 29 === 0)
      val ks = Seq(2, 3, 4)
      val seeds = KMeans.seedPlusPlus(p, ks.max, seed = 42L)
      val held = KMeans.Points.collected(p, dim = 2, fxScale = 1e6).head
      val fits = KMeans.iterate(held, ks.map(seeds.take), dim = 2, tol = 0.01, maxIter = 5,
        fxScale = 1e6, startStep = 0L)
      val want = ks.zip(fits).map { case (k, f) =>
        val e = Quality.elbow(p, f.centroids, d1Scale = 1e4, d2Scale = 0.01).head()
        val si = Quality.silhouetteSimplified(KMeans.assign(sample, f.centroids)).select("si").head()
        bits(k.toLong, e.getDouble(0), e.getDouble(1), if (si.isNullAt(0)) Double.NaN else si.getDouble(0))
      }
      assert(sweepBits(p, sample, ks, maxIter = 5) == want, s"${p.rdd.getNumPartitions} partitions")
    }
  }

  test("no persisted RDD outlives a sweep, a nested curve or a fitted gap, " +
      "one that throws included") {
    val sc = spark.sparkContext
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    yh.count()
    val sample = yh.filter(col("i") % 29 === 0)
    def unchanged(what: String)(body: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet
      body
      assert(sc.getPersistentRDDs.keySet == before, what)
    }
    unchanged("sweep")(sweepBits(yh, sample, Seq(2, 3), maxIter = 3))
    unchanged("nested")(Quality.optimalKNested(yh, sample, KMeans.seedFirstK(yh, 3), Seq(2, 3),
      d1Scale = 1e4, d2Scale = 0.01).collect())
    // the caller's cached frame itself: the forced-distributed gap caches
    // nothing of its own, and leaves yh's cache, level and RDD as they were
    val level = yh.storageLevel
    unchanged("fitted gap")(Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 3,
      localMaxRows = 0L).collect())
    assert(level != org.apache.spark.storage.StorageLevel.NONE && yh.storageLevel == level)
    val nullY = Seq[(Long, Seq[Double])](1L -> Seq(0.0, 0.0), 2L -> null,
      3L -> Seq(10.0, 0.0), 4L -> Seq(0.0, 10.0)).toDF("i", "Y")
    unchanged("a collected sweep, k = 1..4")(sweepBits(yh, sample, 1 to 4, maxIter = 3))
    unchanged("a collected sweep over a null Y on two partitions") {
      val e = intercept[Exception](
        Quality.optimalKSweep(nullY.repartition(2), nullY, dim = 2, ks = Seq(3, 2)).collect())
      assert(messages(e).contains("Y is null"), messages(e))
    }
    unchanged("a sweep over a null Y") {
      val e = intercept[Exception](Quality.optimalKSweep(nullY, nullY, dim = 2, ks = Seq(2)).collect())
      assert(messages(e).contains("Y is null"), messages(e))
    }
    unchanged("a collected fitted gap")(Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 3).collect())
    for (rows <- Seq(0L, -1L)) unchanged(s"a fitted gap over a null Y, localMaxRows $rows") {
      val e = intercept[Exception](
        Quality.gapStatisticFitted(nullY, dim = 2, ks = 2 to 3, localMaxRows = rows).collect())
      assert(messages(e).contains("Y is null"), messages(e))
    }
    unchanged("a collected gap")(Quality.gapStatistic(yh, dim = 2, ks = 2 to 3, maxIter = 3).collect())
    // past fitAuto's 4M-cell gate: each set's placement stays resident blocks
    val wide = spark.range(2000001).select((col("id") + 1).as("i"),
      array((col("id") % 97).cast("double"), (col("id") % 89).cast("double")).as("Y"))
    unchanged("a partitioned gap")(Quality.gapStatistic(wide, dim = 2, ks = Seq(2), refSets = 1,
      maxIter = 1).collect())
  }

  test("below the gate a k-means++ fitAuto is one job and optimalKSweep three " +
      "(none for no ks)") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    yh.count()
    val sample = yh.filter(col("i") % 29 === 0)
    // the placement job brings the blocks; the ++ rounds and Lloyd steps run on them
    val (fit, fitJobs) = countJobs(KMeans.fitAuto(yh, k = 4, dim = 2, plusPlus = true, maxIter = 5))
    assert(fit.steps > 0 && fitJobs == 1, s"${fit.steps} steps, $fitJobs jobs")
    // the placement, the sample collect and the silhouette job
    val (rows, sweepJobs) = countJobs(sweepBits(yh, sample, 2 to 4, maxIter = 5))
    assert(rows.size == 3 && sweepJobs == 3, s"the sweep ran $sweepJobs jobs")
    assert(countJobs(sweepBits(yh, sample, Nil, maxIter = 5)) == ((Nil, 0)))
  }

  test("optimalKSweep rejects k < 1; no ks gives an empty frame") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    val sample = yh.filter(col("i") % 29 === 0)
    intercept[IllegalArgumentException](
      Quality.optimalKSweep(yh, sample, dim = 2, ks = Seq(0, 2)))
    val none = Quality.optimalKSweep(yh, sample, dim = 2, ks = Nil)
    assert(none.columns.toSeq == Seq("k", "elbow_d1", "elbow_d2", "silhouette"))
    assert(none.collect().isEmpty)
  }

  test("optimalKNested finishes a 0/0 silhouette as Spark does: DIVIDE_BY_ZERO, " +
      "null without ANSI") {
    // every pair distance rounds to 0 (dScale 1e3), and the two seeds split
    // the points, so ai = bi = 0 and si = 0 / greatest(0, 0)
    val pts = Seq(1L -> Seq(-0.0002, 0.0), 2L -> Seq(-0.0001, 0.0),
      3L -> Seq(0.0001, 0.0)).toDF("i", "Y")
    val seeds = Seq(Centroid(1, Seq(-1.0, 0.0)), Centroid(2, Seq(1.0, 0.0)))
    def nested() = Quality.optimalKNested(pts, pts, seeds, Seq(2)).select("si").head()
    def single() = Quality.silhouetteSimplified(KMeans.assign(pts, seeds)).select("si").head()
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      Seq(intercept[Exception](nested()), intercept[Exception](single())).foreach { e =>
        assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
      }
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(nested().isNullAt(0) && single().isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("the sweep's kernel elbow is bit-identical to elbow: ANSI overflows, " +
      "wrapped bits without ANSI, nulls skipped, null on empty points") {
    import java.lang.Double.doubleToRawLongBits
    def rawBits(r: Row) = (0 to 1).map(ix =>
      if (r.isNullAt(ix)) None else Some(doubleToRawLongBits(r.getDouble(ix))))
    // optimalKNested's elbow columns are the kernel's sums; no sample rows
    def kernel(p: DataFrame, cs: Seq[Centroid], s1: Double, s2: Double) =
      Quality.optimalKNested(p, p.limit(0), cs, Seq(cs.size), s1, s2)
        .select("elbow_d1", "elbow_d2").head()
    def ref(p: DataFrame, cs: Seq[Centroid], s1: Double, s2: Double) =
      Quality.elbow(p, cs, s1, s2).head()
    def same(p: DataFrame, cs: Seq[Centroid], s1: Double = 1e6, s2: Double = 1e6) =
      assert(rawBits(kernel(p, cs, s1, s2)) == rawBits(ref(p, cs, s1, s2)))
    def fails(p: DataFrame, cs: Seq[Centroid], error: String) =
      Seq(intercept[Exception](kernel(p, cs, 1e6, 1e6)), intercept[Exception](ref(p, cs, 1e6, 1e6)))
        .foreach(e => assert(messages(e).contains(error), messages(e)))
    def withAnsi(on: Boolean)(body: => Unit): Unit = {
      val ansi = spark.conf.get("spark.sql.ansi.enabled")
      try { spark.conf.set("spark.sql.ansi.enabled", on.toString); body }
      finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    }
    val emb = Tables.yhEmbeddings(spark, sf("0.001")).repartition(3).cache()
    same(emb, KMeans.seedFirstK(emb, 5))
    same(emb, KMeans.seedFirstK(emb, 5), s1 = 1e4, s2 = 0.01)
    val one = Seq(Centroid(1, Seq(0.0, 0.0)))
    // a null Y is skipped, as sum skips it
    val withNull = Seq[(Long, Seq[Double])](1L -> Seq(3.0, 4.0), 2L -> null).toDF("i", "Y")
    same(withNull, one)
    // (1e200 − 0)² is +Infinity: its round(..)::long overflows the cast
    val huge = Seq(1L -> Seq(1.0, 2.0), 2L -> Seq(1e200, 0.0)).toDF("i", "Y")
    // 10 · round(1e12 · 1e6) = 1e19 is past Long.MaxValue: on one partition
    // the per-row adds overflow, on two the merge of the partial sums does
    val far = (1L to 10L).map(i => i -> Seq(1e6, 0.0)).toDF("i", "Y")
    val fars = Seq(far.repartition(1), far.repartition(2))
    withAnsi(on = true) {
      fails(huge, one, "CAST_OVERFLOW")
      fars.foreach(fails(_, one, "ARITHMETIC_OVERFLOW"))
    }
    withAnsi(on = false) {
      same(huge, one)
      fars.foreach(same(_, one))
      assert(ref(far, one, 1e6, 1e6).getDouble(1) == (1e19 - math.pow(2, 64)) / 1e6)
    }
    val empty = Seq.empty[(Long, Seq[Double])].toDF("i", "Y")
    same(empty, one)
    assert(kernel(empty, one, 1e6, 1e6).isNullAt(0) && kernel(empty, one, 1e6, 1e6).isNullAt(1))
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("validity indices match hand-computed values on a planted fixture") {
    // two clusters {(0,0),(0,2)} and {(10,0),(10,2)} with centers (0,1),(10,1):
    //   scatter s = 1 each, centroid distance 10 -> DB = (1+1)/10 = 0.2
    //   W = 4*1; global mean (5,1); B = 2*25 + 2*25 = 100
    //   CH = (100/(2-1)) / (4/(4-2)) = 50
    val pts = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 2.0)),
      (3L, Seq(10.0, 0.0)), (4L, Seq(10.0, 2.0))).toDF("i", "Y")
    val cs = Seq(KMeans.Centroid(1, Seq(0.0, 1.0)), KMeans.Centroid(2, Seq(10.0, 1.0)))
    val r = Quality.validityIndices(pts, cs).as[(Double, Double)].head()
    assert(math.abs(r._1 - 0.2) < 1e-9, s"db=${r._1}")
    assert(math.abs(r._2 - 50.0) < 1e-9, s"ch=${r._2}")
  }

  test("gap statistic picks the planted k on the 4-cluster fixture") {
    val seeds4 = Seq((0.0, 0.0), (60.0, 10.0), (10.0, 70.0), (70.0, 80.0))
    val data = seeds4.zipWithIndex.map { case ((x, y), ix) => (ix.toLong, x, y) }
      .toDF("s", "sx", "sy")
      .crossJoin(spark.range(200).select(col("id")))
      .select((col("s") * 200 + col("id") + 1).as("i"),
        array(col("sx") + rand(42) * 12.0, col("sy") + rand(43) * 12.0).as("Y"))
      .cache()
    val got = Quality.gapStatistic(data, dim = 2, ks = 2 to 6)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == (2L to 6L), "one row per k, in order")
    assert(got.count(_._4 == 1L) == 1, "exactly one chosen k")
    assert(got.find(_._4 == 1L).get._1 == 4L,
      s"must recover the planted k=4, got ${got.toSeq}")
    // determinism under repartitioning (hash-uniform reference, not rand())
    val again = Quality.gapStatistic(data.repartition(7), dim = 2, ks = 2 to 6)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("nested gap statistic: shape, one chosen k, partition-determinism") {
    val yh = Tables.yhOrders(spark, sf("0.001")).filter(col("i") % 7 === 0).cache()
    val seeds = KMeans.seedFirstK(yh, 6)
    val got = Quality.gapStatisticNested(yh, dim = 2, ks = 2 to 6, seeds = seeds)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == (2L to 6L), "one row per k, in order")
    assert(got.count(_._4 == 1L) == 1, "exactly one chosen k")
    assert(got.forall(_._3 >= 0L), "s_k is a scaled sd — non-negative")
    // the LCG reference draw is a pure function of the row id: identical
    // output under any partitioning (rand()-based draws are not)
    val again = Quality.gapStatisticNested(yh.repartition(7), dim = 2,
      ks = 2 to 6, seeds = seeds).as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("nested gap statistic survives box-diagonal msq at volume (no Long overflow)") {
    // every row sits the full box diagonal from the low-id seeds, the worst
    // case for the fixed-point dispersion sum: 20k rows × msq ≈ 3.6e11 —
    // a 1e4 scale would need ~7e19 and die under ANSI mode (the sf0.1
    // regression this pins); the 0.01 d2-convention scale must survive
    val pts = spark.range(20000).select(
      (col("id") + 1).as("i"),
      when(col("id") < 3, array(lit(0.0), lit(0.0)))
        .otherwise(array(lit(600000.0), lit(1000.0))).as("Y"))
    val seeds = KMeans.seedFirstK(pts, 2)
    val rows = Quality.gapStatisticNested(pts, dim = 2, ks = Seq(2),
      seeds = seeds).collect()
    assert(rows.length == 1 && rows.head.getLong(3) == 1L)
  }

  test("elbow decreases as k grows (on real embeddings)") {
    val data = Tables.yhEmbeddings(spark, sf("0.001")).cache()
    val wcss = Seq(2, 5, 10).map { k =>
      val fit = KMeans.fit(data, k = k, dim = 64, maxIter = 10)
      Quality.elbow(data, fit.centroids).select("elbow_d2").as[Double].head()
    }
    assert(wcss(0) > wcss(1) && wcss(1) > wcss(2), s"wcss=$wcss")
  }

  test("km_gap_fitted: golden-value pin on the sf0.001 fixture") {
    // direct by-name pin of the driver query (now ALSO hash-oracle-backed —
    // round 14): the oracle-replayable fitted gap is a pure function of the
    // data (transparent-LCG references with per-(set,dim) multipliers,
    // rational ++ draws, movement-gated fixed-point Lloyd), so the whole
    // table is stable to the exact integer
    val got = SparkEntry.queries("km_gap_fitted")(spark, sf("0.001"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (2L, 36179L, 5959L, 1L),
      (3L, 15651L, 29962L, 0L),
      (4L, 181309L, 98161L, 0L),
      (5L, 342355L, 12083L, 0L),
      (6L, 227276L, 170690L, 0L)), s"got $got")
  }

  test("gapStatisticFitted: driver-local fast path is bit-identical to the distributed chain") {
    // the fitAuto discipline pin: localMaxRows = 0 forces every stage
    // (++ draws, movement-gated Lloyd, dispersion census) through the
    // distributed plan; the default runs the same arithmetic driver-local.
    // Exact integer equality of the full output is the contract.
    val yh = Tables.yhOrders(spark, sf("0.001")).filter(col("i") % 7 === 0).cache()
    val local = Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 6)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val dist = Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 6,
      localMaxRows = 0L).as[(Long, Long, Long, Long)].collect().toSeq
    assert(local == dist, s"local=$local dist=$dist")
  }

  test("gapStatisticFitted past the draws' overflow bound: the collected placement " +
      "rescales as the partitioned one does, and gives its rows") {
    // 1000 points uniform in [0, 1e9]²: squared distances near 1e18 put the
    // inverse-CDF draws' weight totals past their overflow bound
    val rnd = new scala.util.Random(1)
    val p = (1L to 1000L).map(i => i -> Seq(rnd.nextDouble() * 1e9, rnd.nextDouble() * 1e9))
      .toDF("i", "Y").repartition(3).cache()
    val local = Quality.gapStatisticFitted(p, dim = 2, ks = 2 to 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val dist = Quality.gapStatisticFitted(p, dim = 2, ks = 2 to 4, localMaxRows = 0L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(local == dist, s"local=$local dist=$dist")
    p.unpersist()
  }

  test("gapStatisticFitted reference sets are decorrelated (s_k does not collapse)") {
    // the round-14 LCG fix: with a SINGLE shared multiplier the three
    // reference sets are translations of one underlying sequence, their
    // fitted dispersions agree to wraparound noise and s_k rounds to ~0 —
    // vacating the Tibshirani criterion. Per-(set,dim) multipliers must
    // keep the spread real on real data.
    val yh = Tables.yhOrders(spark, sf("0.001")).filter(col("i") % 7 === 0).cache()
    val got = Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 6)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.count(_._3 > 1000L) >= 4,
      s"reference spread collapsed — translated (correlated) ref sets? $got")
  }

  /** The fitted gap one set at a time: the box as Spark's
    * `min`/`max(element_at(Y, d + 1))`, each reference set the LCG columns
    * over `i` placed on its own, and per set the kernel draws, the Lloyd
    * loop and `elbow`'s d2 — the per-set form the one-placement gap replaces.
    */
  private def perSetGap(p: DataFrame, dim: Int, ks: Seq[Int]): DataFrame = {
    val aggs = (0 until dim).flatMap(d => Seq(min(element_at(col("Y"), d + 1)), max(element_at(col("Y"), d + 1))))
    val box = p.agg(count(lit(1)), aggs: _*).head()
    val (lo, hi) = ((0 until dim).map(d => box.getDouble(1 + 2 * d)), (0 until dim).map(d => box.getDouble(2 + 2 * d)))
    def refY(b: Int) = array((0 until dim).map { d =>
      ((col("i") * Quality.gapLcgA(b, dim, d) + Quality.gapLcgC(b, dim, d)) % Quality.GapLcgM).cast("double") /
        Quality.GapLcgM.toDouble * (hi(d) - lo(d)) + lo(d)
    }: _*)
    val ws = (p +: (0 until 3).map(b => p.select(col("i"), refY(b).as("Y")))).map { set =>
      KMeans.Points.withPlaced(set, Nil, (dim, 1e4), firstK = 1, maxCells = 4000000L) { placed =>
        val seeds = (2 to ks.max).foldLeft(placed.firstK(1)) { (sd, r) =>
          val (uN, uD) = KMeans.fixedU(r)
          val drawn = KMeans.inverseCdfDraw(placed, sd, uN, uD, 1.0)
          require(drawn.nonEmpty, s"k-means++ draw $r returned no row")
          sd ++ drawn
        }
        KMeans.iterate(placed, ks.map(seeds.take), dim, 0.01, 3, 1e4, startStep = 0L)
          .map(f => Quality.elbow(set, f.centroids, d2Scale = 0.01).head().getDouble(1))
      }
    }
    Quality.gapRows(spark, ks, ws)
  }

  /** The rows, or the error's class tag (`[ERROR_CLASS]`, else its root class). */
  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq.sortBy(_.getLong(0))) catch { case e: Exception =>
      val all = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      Left("\\[[A-Z_]+\\]".r.findFirstIn(messages(e)).getOrElse(all.last.getClass.getName))
    }

  test("the one-placement fitted gap gives the per-set gap's rows or its error: a null key, " +
      "a NaN, -0.0, a short Y and rows past the draws' overflow bound, 1, 3 and 7 partitions, " +
      "either gate, ANSI on and off") {
    val base = (1 to 60).map(i => i.toLong -> Seq(i % 4 * 20.0 + i * 0.3, i % 3 * 15.0 + i % 7 * 0.5))
    def at(key: Long, y: Seq[Double]) = base.map(r => if (r._1 == key) key -> y else r)
    val rnd = new scala.util.Random(1)
    val fixtures: Seq[(String, DataFrame)] = Seq(
      "a null key" -> base.map(r => (if (r._1 == 1L) None else Some(r._1), r._2)).toDF("i", "Y"),
      "a NaN" -> at(7L, Seq(Double.NaN, 3.0)).toDF("i", "Y"),
      "-0.0" -> base.map(r => r._1 -> (if (r._1 <= 3L) Seq(if (r._1 == 2L) 0.0 else -0.0, -0.0) else r._2))
        .toDF("i", "Y"),
      "a short Y" -> at(9L, Seq(4.0)).toDF("i", "Y"),
      "past the overflow bound" -> (1L to 300L).map(i => i -> Seq(rnd.nextDouble() * 1e9, rnd.nextDouble() * 1e9))
        .toDF("i", "Y"))
    for ((name, df) <- fixtures; n <- Seq(1, 3, 7); ansi <- Seq(true, false)) {
      val saved = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val p = df.repartition(n).cache()
      try {
        val want = outcome(perSetGap(p, dim = 2, ks = 2 to 4))
        for (rows <- Seq(-1L, 0L)) {
          val got = outcome(Quality.gapStatisticFitted(p, dim = 2, ks = 2 to 4, localMaxRows = rows))
          assert(got == want, s"$name, $n partitions, ANSI $ansi, localMaxRows $rows")
        }
        assert(want.isLeft == (name == "a short Y" || name == "a NaN" && ansi), s"$name, ANSI $ansi: $want")
      } finally { p.unpersist(); spark.conf.set("spark.sql.ansi.enabled", saved) }
    }
  }

  test("the placement's box is Spark's min and max of element_at(Y, d + 1), bit for bit: " +
      "NaN, -0.0 and 0.0 ties, a null Y and a short Y, 1, 3 and 7 partitions, either gate") {
    import java.lang.Double.doubleToLongBits
    val rows = (1 to 40).map { i =>
      i.toLong -> (i % 10 match {
        case 0 => Seq(-0.0, 0.0)
        case 1 => Seq(0.0, -0.0)
        case 2 => Seq(Double.NaN, 0.0)
        case 3 => null
        case 4 => Seq(-0.0)
        case _ => Seq(i % 3 * 0.0, -(i % 2) * 0.0)
      })
    }
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false") // the short Y is null at index 2
    try for (n <- Seq(1, 3, 7)) {
      val p = rows.toDF("i", "Y").repartition(n).cache()
      val aggs = (0 until 2).flatMap(d => Seq(min(element_at(col("Y"), d + 1)), max(element_at(col("Y"), d + 1))))
      val row = p.agg(count(lit(1)), aggs: _*).head()
      val want = (1 to 4).map(x => if (row.isNullAt(x)) None else Some(doubleToLongBits(row.getDouble(x))))
      for (cells <- Seq(0L, 4000000L)) {
        val got = KMeans.Points.withPlaced(p, Nil, (2, 1e6), firstK = 0, cells, box = true)(_.box)
        assert(got.toSeq.map(_.map(doubleToLongBits)) == want, s"$n partitions, localMaxCells $cells")
      }
      p.unpersist()
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("km_gap_fitted runs one engine job below the gate, and 16 forced-distributed " +
      "(placement, derivation, 5 draws of 2, 3 Lloyd steps, the elbow)") {
    val yh = Tables.yhOrders(spark, sf("0.01")).filter(col("i") % 7 === 0)
    SparkEntry.queries("km_gap_fitted")(spark, sf("0.01"))
    val (_, gated) = countJobs(SparkEntry.queries("km_gap_fitted")(spark, sf("0.01")))
    assert(gated == 1, s"gated: $gated jobs")
    val (_, dist) = countJobs(Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 6, localMaxRows = 0L))
    assert(dist == 16, s"forced-distributed: $dist jobs")
  }
}
