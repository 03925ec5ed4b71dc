package graft

import graft.operators.{Dedup, KMeans}
import graft.operators.KMeans.Centroid
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator-driven properties (SURVEY.md §5 plan). The
  * scalatest/scalacheck bridge isn't on the offline classpath, so generators
  * are sampled directly with fixed seeds — deterministic and replayable.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val pointGen: Gen[Seq[(Long, Seq[Double])]] = for {
    n <- Gen.choose(8, 24)
    xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    ys <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield xs.zip(ys).zipWithIndex.map { case ((x, y), ix) =>
    (ix.toLong + 1, Seq(x, y))
  }

  private val docGen: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.choose(3, 8)
    docs <- Gen.listOfN(n, Gen.listOfN(12,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")).map(_.mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, ix) => (ix.toLong + 1, t, "en") }

  test("expectations: per-rule violation counts, uniqueness rule, pass flags") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, 1, 10.0, 0.04, "A"),
      (1L, 1, -5.0, 0.06, "N"), // duplicate key; price + discount violations
      (2L, 1, 20.0, 0.05, "X"), // flag violation; 0.05 is NOT > 0.05
      (3L, 2, 30.0, 0.10, "R")  // discount violation
    ).toDF("k", "ln", "price", "disc", "flag")
    val got = graft.operators.Profiling.expectations(df, Seq(
        "price_positive" -> (col("price") <= 0.0),
        "flag_in_set" -> !col("flag").isin("A", "N", "R"),
        "disc_le_5pct" -> (col("disc") > 0.05)),
      uniqueKey = Seq("k", "ln"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("price_positive") == (4L, 1L, 0L))
    assert(got("flag_in_set") == (4L, 1L, 0L))
    assert(got("disc_le_5pct") == (4L, 2L, 0L))
    assert(got("unique_k_ln") == (4L, 1L, 0L))
    // the real contract on the fixture: the structural rules pass; the
    // deliberately tight discount rule AND the composite-key uniqueness
    // rule report violations (this synthetic lineitem's (orderkey,
    // linenumber) is known non-unique) without failing the run
    val real = SparkEntry.queries("q_expectations")(spark, sf("0.001"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(real("orderkey_not_null") == 1L && real("quantity_in_1_50") == 1L
      && real("price_positive") == 1L && real("returnflag_in_set") == 1L)
    assert(real("discount_le_5pct") == 0L)
    assert(real("unique_l_orderkey_l_linenumber") == 0L)
  }

  test("correlations: exact ±1 on linear pairs, bounded on real data") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 2L, 9L), (2L, 4L, 8L), (3L, 6L, 7L), (4L, 8L, 6L),
      (5L, 10L, 5L)).toDF("x", "y", "z")
    val got = graft.operators.Profiling.correlations(df,
        Seq("x" -> col("x"), "y" -> col("y"), "z" -> col("z")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got(("x", "y")) == 1000000L)  // y = 2x
    assert(got(("x", "z")) == -1000000L) // z = 10 - x
    assert(got(("y", "z")) == -1000000L)
    // the real census: six pairs, every coefficient inside [-1, 1]
    val real = SparkEntry.queries("q_corr")(spark, sf("0.001")).collect()
    assert(real.length == 6)
    assert(real.forall(r => math.abs(r.getLong(3)) <= 1000000L))
  }

  test("drift census reports row/null/distinct deltas per column") {
    val before = Seq((1L, Some("en")), (2L, Some("en")), (3L, Some("fr")))
      .toDF("id", "lang")
    val after = Seq((1L, Some("en")), (3L, Option.empty[String]))
      .toDF("id", "lang")
    val got = graft.operators.Profiling.drift(before, after)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    // lang: 3 rows/0 nulls/2 distinct -> 2 rows/1 null/1 distinct
    assert(got("lang") == (3L, 0L, 2L, 2L, 1L, 1L, -1L, -1L))
    assert(got("id") == (3L, 0L, 3L, 2L, 0L, 2L, -1L, -1L))
  }

  test("assignment is permutation-invariant in input order") {
    samples(pointGen, 5).foreach { pts =>
      val cs = Seq(Centroid(1, pts.head._2), Centroid(2, pts.last._2))
      val fwd = KMeans.assign(pts.toDF("i", "Y"), cs)
        .select("i", "j").as[(Long, Long)].collect().toMap
      val rev = KMeans.assign(pts.reverse.toDF("i", "Y"), cs)
        .select("i", "j").as[(Long, Long)].collect().toMap
      assert(fwd == rev)
    }
  }

  test("Lloyd step keeps centroids inside the bounding box of their members") {
    samples(pointGen, 5).foreach { pts =>
      val df = pts.toDF("i", "Y").cache()
      val cs = KMeans.seedFirstK(df, 3)
      val next = KMeans.lloydStep(KMeans.assign(df, cs), dim = 2)
      val xs = pts.map(_._2(0))
      val ys = pts.map(_._2(1))
      next.foreach { c =>
        assert(c.c(0) >= xs.min - 1e-6 && c.c(0) <= xs.max + 1e-6, s"cx ${c.c(0)}")
        assert(c.c(1) >= ys.min - 1e-6 && c.c(1) <= ys.max + 1e-6, s"cy ${c.c(1)}")
      }
    }
  }

  test("jaccard is within [0,1] and exactly 1.0 for identical docs") {
    samples(docGen, 5).foreach { docs =>
      val withDup = docs :+ (99L, docs.head._2, "en")
      val pairs = Dedup.ngramJaccard(withDup.toDF("doc_id", "text", "lang"),
        n = 2, thrNum = 1, thrDen = 100).collect()
      pairs.foreach { r =>
        val j = r.getDouble(2)
        assert(j >= 0.0 && j <= 1.0)
      }
      val dupPair = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 99L)
      assert(dupPair.exists(_.getDouble(2) == 1.0), s"missing dup pair in ${pairs.toSeq}")
    }
  }

  test("exact percentile over integers interpolates error-free at quarter fracs") {
    // q_quantiles' oracle-exactness rests on this: integer endpoints +
    // quarter fractions make lower + frac*(higher-lower) exactly
    // representable, so ANY reasonable interpolation formula (Spark's or
    // DuckDB's) produces the identical double.
    import org.apache.spark.sql.functions._
    val df = Seq(10L, 20L, 30L, 40L).toDF("v")
    val got = df.agg(percentile(col("v"), typedlit(Seq(0.25, 0.5, 0.75))))
      .as[Seq[Double]].head()
    assert(got == Seq(17.5, 25.0, 32.5)) // (n-1)*p = 0.75, 1.5, 2.25
  }

  test("doc_interleave: a permutation that breaks up source runs") {
    val rows = SparkEntry.queries("doc_interleave")(spark, sf("0.001"))
      .orderBy("pos").collect()
    // positions are exactly 1..n (a permutation)
    assert(rows.map(_.getLong(rows.head.schema.fieldIndex("pos"))).toSeq ==
      (1L to rows.length.toLong))
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // no long same-source run survives the interleave (sources are ~5-way
    // mixed; a run of 8 would have probability < 1e-4 under a uniform key)
    val srcIx = rows.head.schema.fieldIndex("source")
    val maxRun = rows.map(_.getString(srcIx))
      .foldLeft((0, "", 0)) { case ((best, prev, cur), s) =>
        val c = if (s == prev) cur + 1 else 1
        (math.max(best, c), s, c)
      }._1
    assert(maxRun < 8, s"source run of $maxRun survived the interleave")
  }

  test("q_rfm: quintiles balanced within 1, scores in [1,5], rfm digits agree") {
    val rows = SparkEntry.queries("q_rfm")(spark, sf("0.001")).collect()
    assert(rows.nonEmpty)
    def fld(name: String) = rows.head.schema.fieldIndex(name)
    val (ri, fi, mi, rfmi) = (fld("r"), fld("f"), fld("m"), fld("rfm"))
    rows.foreach { row =>
      Seq(ri, fi, mi).foreach(i => assert(row.getLong(i) >= 1 && row.getLong(i) <= 5))
      assert(row.getLong(rfmi) ==
        row.getLong(ri) * 100 + row.getLong(fi) * 10 + row.getLong(mi))
    }
    // ntile balance: bucket sizes differ by at most 1 per dimension
    Seq(ri, fi, mi).foreach { i =>
      val sizes = rows.groupBy(_.getLong(i)).values.map(_.size)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("position attribution: per-purchase credit sums to exactly 1e6; U-shape holds") {
    val rows = SparkEntry.queries("events_attribution_position")(spark, sf("0.001"))
      .collect()
    assert(rows.nonEmpty)
    def f(name: String) = rows.head.schema.fieldIndex(name)
    val (pi, ni, ri, ci) =
      (f("purchase_id"), f("n_touch"), f("rnk"), f("credit_ppm"))
    rows.groupBy(_.getLong(pi)).values.foreach { touches =>
      assert(touches.map(_.getLong(ci)).sum == 1000000L)
      val n = touches.head.getLong(ni)
      if (n >= 3) touches.foreach { t =>
        val (rnk, credit) = (t.getLong(ri), t.getLong(ci))
        if (rnk == n) assert(credit == 400000L)        // first touch
        else if (rnk > 1) assert(credit == 200000L / (n - 2))
        else assert(credit >= 400000L)                 // last + remainder
      }
    }
  }

  test("funnel stage counts are monotone non-increasing on real events") {
    val got = graft.operators.Events.funnel(Tables.readEvents(spark, sf("0.01")))
      .orderBy("stage").select("users").as[Long].collect().toSeq
    assert(got.size == 3)
    assert(got == got.sorted.reverse, s"not monotone: $got")
    assert(got.head > 0)
  }

  test("retention offset-0 users equal the cohort sizes on real events") {
    import graft.operators.Events
    val ev = Tables.readEvents(spark, sf("0.01"))
    val offset0 = Events.retention(ev).filter($"week_offset" === 0)
      .select("cohort_week", "users").as[(Long, Long)].collect().toMap
    // the signup event itself is activity in the cohort week, so offset 0
    // must count every cohort member — computed here independently as the
    // per-week first-signup histogram
    val cohorts = ev.filter($"event_type" === "signup")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr(
        "min(unix_micros(ts)) div 604800000000").as("cw"))
      .groupBy("cw").count()
      .as[(Long, Long)].collect().toMap
    assert(offset0 == cohorts)
    assert(offset0.values.sum > 0)
  }

  test("approx_count_distinct tracks the exact distinct count within its rsd") {
    import org.apache.spark.sql.functions._
    val o = Tables.read(spark, sf("0.01"), "orders")
    val Array(exact, approx) = o.agg(
      countDistinct("o_custkey").cast("double"),
      approx_count_distinct("o_custkey", rsd = 0.02).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    // 5 standard errors of the configured 2% rsd — deterministic data, so
    // this pins HLL plumbing without flaking
    assert(math.abs(approx - exact) / exact <= 0.10,
      s"approx $approx vs exact $exact")
  }

  test("salted join equals the plain join on random skewed data (any salt count)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(33)
    // heavy skew: 80% of rows hit one key
    val big = Seq.tabulate(2000)(i =>
      (i.toLong, if (rnd.nextInt(5) < 4) "hot" else s"k${rnd.nextInt(7)}")).toDF("id", "key")
    val small = big.groupBy("key").count()
    val plain = big.join(small, "key")
      .select("id", "key", "count").as[(Long, String, Long)].collect().toSet
    Seq(1, 3, 16).foreach { salts =>
      val salted = graft.operators.Joins.saltedEquiJoin(
          big, small, "key", col("id"), salts)
        .select("id", "key", "count").as[(Long, String, Long)].collect().toSet
      assert(salted == plain, s"salts=$salts")
    }
  }

  test("two-pass distributed selection equals Spark's exact percentile") {
    // negatives (floor-division buckets), heavy ties, a single-row group,
    // random fills — the selection must match percentile on all of them
    import org.apache.spark.sql.functions.{col, percentile, typedlit, element_at}
    val rnd = new scala.util.Random(21)
    val rows = Seq.fill(500)(("a", rnd.nextLong() % 10000L)) ++
      Seq.fill(300)(("b", -5000L + rnd.nextInt(3))) ++  // 3 tied values
      Seq(("c", 42L))
    val df = rows.toDF("g", "v")
    val got = graft.operators.Quantiles.exactGroupedQuantiles(
        df, "g", "v", Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)),
        bucketWidth = 128)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val expect = df.groupBy("g")
      .agg(percentile(col("v"), typedlit(Seq(0.25, 0.5, 0.75))).as("q"))
      .select(col("g"), element_at(col("q"), 1), element_at(col("q"), 2),
        element_at(col("q"), 3))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    expect.foreach { case (g, (e25, e50, e75)) =>
      val (_, g25, g50, g75) = got(g)
      assert(g25 == e25 && g50 == e50 && g75 == e75,
        s"group $g: got ($g25,$g50,$g75) expected ($e25,$e50,$e75)")
    }
  }

  test("property: doc_mix lands every budgeted source within one doc of its budget") {
    // contiguous fill: kept tokens reach the budget, overshooting by at
    // most the straddler doc — the bound that makes the mix predictable
    import org.apache.spark.sql.functions.{col, size, split, sum => ssum, max => smax}
    val totals = Tables.read(spark, sf("0.01"), "documents")
      .groupBy("source")
      .agg(ssum(size(split(col("text"), " ")).cast("long")).as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = SparkEntry.queries("doc_mix")(spark, sf("0.01"))
      .groupBy("source")
      .agg(ssum("n_tok").as("taken"), smax("n_tok").as("max_doc"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (src, taken, maxDoc) = (r.getString(0), r.getLong(1), r.getLong(2))
      val budget = 400L * (1L + src.drop(3).toLong % 3L)
      // a source with enough material fills to its budget and stops within
      // one straddler; a source smaller than its budget contributes all of it
      if (totals(src) >= budget)
        assert(taken >= budget, s"$src under-filled: $taken < $budget")
      else
        assert(taken == totals(src), s"$src must contribute everything: $taken")
      assert(taken - maxDoc < budget,
        s"$src kept a doc past the boundary: taken=$taken maxDoc=$maxDoc budget=$budget")
    }
  }

  test("exactGroupedQuantiles: empty input yields an empty typed result") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
    val out = graft.operators.Quantiles.exactGroupedQuantiles(
      empty, "g", "v", Seq(("p50", 0.5)))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("g", "cnt", "p50"))
    // and a filter that matches nothing behaves the same as a truly empty frame
    val none = Seq(("a", 1L)).toDF("g", "v").filter(col("v") > 100L)
    assert(graft.operators.Quantiles.exactGroupedQuantiles(
      none, "g", "v", Seq(("p50", 0.5))).count() == 0)
  }

  test("exactGroupedQuantiles: non-string group column fails fast with a clear error") {
    val df = Seq((1L, 10L), (2L, 20L)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Quantiles.exactGroupedQuantiles(df, "g", "v", Seq(("p50", 0.5)))
    }
    assert(e.getMessage.contains("must be STRING"))
  }

  test("approx percentile stays within its rank-error contract vs exact") {
    // the 100 TB default for quantiles is the one-pass sketch
    // (percentile_approx, rank error <= n/accuracy); pin it inside the
    // exact-percentile band the way the HLL pin bounds distinct counts
    import org.apache.spark.sql.functions.{col, round => sround, percentile, percentile_approx, typedlit, element_at, lit}
    val cents = sround(col("l_extendedprice") * 100).cast("long")
    val li = Tables.read(spark, sf("0.01"), "lineitem").select(cents.as("c")).cache()
    val n = li.count().toDouble
    val acc = 10000
    val eps = 1.0 / acc // rank-error fraction guaranteed by the GK sketch
    val row = li.agg(
      percentile(col("c"), typedlit(Seq(0.5 - 2 * eps, 0.5 + 2 * eps))).as("band"),
      percentile_approx(col("c"), lit(0.5), lit(acc)).as("approx")).head()
    val band = row.getSeq[Double](0)
    val approx = row.getLong(1).toDouble
    assert(approx >= band(0) && approx <= band(1),
      s"approx p50 $approx outside exact band [${band(0)}, ${band(1)}] (n=$n)")
  }

  test("roundHalfUpLong matches Spark's round()::long exactly") {
    // the ONE Spark scalar a collected fit reproduces itself (the k-means|| phi
    // rounding); everything else rides through real Spark expressions
    import org.apache.spark.sql.functions.{col, round => sparkRound}
    val tricky = Seq(0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999999999999994,
      -0.49999999999999994, 1e15 + 0.5, -1e15 - 0.5, 123456789.4999999,
      3.0000000000000004, 0.0, -0.0)
    val rnd = new scala.util.Random(11)
    val xs = tricky ++ Seq.fill(500)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12)) *
      (if (rnd.nextBoolean()) 1 else -1))
    val viaSpark = xs.toDF("x")
      .select(sparkRound(col("x")).cast("long")).as[Long].collect()
    xs.zip(viaSpark).foreach { case (x, expect) =>
      assert(graft.operators.KMeans.roundHalfUpLong(x) == expect, s"x=$x")
    }
  }

  test("roundHalfUpLong fast path ≡ the BigDecimal HALF_UP definition") {
    // r19: the hot kernels call the branch-only fast path; this pins it to
    // the original BigDecimal form over the adversarial ladder — exact
    // midpoints, near-midpoints one ulp off, and the 2^52 integrality
    // boundary where the fast path switches to plain truncation
    def viaBigDecimal(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
    val p52 = 4503599627370496.0 // 2^52
    val ladder = Seq(0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.49999999999999994, -0.49999999999999994,
      1.4999999999999998, -1.4999999999999998,
      3.0000000000000004, -3.0000000000000004,
      p52, -p52, p52 - 0.5, -(p52 - 0.5), p52 - 1.0, p52 + 1.0,
      1e15 + 0.5, -1e15 - 0.5, 9.9e18, -9.9e18, 0.0, -0.0)
    val rnd = new scala.util.Random(7)
    val xs = ladder ++
      Seq.fill(2000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(16)) *
        (if (rnd.nextBoolean()) 1 else -1)) ++
      Seq.fill(500)(rnd.nextInt(2000000) - 1000000 + 0.5) // exact midpoints
    xs.foreach { x =>
      assert(graft.operators.KMeans.roundHalfUpLong(x) == viaBigDecimal(x),
        s"x=$x")
    }
  }

  test("semi and anti joins partition the probe side exactly") {
    val semi = SparkEntry.queries("q_semijoin")(spark, sf("0.001"))
      .select("c_custkey").as[Long].collect().toSet
    val anti = SparkEntry.queries("q_antijoin")(spark, sf("0.001"))
      .select("c_custkey").as[Long].collect().toSet
    val all = Tables.read(spark, sf("0.001"), "customer")
      .select("c_custkey").as[Long].collect().toSet
    assert((semi & anti).isEmpty, "EXISTS and NOT EXISTS cannot overlap")
    assert((semi | anti) == all, "together they must cover every customer")
  }

  test("exact duplicates are caught by every dedup family") {
    samples(docGen, 4).foreach { docs =>
      // plant an exact dup of doc 1 with a fresh id
      val planted = docs :+ ((docs.map(_._1).max + 1, docs.head._2, docs.head._3))
      val df = planted.toDF("doc_id", "text", "lang")
      val pair = (docs.head._1, planted.last._1)
      val mh = Dedup.minhashLSH(df).select("a_id", "b_id")
        .as[(Long, Long)].collect().toSet
      assert(mh.contains(pair), s"minhash missed the exact dup $pair")
      val sh = Dedup.simhashPairs(df, chunkBlocked = false)
        .filter($"hamming" === 0).select("a_id", "b_id")
        .as[(Long, Long)].collect().toSet
      assert(sh.contains(pair), s"simhash missed the exact dup $pair")
      val ng = Dedup.ngramJaccard(df, n = 3, thrNum = 1, thrDen = 2)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(ng.contains(pair), s"ngram jaccard missed the exact dup $pair")
      val ex = Dedup.exact(df).as[(Long, Long)].collect().toMap
      assert(ex.contains(pair._1), "exact dedup must collapse the planted pair")
    }
  }

  test("cube contains rollup exactly: same rows plus the missing marginal") {
    val roll = SparkEntry.queries("q_rollup")(spark, sf("0.001"))
      .collect().map(_.toSeq).toSet
    val cube = SparkEntry.queries("q_cube")(spark, sf("0.001"))
      .collect().map(_.toSeq).toSet
    assert(roll.subsetOf(cube), "every rollup row must appear in the cube")
    // the difference is exactly the (null, linestatus) marginal rollup skips
    val extra = cube -- roll
    assert(extra.nonEmpty && extra.forall(r => r.head == null && r(1) != null),
      s"cube-only rows must be the flag-marginal: $extra")
  }

  test("rangeJoin equals the naive non-equi join on random intervals, any width") {
    val gen = for {
      np <- Gen.choose(10, 40)
      ni <- Gen.choose(3, 10)
      pts <- Gen.listOfN(np, Gen.choose(-50L, 150L))
      los <- Gen.listOfN(ni, Gen.choose(-60L, 140L))
      lens <- Gen.listOfN(ni, Gen.choose(0L, 80L))
    } yield (pts.zipWithIndex.map { case (v, ix) => (ix.toLong, v) },
      los.zip(lens).zipWithIndex.map { case ((lo, len), ix) =>
        (s"b$ix", lo, lo + len) })
    samples(gen, 6).zip(Seq(1L, 3L, 7L, 16L, 64L, 1000L)).foreach {
      case ((pts, ivs), width) =>
        val p = pts.toDF("id", "v")
        val iv = ivs.toDF("band", "lo", "hi")
        val got = graft.operators.Joins.rangeJoin(p, iv, width)
          .select("id", "band").as[(Long, String)].collect().toSet
        val naive = p.join(iv, $"v" >= $"lo" && $"v" < $"hi")
          .select("id", "band").as[(Long, String)].collect().toSet
        assert(got == naive, s"width=$width")
    }
  }

  test("incremental dedup agrees with the batch LSH run over corpus ∪ delta") {
    samples(docGen, 5).foreach { docs =>
      val df = docs.toDF("doc_id", "text", "lang")
      val corpus = df.filter($"doc_id" % 2 === 1)
      val delta = df.filter($"doc_id" % 2 === 0)
      val inc = Dedup.incrementalDedup(delta, Dedup.bandedSignatures(corpus))
        .as[(Long, Option[Long], Long)].collect()
        .map { case (k, d, n) => k -> ((d, n)) }.toMap
      // independent route: full batch LSH over all docs, then restrict each
      // delta doc's pairs to corpus partners + earlier delta partners
      val pairs = Dedup.minhashLSH(df).select("a_id", "b_id")
        .as[(Long, Long)].collect()
      val corpusIds = docs.map(_._1).filter(_ % 2 == 1).toSet
      docs.map(_._1).filter(_ % 2 == 0).foreach { d =>
        val partners = pairs.flatMap { case (a, b) =>
          if (a == d) Some(b) else if (b == d) Some(a) else None
        }.filter(p => corpusIds(p) || p < d).toSet
        val expected = if (partners.isEmpty) ((None, 0L))
          else ((Some(partners.min), partners.size.toLong))
        assert(inc(d) == expected, s"doc $d: got ${inc(d)}, want $expected")
      }
    }
  }

  test("piiRedact is idempotent: placeholders never re-match any pattern") {
    val piiGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(3, 8)
      docs <- Gen.listOfN(n, Gen.listOfN(10, Gen.oneOf(
        "word", "user@example.com", "+1-555-0042", "10.20.30.40",
        "a.b-c_d@sub.domain.io", "+49-123-9999", "plain", "192.168.1.255"
      )).map(_.mkString(" ")))
    } yield docs.zipWithIndex.map { case (t, ix) => (ix.toLong + 1, t) }
    samples(piiGen, 5).foreach { docs =>
      val once = graft.operators.TextAnalysis.piiRedact(docs.toDF("doc_id", "text"))
        .select("doc_id", "redacted")
      val twice = graft.operators.TextAnalysis.piiRedact(once, "redacted")
      val r = twice.select("n_emails", "n_phones", "n_ips")
        .as[(Long, Long, Long)].collect()
      assert(r.forall(_ == ((0L, 0L, 0L))),
        "a second redaction pass must find nothing")
    }
  }

  test("simhash hamming distance is symmetric and zero on self") {
    samples(docGen, 5).foreach { docs =>
      val fp = Dedup.simhashFingerprints(docs.toDF("doc_id", "text", "lang"), bits = 32)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      for (a <- fp.keys; b <- fp.keys) {
        val hAB = java.lang.Long.bitCount(fp(a) ^ fp(b))
        assert(hAB == java.lang.Long.bitCount(fp(b) ^ fp(a)))
        if (a == b) assert(hAB == 0)
      }
    }
  }

  test("profileApprox: no Expand in the plan; estimates track the exact census") {
    import graft.operators.Profiling
    val df = Tables.read(spark, sf("0.001"), "lineitem")
    val exact = Profiling.profile(df)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val approx = Profiling.profileApprox(df)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    approx.as[(String, Long, Long, Long)].collect().foreach {
      case (c, n, nn, nd) =>
        val (_, en, enn, end) = exact(c)
        assert(n == en && nn == enn)                    // counts stay exact
        assert(math.abs(nd - end) <= math.max(3L, (end * 0.1).toLong),
          s"$c: approx $nd vs exact $end")
    }
    // the exact form pays the Expand; that's the documented trade
    assert(Profiling.profile(df)
      .queryExecution.executedPlan.toString.contains("Expand"))
  }

  test("profileFast: exact per-column-concurrent census ≡ the one-scan form") {
    import graft.operators.Profiling
    val df = Tables.read(spark, sf("0.001"), "lineitem")
    val exact = Profiling.profile(df)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val fast = Profiling.profileFast(df)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fast == exact, "profileFast must be value-identical to profile")
  }

  test("attribution: generated events conserve credit and respect the window") {
    import org.apache.spark.sql.functions.col
    val evGen: Gen[Seq[(Long, Long, String, Long)]] = for {
      n <- Gen.choose(20, 60)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 4L)
        t <- Gen.oneOf("click", "purchase", "view")
        // millisecond granularity: java.sql.Timestamp carries ms, so the
        // reference model must see exactly what unix_micros will see
        ms <- Gen.choose(0L, 2L * 24 * 3600 * 1000L)
      } yield (u, t, ms * 1000L))
    } yield rows.zipWithIndex.map { case ((u, t, us), i) => (i.toLong + 1, u, t, us) }
    val winUs = 24L * 3600 * 1000000L
    samples(evGen, 5).foreach { rows =>
      val df = rows.map { case (e, u, t, us) =>
        (e, u, t, new java.sql.Timestamp(us / 1000)) }
        .toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.Events.attribution(df)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      // reference model, computed independently in scala
      val clicks = rows.filter(_._3 == "click")
      val want = rows.filter(_._3 == "purchase").flatMap { case (pid, u, _, pus) =>
        val touch = clicks.filter(c => c._2 == u && c._4 <= pus && c._4 > pus - winUs)
        if (touch.isEmpty) Nil else List(pid -> touch.map(_._1).toSet)
      }.toMap
      val byP = got.groupBy(_._2)
      assert(byP.keySet == want.keySet)
      byP.foreach { case (pid, ts) =>
        assert(ts.map(_._3).toSet == want(pid), s"touch set for purchase $pid")
        assert(ts.map(_._6).sum == 1000000L, s"credit sum for purchase $pid")
        assert(ts.map(_._5).sorted.toSeq == (1L to ts.length).toSeq)
      }
    }
  }

  test("star contraction ≡ label propagation on generated graphs") {
    val graphGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(0, 40)
      edges <- Gen.listOfN(n, for {
        a <- Gen.choose(1L, 30L)
        b <- Gen.choose(1L, 30L)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }
    val nodes = (1L to 30L).map(i => (i, s"d$i", "en")).toDF("doc_id", "text", "lang")
    samples(graphGen, 4).foreach { edges =>
      val pairs = (edges :+ ((1L, 1L))).toDF("a_id", "b_id")
        .filter(org.apache.spark.sql.functions.col("a_id") =!=
          org.apache.spark.sql.functions.col("b_id"))
      val star = Dedup.connectedComponentsStar(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      val prop = Dedup.connectedComponents(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      assert(star == prop, s"divergence on ${edges.size} edges")
    }
  }

  test("observedCounters: CollectMetrics values ≡ the relational aggregates") {
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    val df = Tables.read(spark, sf("0.001"), "lineitem")
    val metrics = Seq(
      "n_rows" -> count(lit(1)).cast("long"),
      "n_high_disc" -> sum(when(col("l_discount") > 0.06, 1L).otherwise(0L)).cast("long"),
      "sum_qty" -> sum(round(col("l_quantity")).cast("long")).cast("long"))
    val got = Profiling.observedCounters(df, metrics)
      .as[(Long, Long, Long)].head()
    val want = df.agg(metrics.head._2.as("a"),
        metrics(1)._2.as("b"), metrics(2)._2.as("c"))
      .as[(Long, Long, Long)].head()
    assert(got == want, s"observed $got vs relational $want")
    // a float-valued metric is rejected, not silently hashed
    intercept[RuntimeException] {
      Profiling.observedCounters(df, Seq("bad" -> avg(col("l_quantity"))))
    }
  }

  test("boilerplate removal: broadcast-hot-set twin is value-identical") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    // generator-driven multi-line docs: line vocabulary small enough that
    // some lines cross the df cap and some don't
    val lineGen = Gen.chooseNum(0, 11).map(i => s"line $i")
    val docGen = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, lineGen))
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
      .toDF("doc_id", "text")
    for (cap <- Seq(1, 5, 20)) {
      val a = TextAnalysis.removeBoilerplate(docs, cap)
        .as[(Long, Long, Long, String)].collect().toSet
      val b = TextAnalysis.removeBoilerplateBroadcastHot(docs, cap)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(a == b, s"cap=$cap: join form and broadcast-hot form diverge")
    }
    // and the hot side actually broadcasts
    val plan = TextAnalysis.removeBoilerplateBroadcastHot(docs, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("snapshotAsOf is monotone: each generation replays exactly its prefix") {
    import org.apache.spark.sql.functions._
    val base = (1L to 40L).map(i => (i, s"v$i", 1L, "U"))
    val upd = (1L to 40L).filter(_ % 4 == 0).map(i => (i, "upd", 2L, "U"))
    val del = (1L to 40L).filter(_ % 6 == 0).map(i => (i, s"x", 3L, "D"))
    val log = (base ++ upd ++ del).toDF("id", "v", "gen", "op")
    def state(g: Long): Map[Long, (String, Long)] =
      graft.operators.Joins.snapshotAsOf(log, Seq("id"), g)
        .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val s1 = state(1)
    assert(s1.size == 40 && s1.forall { case (i, (v, g)) => v == s"v$i" && g == 1L })
    val s2 = state(2)
    assert(s2.size == 40)
    assert((1L to 40L).forall(i =>
      if (i % 4 == 0) s2(i) == (("upd", 2L)) else s2(i) == ((s"v$i", 1L))))
    val s3 = state(3)
    // deletes remove exactly the %6 keys; everyone else keeps their s2 row
    assert(s3.keySet == s2.keySet.filterNot(_ % 6 == 0))
    assert(s3.forall { case (i, row) => row == s2(i) })
  }

  test("mergeInto: update, delete, insert, absent-key-delete, pass-through") {
    import graft.operators.Joins
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val changes = Seq(
      (2L, "B", "U"),              // matched update
      (3L, null.asInstanceOf[String], "D"), // matched delete
      (9L, "I", "U"),              // unmatched insert
      (8L, null.asInstanceOf[String], "D")  // delete of an absent key: no-op
    ).toDF("id", "v", "op")
    val got = Joins.mergeInto(target, changes, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (4L, "d"), (9L, "I")), s"got $got")
  }

  test("changefeed: minimal I/U/D set; applying it via mergeInto reproduces after") {
    import graft.operators.Joins
    import org.apache.spark.sql.functions._
    val before = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "v", "n")
    val after = Seq((1L, "a", 10L), (2L, "B", 21L), (4L, "d", 40L), (9L, "i", 90L))
      .toDF("id", "v", "n")
    val feed = Joins.changefeed(before, after, Seq("id")).cache()
    val rows = feed.as[(Long, String, String, java.lang.Long, String, java.lang.Long)]
      .collect().map(r => r._1 -> r).toMap
    // unchanged key 1 and 4 absent; 2 is U with old+new; 3 is D; 9 is I
    assert(rows.keySet == Set(2L, 3L, 9L), s"got ${rows.keySet}")
    assert(rows(2L)._2 == "U" && rows(2L)._3 == "b" && rows(2L)._5 == "B")
    assert(rows(3L)._2 == "D" && rows(3L)._3 == "c" && rows(3L)._5 == null)
    assert(rows(9L)._2 == "I" && rows(9L)._3 == null && rows(9L)._5 == "i")
    // round-trip law: mergeInto(before, feed-as-changes) == after
    val changes = feed.select(col("id"), coalesce(col("new_v"), col("old_v")).as("v"),
      coalesce(col("new_n"), col("old_n")).as("n"),
      when(col("op") === "D", "D").otherwise("U").as("op"))
    val merged = Joins.mergeInto(before, changes, Seq("id"))
      .as[(Long, String, Long)].collect().toSet
    assert(merged == after.as[(Long, String, Long)].collect().toSet)
  }

  test("fkCheck counts child rows, null FKs, orphan rows, and distinct orphan keys") {
    import graft.operators.Profiling
    val child = Seq(
      (1L, java.lang.Long.valueOf(10L)), (2L, java.lang.Long.valueOf(10L)),
      (3L, java.lang.Long.valueOf(20L)), (4L, null.asInstanceOf[java.lang.Long]),
      (5L, java.lang.Long.valueOf(99L)), (6L, java.lang.Long.valueOf(99L)),
      (7L, java.lang.Long.valueOf(77L))
    ).toDF("id", "fk")
    val parent = Seq(10L, 20L, 30L).toDF("pk")
    val got = Profiling.fkCheck(child, "fk", parent, "pk", "child.fk->parent")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // 7 child rows, 1 null fk, 3 orphan rows (99,99,77), 2 distinct orphan keys
    assert(got == Seq(("child.fk->parent", 7L, 1L, 3L, 2L)), s"got $got")
  }

  test("scd2 timelines reproduce every generation's snapshot when sliced") {
    import org.apache.spark.sql.functions._
    import graft.operators.Joins
    val base = (1L to 40L).map(i => (i, s"v$i", 1L, "U"))
    val upd = (1L to 40L).filter(_ % 4 == 0).map(i => (i, "upd", 2L, "U"))
    val del = (1L to 40L).filter(_ % 6 == 0).map(i => (i, "x", 3L, "D"))
    val log = (base ++ upd ++ del).toDF("id", "v", "gen", "op")
    val hist = Joins.scd2(log, Seq("id")).cache()
    // slicing the timeline at G = the as-of-G snapshot, for every G
    for (g <- 1L to 3L) {
      val slice = hist.filter(col("valid_from") <= g &&
          (col("valid_to").isNull || col("valid_to") > g))
        .select("id", "v").as[(Long, String)].collect().toSet
      val snap = Joins.snapshotAsOf(log, Seq("id"), g)
        .select("id", "v").as[(Long, String)].collect().toSet
      assert(slice == snap, s"timeline slice diverges from snapshot at gen $g")
    }
    // every %6 key's timeline is fully closed (deleted); %4-non-%6 keys
    // have exactly two versions: [1,2) then [2,null)
    val open = hist.filter(col("valid_to").isNull)
      .select("id").as[Long].collect().toSet
    assert(open == (1L to 40L).filterNot(_ % 6 == 0).toSet)
    val twoVer = hist.filter(col("id") % 4 === 0 && col("id") % 6 =!= 0)
      .groupBy("id").count().select("count").as[Long].collect()
    assert(twoVer.nonEmpty && twoVer.forall(_ == 2L))
  }

  test("logCompact preserves every snapshot at or after the compaction point") {
    import org.apache.spark.sql.functions._
    import graft.operators.Joins
    // deletes BELOW the compaction point too, so compaction really discards
    // tombstoned keys (gen 2 kills %5) and later gens still apply (gen 3)
    val base = (1L to 40L).map(i => (i, s"v$i", 1L, "U"))
    val g2u = (1L to 40L).filter(_ % 4 == 0).map(i => (i, "upd", 2L, "U"))
    val g2d = (1L to 40L).filter(_ % 5 == 0).map(i => (i, "x", 2L, "D"))
    val g3 = (1L to 40L).filter(_ % 6 == 0).map(i => (i, "late", 3L, "U"))
    val log = (base ++ g2u ++ g2d ++ g3).toDF("id", "v", "gen", "op")
    val compacted = Joins.logCompact(log, Seq("id"), upTo = 2L).cache()
    def snap(df: org.apache.spark.sql.DataFrame, g: Long): Set[(Long, String, Long)] =
      Joins.snapshotAsOf(df, Seq("id"), g).as[(Long, String, Long)].collect().toSet
    for (g <- 2L to 3L)
      assert(snap(compacted, g) == snap(log, g), s"snapshot diverges at gen $g")
    // compaction dropped the overwritten/tombstoned history: shadowed gen-1
    // rows of %4 keys are gone, %5 tombstoned keys left the base entirely
    // (the gen-3 tail keeps its rows verbatim), no tombstone remains below
    // the compaction point, and the log strictly shrank
    val kept = compacted.as[(Long, String, Long, String)].collect()
    assert(kept.filter(_._3 <= 2L).forall(_._4 == "U"))
    assert(!kept.exists { case (i, _, g, _) => g == 1L && i % 4 == 0 },
      "gen-1 rows shadowed by a gen-2 upsert must vanish")
    assert(kept.filter(_._3 <= 2L).forall(_._1 % 5 != 0),
      "keys tombstoned at or before the compaction point must leave the base")
    assert(compacted.count() < log.count())
  }

  test("trianglesFromEdges equals the O(n^3) brute force on random graphs") {
    import org.apache.spark.sql.functions.col
    val graphGen: Gen[Set[(Long, Long)]] = for {
      n <- Gen.choose(4, 12)
      density <- Gen.choose(1, 3)
      edges <- Gen.listOfN(n * density,
        Gen.zip(Gen.choose(1L, n.toLong), Gen.choose(1L, n.toLong)))
    } yield edges.collect {
      case (a, b) if a < b => (a, b)
      case (a, b) if b < a => (b, a)
    }.toSet
    samples(graphGen, 10).filter(_.nonEmpty).foreach { es =>
      val got = graft.operators.Similarity
        .trianglesFromEdges(es.toSeq.toDF("a_id", "b_id"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val nodes = es.flatMap(e => Seq(e._1, e._2))
      val deg = nodes.map(v => v -> es.count(e => e._1 == v || e._2 == v)).toMap
      val tris = for {
        a <- nodes; b <- nodes; c <- nodes
        if a < b && b < c && es((a, b)) && es((b, c)) && es((a, c))
      } yield (a, b, c)
      val triPer = nodes.map(v =>
        v -> tris.count(t => t._1 == v || t._2 == v || t._3 == v).toLong).toMap
      nodes.foreach { v =>
        val (d, t, coeff) = got(v)
        assert(d == deg(v) && t == triPer(v), s"node $v: got $d/$t want ${deg(v)}/${triPer(v)}")
        val want = if (deg(v) >= 2) t * 2000000L / (d * (d - 1)) else 0L
        assert(coeff == want)
      }
    }
  }

  test("ppsSample: sum(n_hits) == total div step on random weight profiles") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val weightGen: Gen[Seq[Long]] = for {
      n <- Gen.choose(5, 60)
      ws <- Gen.listOfN(n, Gen.choose(1L, 3000L))
    } yield ws
    samples(weightGen, 12).zipWithIndex.foreach { case (ws, ix) =>
      val docs = ws.zipWithIndex.map { case (w, i) => (i.toLong + 1, w) }
        .toDF("doc_id", "n_chars")
      val total = ws.sum
      val nTarget = 7
      val step = math.max(1L, total / nTarget)
      val sel = graft.operators.TextAnalysis.ppsSample(docs, nTarget)
      val hits = sel.agg(fsum("n_hits")).head().getLong(0)
      assert(hits == total / step,
        s"[sample $ix] sum(n_hits)=$hits != ${total / step} (total=$total)")
      // every selected doc's interval really contains a multiple of step
      val bad = sel.filter(
        !(col("cum").divide(step).cast("long") >
          (col("cum") - col("n_chars")).divide(step).cast("long"))).count()
      assert(bad == 0)
    }
  }

  test("bloom sketch on random id sets: members always probe true; " +
      "union-of-slices == sketch-of-union") {
    import org.apache.spark.sql.functions.col
    import graft.plans.native
    val setGen: Gen[Seq[Long]] = for {
      n <- Gen.choose(10, 200)
      ids <- Gen.listOfN(n, Gen.choose(0L, 1000000L))
    } yield ids
    samples(setGen, 8).foreach { ids =>
      val df = ids.zipWithIndex.map { case (x, i) => (x, i % 3) }.toDF("id", "g")
      val whole = df.agg(native.bloom_sketch(col("id"), 512, 3)).head().getSeq[Long](0)
      // OR of per-slice filters == the whole-set filter
      val sliced = df.groupBy("g").agg(native.bloom_sketch(col("id"), 512, 3).as("bf"))
        .collect().map(_.getSeq[Long](1))
        .reduce((a, b) => a.zip(b).map { case (x, y) => x | y })
      assert(sliced == whole, "per-slice OR must equal the union sketch")
      // no false negatives, via the interpreted expression directly
      val arr = whole.toArray
      ids.foreach { x =>
        val probe = graft.plans.BloomMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            arr, org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, containsNull = false)),
          org.apache.spark.sql.catalyst.expressions.Literal(x), 512, 3)
        assert(probe.eval(null) == true, s"member $x probed false")
      }
    }
  }

  test("property: cdc chunks joined by ' ' reconstruct the token stream exactly") {
    import org.apache.spark.sql.functions.col
    // random texts over a vocab mixing boundary tokens ("x" hashes ≡ 0 mod 8)
    // and non-boundary tokens; includes empty docs
    val textGen = Gen.listOf(Gen.oneOf("x", "alpha", "beta", "gamma", "d9",
      "zz", "q")).map(_.mkString(" "))
    val texts = samples(textGen, 60)
    texts.zipWithIndex.foreach { case (t, i) =>
      val chunks = Seq((i.toLong, t)).toDF("doc_id", "text")
        .select(graft.plans.native.cdc_chunks(col("text"), 8))
        .as[Seq[String]].head()
      // losslessness: the chunk partition covers the token stream in order
      assert(chunks.mkString(" ") == t, s"text '$t' chunks $chunks")
      // boundary law: every chunk except possibly the last ends on a
      // boundary token, and no boundary token sits mid-chunk
      chunks.dropRight(1).foreach { c =>
        val toks = c.split(" ", -1)
        assert(graft.plans.PolyHash.hash(toks.last) % 8 == 0,
          s"chunk '$c' does not end on a boundary")
        assert(toks.dropRight(1).forall(tk => graft.plans.PolyHash.hash(tk) % 8 != 0),
          s"boundary token mid-chunk in '$c'")
      }
    }
  }

  test("property: poly_fold over a concatenation continues from the prefix hash") {
    // h(a ++ b) == fold(b) seeded with h(a) — the incremental-update law a
    // rolling content fingerprint relies on (q_fingerprint_ivm's delta form)
    val gen = Gen.listOf(Gen.choose(0L, 1000002L))
    val lists = samples(gen, 40)
    def fold(xs: Seq[Long], h0: Long): Long =
      xs.foldLeft(h0)((h, x) => (h * 131 + x) % 1000000007L)
    lists.sliding(2).foreach {
      case Seq(a, b) =>
        val whole = fold(a ++ b, 0L)
        val resumed = fold(b, fold(a, 0L))
        assert(whole == resumed)
        // and the native kernel agrees with the Scala fold
        val df = Seq(Tuple1(a ++ b)).toDF("ids")
        val native = df.select(
          graft.plans.native.poly_fold(
            org.apache.spark.sql.functions.col("ids"), 131L, 1000000007L))
          .as[Long].head()
        assert(native == whole)
      case _ =>
    }
  }

  test("property: globalNtile buckets are contiguous in rank and sized within 1") {
    import org.apache.spark.sql.functions.col
    val gen = Gen.choose(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000L, 1000L)))
    samples(gen, 10).zipWithIndex.foreach { case (vals, i) =>
      val df = vals.zipWithIndex.map { case (v, ix) => (ix.toLong, v) }
        .toDF("id", "v")
      for (k <- Seq(3, 7)) {
        val rows = operators.Ranking.globalNtile(df,
            Seq(col("v"), col("id")), k)
          .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
        val byBucket = rows.groupBy(_._3).view.mapValues(_.length).toMap
        val sizes = byBucket.values.toSeq
        assert(sizes.max - sizes.min <= 1, s"case $i k=$k sizes $byBucket")
        // buckets follow the (v, id) order contiguously
        val sorted = rows.sortBy(r => (r._1, r._2)).map(_._3)
        assert(sorted.sameElements(sorted.sorted), s"case $i k=$k not contiguous")
        assert(byBucket.keySet == (1L to math.min(k, vals.size)).toSet)
      }
    }
  }

  test("canonicalUrl is idempotent and order-insensitive to variant axes") {
    import org.apache.spark.sql.functions.col
    val gen = for {
      scheme <- Gen.oneOf("http://", "https://", "")
      www <- Gen.oneOf("www.", "WWW.", "")
      host <- Gen.oneOf("a.example.com", "Example.org", "x.y.z.io")
      path <- Gen.oneOf("", "/p/1", "/p/1/", "/A/B")
      tail <- Gen.oneOf("", "?utm=1", "#frag", "?a=b#c")
    } yield scheme + www + host + path + tail
    val urls = Gen.listOfN(200, gen).apply(Gen.Parameters.default, Seed(7L)).get
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val once = df.select(col("doc_id"), Dedup.canonicalUrl(col("url")).as("c1"))
    val twice = once.select(col("doc_id"),
      col("c1"), Dedup.canonicalUrl(col("c1")).as("c2"))
      .collect()
    twice.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"not idempotent: ${r.getString(1)} -> ${r.getString(2)}")
      val c = r.getString(1)
      assert(!c.contains("?") && !c.contains("#") && !c.endsWith("/") &&
        c == c.toLowerCase && !c.startsWith("http"), s"residual variant: $c")
    }
  }

  test("ivfRange: raising the threshold selects a subset; full domain matches candidates") {
    import graft.operators.Similarity
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(emb, 16)
    def pairs(tau: Long) = Similarity.ivfRange(emb, cents, minCosE6 = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lo = pairs(100000L)
    val hi = pairs(400000L)
    assert(hi.subsetOf(lo), s"tau-monotonicity broken: ${(hi -- lo).take(3)}")
    assert(hi.size < lo.size, "higher threshold should prune something here")
    // tau = -1e6 admits every probed candidate (cosine >= -1 always)
    val all = pairs(-1000000L)
    assert(lo.subsetOf(all))
  }

  test("zonemapSkip laws: bounds hold and the full-domain box scans everything") {
    import graft.operators.Profiling
    import org.apache.spark.sql.functions.col
    val rows = (0L until 300L).map(i => (i, (i * 7) % 64, (i * 13) % 64))
      .toDF("rid", "pk", "sk")
    val got = Profiling.zonemapSkip(rows,
        Seq(("linear", Seq(col("rid"))), ("pk_sorted", Seq(col("pk"), col("rid")))),
        nFiles = 8,
        preds = Seq(("all", 0L, 63L, 0L, 63L), ("box", 0L, 15L, 0L, 15L)))
      .as[(String, String, Long, Long, Long)].collect()
    got.foreach { case (layout, pred, ft, fs, rs) =>
      assert(ft == 8L && fs <= ft && rs <= 300L, s"$layout/$pred: $ft $fs $rs")
      if (pred == "all")
        assert(fs == 8L && rs == 300L, s"full-domain box must scan all: $layout")
    }
  }

  test("changefeed of identical snapshots is empty; feed is minimal by key") {
    import graft.operators.Joins
    val snap = Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "n")
    assert(Joins.changefeed(snap, snap, Seq("id")).count() == 0L)
    // feed never emits two rows for one key
    val after = Seq((1L, "a2", 1L), (3L, "c", 3L)).toDF("id", "v", "n")
    val feed = Joins.changefeed(snap, after, Seq("id")).collect()
    val keys = feed.map(_.getLong(0))
    assert(keys.length == keys.distinct.length, s"duplicate keys: ${keys.toSeq}")
    // key-only relations (no data columns) still diff: presence I/D only
    val b = Seq(1L, 2L).toDF("id")
    val a = Seq(2L, 3L).toDF("id")
    val ops = Joins.changefeed(b, a, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ops == Set((1L, "D"), (3L, "I")), s"got $ops")
  }

  test("duplicationHotspots laws: spread bounds, cut size, partitioning invariance") {
    samples(docGen, 6).foreach { rows =>
      val docs = rows.toDF("doc_id", "text", "lang")
      val got = Dedup.duplicationHotspots(docs, n = 2, k = 5)
        .as[(String, Long, Long)].collect().toSeq
      assert(got.size <= 5)
      got.foreach { case (g, occ, nd) =>
        assert(occ >= 2, s"'$g' under the duplicated cut: $occ")
        assert(nd >= 1 && nd <= occ, s"'$g' spread $nd out of [1, $occ]")
        assert(nd <= rows.size.toLong)
      }
      // the census is a pure function of the data, not its layout
      val re = Dedup.duplicationHotspots(docs.repartition(7), n = 2, k = 5)
        .as[(String, Long, Long)].collect().toSeq
      assert(re == got)
    }
  }

  test("tukeyFences: hand-computed fences, outlier counts, winsorized sums") {
    import org.apache.spark.sql.functions.col
    val data = ((1L to 8L).map(v => ("A", v)) :+ ("A", 100L)) ++
      (1L to 4L).map(v => ("B", v))
    val got = graft.operators.Quantiles.tukeyFences(
      data.toDF("g", "v"), "g", "v")
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // A: 9 values, q1 = 3, q3 = 7 (x8: 24/56), 1.5*IQR = 48 -> fences
    // [-24, 104]; only 100 clips (to 13): win sum = 36*8 + 104 = 392
    // B: 4 values, q1 = 1.75, q3 = 3.25 (x8: 14/26), fences [-4, 44]:
    // nothing clips, win sum = 10*8 = 80
    assert(got == Seq(
      ("A", 9L, 24L, 56L, -24L, 104L, 0L, 1L, 392L),
      ("B", 4L, 14L, 26L, -4L, 44L, 0L, 0L, 80L)), s"got $got")
  }

  test("temperatureMix laws: isqrt exact at square boundaries, Hamilton exhausts any budget") {
    import org.apache.spark.sql.functions.col
    // adversarial token masses: k²−1 / k² / k²+1 straddle every floor(sqrt)
    // rounding edge the double sqrt could miss
    val ks = Seq(1L, 2L, 3L, 10L, 997L, 46340L, 3037000498L)
    val masses = ks.flatMap(k => Seq(k * k - 1, k * k, k * k + 1))
      .filter(_ >= 1).distinct
    // small-corpus end-to-end: random budgets always allocate EXACTLY the
    // budget and weights are floor sqrts
    val corpus = Seq(
      (1L, "t t t t t t t t", "a"), (2L, "t t t", "b"), (3L, "t", "c"),
      (4L, "t t t t t", "d")).toDF("doc_id", "text", "source")
    samples(Gen.choose(0L, 1000L), 25).foreach { budget =>
      val rows = graft.operators.TextAnalysis.temperatureMix(corpus, budget)
        .as[(String, Long, Long, Long, Long)].collect()
      assert(rows.map(_._5).sum == budget, s"budget $budget not exhausted")
      rows.foreach { case (_, n, w, _, alloc) =>
        assert(w * w <= n && (w + 1) * (w + 1) > n, s"isqrt($n) != $w")
        assert(alloc >= 0L)
      }
    }
    // the isqrt correction itself, checked at the adversarial masses via
    // the SHARED production expression (TextAnalysis.withIsqrt — the same
    // overflow-free division-compare form temperatureMix builds its
    // weights with, not a re-derivation)
    val bad = graft.operators.TextAnalysis
      .withIsqrt(masses.toDF("n"), "n", "w")
      .as[(Long, Long)].collect()
      .filter { case (n, w) => !(w * w <= n && (w + 1) * (w + 1) > n) }
    assert(bad.isEmpty, s"isqrt wrong at: ${bad.toSeq}")
  }
}
