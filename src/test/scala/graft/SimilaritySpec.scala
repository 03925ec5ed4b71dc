package graft

import graft.operators.{KMeans, Similarity}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 3 tight clusters around orthogonal axes; ids 0,1 are queries
  private lazy val emb = Seq(
    (0L, Array(1.00f, 0.01f, 0.00f)), (1L, Array(0.00f, 1.00f, 0.01f)),
    (2L, Array(0.99f, 0.02f, 0.00f)), (3L, Array(0.98f, 0.00f, 0.01f)),
    (4L, Array(0.01f, 0.99f, 0.00f)), (5L, Array(0.00f, 0.98f, 0.02f)),
    (6L, Array(0.00f, 0.01f, 0.99f)), (7L, Array(0.02f, 0.00f, 0.98f))
  ).toDF("vec_id", "embedding")

  test("normalizeQuantize: exact norms, int8 range, zero vectors safe") {
    val e = Seq(
      (1L, Array(3.0f, 4.0f, 0.0f)),   // norm 5, q1 = round(3/5*127) = 76
      (2L, Array(0.0f, 0.0f, 0.0f))    // zero vector -> all-zero quants
    ).toDF("vec_id", "embedding")
    val got = Similarity.normalizeQuantize(e, qDims = 3)
      .orderBy("vec_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5000000L, 76L, 102L, 0L), (2L, 0L, 0L, 0L, 0L)))
    // real embeddings: every quantized dim is a valid int8
    val real = Similarity.normalizeQuantize(Tables.read(spark, sf("0.001"), "embeddings"))
    val bad = real.filter((1 to 4).map(d =>
      col(s"q$d") < -127 || col(s"q$d") > 127).reduce(_ || _)).count()
    assert(bad == 0 && real.count() == 500)
  }

  test("pca1: unit loading vector, direction matches MLlib PCA, evr in (0,1]") {
    import org.apache.spark.ml.feature.{PCA => MLPca}
    import org.apache.spark.ml.functions.array_to_vector
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val got = Similarity.pca1(embr).orderBy("dim").collect()
    assert(got.length == 64)
    val pc = got.map(_.getLong(2).toDouble / 1e6)
    val norm = math.sqrt(pc.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3, s"PC1 not unit: $norm")
    val evr = got.head.getLong(3)
    assert(evr > 0 && evr <= 1000000L)
    // direction parity with MLlib's eigendecomposition (sign-insensitive)
    val feats = embr.select(
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val ml = new MLPca().setK(1).setInputCol("features").setOutputCol("p")
      .fit(feats).pc.toArray // column-major, k=1 -> the first column
    val cos = math.abs(pc.zip(ml).map { case (a, b) => a * b }.sum) /
      (norm * math.sqrt(ml.map(x => x * x).sum))
    assert(cos > 0.999, s"PC1 direction diverges from MLlib: |cos| = $cos")
  }

  test("whiten2: unit variance per component, decorrelated, MLlib PCA(2) " +
    "projection parity, empty input refused") {
    import org.apache.spark.ml.feature.{PCA => MLPca}
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val got = Similarity.whiten2(embr).orderBy("vec_id").collect()
    assert(got.length == 500)
    val w1 = got.map(_.getLong(1).toDouble / 1e4)
    val w2 = got.map(_.getLong(2).toDouble / 1e4)
    def meanOf(a: Array[Double]) = a.sum / a.length
    def varOf(a: Array[Double]) = { val m = meanOf(a); meanOf(a.map(x => (x - m) * (x - m))) }
    assert(math.abs(varOf(w1) - 1.0) < 0.02, s"w1 var ${varOf(w1)}")
    assert(math.abs(varOf(w2) - 1.0) < 0.02, s"w2 var ${varOf(w2)}")
    val corr12 = {
      val (m1, m2) = (meanOf(w1), meanOf(w2))
      w1.zip(w2).map { case (a, b) => (a - m1) * (b - m2) }.sum /
        (w1.length * math.sqrt(varOf(w1) * varOf(w2)))
    }
    assert(math.abs(corr12) < 0.02, s"components correlated: $corr12")
    // per-row parity with MLlib's 2-component projection (sign-insensitive)
    val ml = new MLPca().setK(2).setInputCol("features").setOutputCol("p")
      .fit(embr.select(array_to_vector(col("embedding").cast("array<double>")).as("features")))
    val proj = ml.transform(embr.select(col("vec_id"),
        array_to_vector(col("embedding").cast("array<double>")).as("features")))
      .select(col("vec_id"), vector_to_array(col("p")).as("p"))
      .orderBy("vec_id").collect()
    val p1 = proj.map(_.getSeq[Double](1).head)
    val p2 = proj.map(_.getSeq[Double](1)(1))
    def absCorr(a: Array[Double], b: Array[Double]): Double = {
      val (ma, mb) = (meanOf(a), meanOf(b))
      math.abs(a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum) /
        (a.length * math.sqrt(varOf(a) * varOf(b)))
    }
    assert(absCorr(w1, p1) > 0.999, s"w1 vs MLlib pc1: ${absCorr(w1, p1)}")
    assert(absCorr(w2, p2) > 0.999, s"w2 vs MLlib pc2: ${absCorr(w2, p2)}")
    // empty input fails loudly instead of dividing by zero
    val err = intercept[IllegalArgumentException] {
      Similarity.whiten2(embr.filter(col("vec_id") < 0))
    }
    assert(err.getMessage.contains("non-empty"))
  }

  test("sq8: codes span [0,255] hitting both ends; top-1 respects clusters; " +
    "constant dims encode 0") {
    val (mn, mx) = Similarity.sq8Bounds(emb)
    assert(mn.size == 3 && mx.size == 3)
    val codes = Similarity.sq8Codes(emb, mn, mx).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    // the per-dim min encodes 0 and the per-dim max encodes 255
    (0 until 3).foreach { d =>
      val column = codes.values.map(_(d))
      assert(column.min == 0L && column.max == 255L)
    }
    // queries 0 (x-axis) and 1 (y-axis) find their own cluster first
    val top1 = Similarity.sq8TopK(emb, nQueries = 2, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(2L, 3L).contains(top1(0L)) && Set(4L, 5L).contains(top1(1L)))
    // a constant dimension quantizes to 0 instead of dividing by zero
    val flat = Seq((0L, Array(1.0f, 7.0f)), (1L, Array(2.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val (fm, fx) = Similarity.sq8Bounds(flat)
    val fc = Similarity.sq8Codes(flat, fm, fx).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fc(0L)(1) == 0L && fc(1L)(1) == 0L)
    assert(fc(0L)(0) == 0L && fc(1L)(0) == 255L)
  }

  test("ivfSq8TopK: full-probe equals the brute SQ8 ranking; low-probe is a subset") {
    val cents = Seq(KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)), KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    val brute = Similarity.sq8TopK(emb, nQueries = 2, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = Similarity.ivfSq8TopK(emb, cents, nQueries = 2, nProbe = 3, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full == brute, "probing every cell must reproduce the brute ranking")
    // 1-probe results are a subset of the brute candidate space with the
    // same distances (ranks can only tighten)
    val one = Similarity.ivfSq8TopK(emb, cents, nQueries = 2, nProbe = 1, k = 5)
      .collect()
    val bruteDist = brute.map(t => (t._1, t._2) -> t._4).toMap
    one.foreach { r =>
      bruteDist.get((r.getLong(0), r.getLong(1))).foreach(d =>
        assert(d == r.getLong(3), "distances must not depend on probe count"))
    }
  }

  test("knnGraph: within-cluster mutual edges, canonical ids, rank bounds") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    // nProbe=1, k=2: every 3-cluster member keeps both others -> all edges
    // mutual; clusters {0,2,3}, {1,4,5}, {6,7} -> 3+3+1 canonical edges
    val got = Similarity.knnGraph(emb, cents, nProbe = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 2L), (0L, 3L), (2L, 3L),
      (1L, 4L), (1L, 5L), (4L, 5L), (6L, 7L)))
    // growing k only ever adds edges (a candidate's rank is k-independent)
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val realCents = Similarity.fixedCentroids(realEmb, 16)
    def edges(k: Int) = Similarity.knnGraph(realEmb, realCents, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e4 = edges(4)
    assert(e4.subsetOf(edges(8)))
    assert(e4.nonEmpty && e4.forall { case (a, b) => a < b })
    // every reported rank respects the k cut and mutuality
    val ranks = Similarity.knnGraph(realEmb, realCents, k = 4)
      .select(max(greatest(col("rnk_ab"), col("rnk_ba")))).head().getLong(0)
    assert(ranks <= 4)
  }

  test("knnGraphBlocked: bit-identical to the join-form build across " +
      "probe depths and k") {
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val realCents = Similarity.fixedCentroids(realEmb, 16)
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    for ((np, k) <- Seq((1, 2), (2, 4), (4, 3))) {
      val join = bits(Similarity.knnGraph(realEmb, realCents, nProbe = np, k = k))
      val blocked = bits(Similarity.knnGraphBlocked(realEmb, realCents,
        nProbe = np, k = k))
      assert(blocked == join, s"nProbe=$np k=$k diverged")
    }
    // the broadcast assignment path (no plan literal — the beyond-the-
    // literal-ceiling form) is the same graph bit for bit
    val lit = bits(Similarity.knnGraphBlocked(realEmb, realCents,
      nProbe = 2, k = 4))
    val bcast = bits(Similarity.knnGraphBlocked(realEmb, realCents,
      nProbe = 2, k = 4, broadcastAssign = true))
    assert(bcast == lit)
  }

  test("knnGraphBlocked: tie stress — duplicate vectors (exact cosine " +
      "ties) and centroid-equidistant points keep all three paths identical") {
    // 0/1/2 identical (cos 1.0 both ways — the b_id tiebreak decides),
    // 3 exactly between the two centroids (assignment (d, cid) tie),
    // 4/5 a second duplicate pair on the other axis
    val tie = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(KMeans.Centroid(1, Seq(1.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0)))
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    for ((np, k) <- Seq((1, 1), (1, 2), (2, 3))) {
      val join = bits(Similarity.knnGraph(tie, cents, nProbe = np, k = k))
      val blocked = bits(Similarity.knnGraphBlocked(tie, cents,
        nProbe = np, k = k))
      val bcast = bits(Similarity.knnGraphBlocked(tie, cents,
        nProbe = np, k = k, broadcastAssign = true))
      assert(blocked == join, s"blocked diverged at nProbe=$np k=$k")
      assert(bcast == join, s"broadcast diverged at nProbe=$np k=$k")
    }
    // the duplicate triple is fully mutual at k=2 regardless of path
    val got = bits(Similarity.knnGraphBlocked(tie, cents, nProbe = 1, k = 2))
      .map(t => (t._1, t._2))
    assert(Set((0L, 1L), (0L, 2L), (1L, 2L)).subsetOf(got))
  }

  test("ndcgWeights: golden values pin the shared-literal contract") {
    // these literals are inlined into BOTH the Spark plan and the oracle
    // SQL — a silent change here would hash-diverge every ndcg row, so the
    // definition is pinned to its computed values
    assert(Similarity.ndcgWeights(10) == Seq(1000000L, 630930L, 500000L,
      430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L))
  }

  test("ndcgAtK: perfect ranking scores exactly 1e6; irrelevant ranking 0; " +
      "ideal truncates to the corpus's relevant supply") {
    // labels: q0 has 3 same-label partners (1,2,3); vec 9 is its own class
    val embL = Seq((0L, 7), (1L, 7), (2L, 7), (3L, 7), (9L, 5))
      .map { case (id, l) => (id, Array(0.0f), l) }
      .toDF("vec_id", "embedding", "label")
    def ranking(rows: (Long, Long, Long)*) =
      rows.toDF("q_id", "n_id", "rnk").withColumn("cos_e6", lit(0L))
    val w = Similarity.ndcgWeights(3)
    // all three retrieved are relevant and n_rel = 3 = k -> exactly 1e6
    val perfect = Similarity.ndcgAtK(embL,
      ranking((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L)), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).head
    assert(perfect == ((0L, 3L, 3L, 1000000L)))
    // nothing relevant retrieved -> 0 (not null, not negative)
    val none = Similarity.ndcgAtK(embL,
      ranking((0L, 9L, 1L)), k = 3).collect().head
    assert(none.getLong(2) == 0L && none.getLong(3) == 0L)
    // n_rel < k: the ideal truncates — one relevant hit at rank 1 with
    // n_rel = 3 but k = 10 weights: idcg = prefix(3), dcg = w(1)
    val w10 = Similarity.ndcgWeights(10)
    val partial = Similarity.ndcgAtK(embL,
      ranking((0L, 1L, 1L), (0L, 9L, 2L)), k = 10).collect().head
    val idcg = w10.take(3).sum
    assert(partial.getLong(3) == w10.head * 1000000L / idcg)
  }

  test("per-cell kernels: empty and singleton inputs produce empty results, " +
      "not failures") {
    val cents = Seq(KMeans.Centroid(1, Seq(1.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0)))
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.knnGraphBlocked(empty, cents).count() == 0)
    assert(graft.operators.Dedup.embeddingCosineBlockedLocal(empty, cents,
      thrE6 = 0L).count() == 0)
    // one vector: no pair to score anywhere, on either assignment path
    val one = Seq((7L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.knnGraphBlocked(one, cents).count() == 0)
    assert(Similarity.knnGraphBlocked(one, cents,
      broadcastAssign = true).count() == 0)
    assert(graft.operators.Dedup.embeddingCosineBlockedLocal(one, cents,
      thrE6 = 0L).count() == 0)
  }

  test("ivfTopKDelta: empty delta equals the indexed search; planted " +
      "duplicates surface at cos 1e6 without a rebuild") {
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(realEmb, 16)
    val tbl = "graft_test_ivf_delta"
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    // external location (the spec_ivf_idx pattern): overwrite mode tolerates
    // the dir a previous standalone run left behind
    Similarity.buildIvfIndex(realEmb, cents, tbl, buckets = 4,
      Some(s"$tmp/$tbl"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val empty = realEmb.filter(col("vec_id") < 0)
    assert(rows(Similarity.ivfTopKDelta(realEmb, tbl, empty, cents)) ==
      rows(Similarity.ivfTopKIndexed(realEmb, tbl, cents)))
    // re-keyed copies of the query vectors themselves MUST surface as
    // rank-1 cos=1e6 neighbors (identical coordinates, same cell)
    val delta = realEmb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val got = Similarity.ivfTopKDelta(realEmb, tbl, delta, cents)
      .filter(col("n_id") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 5)
    got.foreach { case (q, n, rnk, cos) =>
      assert(n == q + 1000000L && rnk == 1L && cos == 1000000L)
    }
    // compaction closes the loop: probing the NEW generation with no delta
    // equals probing the OLD generation with the delta attached
    val tbl2 = "graft_test_ivf_delta_g2"
    Similarity.compactIvfIndex(spark, tbl, delta, cents, tbl2, buckets = 4,
      Some(s"$tmp/$tbl2"))
    val compacted = rows(Similarity.ivfTopKDelta(realEmb, tbl2,
      realEmb.filter(col("vec_id") < 0), cents))
    assert(compacted == rows(Similarity.ivfTopKDelta(realEmb, tbl, delta, cents)))
  }

  test("IVF compaction under CHURN: interleaved deltas and compactions " +
      "equal a fresh rebuild at every point") {
    // round-16 task 7: the single delta+compact equivalence above, now
    // under the lifecycle a live ingest runs — pending deltas accumulate
    // (two at once), a compaction folds them, more arrive, another
    // compaction — with the invariant pinned at EVERY step: search through
    // (current generation + pending deltas) == search through an index
    // freshly rebuilt over everything ingested so far
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(realEmb, 16)
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    def build(corpus: org.apache.spark.sql.DataFrame, tbl: String): String = {
      Similarity.buildIvfIndex(corpus, cents, tbl, buckets = 4,
        Some(s"$tmp/$tbl"))
      tbl
    }
    def delta(r: Int) = realEmb.filter(col("vec_id") % 7 === r % 7)
      .withColumn("vec_id", col("vec_id") + r * 1000000L)
    val none = realEmb.filter(col("vec_id") < 0)
    var corpus = realEmb.select(col("vec_id"), col("embedding"))
    var gen = build(corpus, "graft_churn_g0")
    var pending = none.select(col("vec_id"), col("embedding"))
    var step = 0
    def checkAgainstFresh(): Unit = {
      step += 1
      val fresh = build(corpus.unionByName(pending), s"graft_churn_fresh_$step")
      val got = rows(Similarity.ivfTopKDelta(realEmb, gen, pending, cents))
      val want = rows(Similarity.ivfTopKDelta(realEmb, fresh, none, cents))
      assert(got.nonEmpty && got == want,
        s"churn step $step: generation+pending diverged from fresh rebuild")
    }
    // ingest d1 -> probe; ingest d2 on top (two pending) -> probe
    pending = delta(1).select(col("vec_id"), col("embedding"))
    checkAgainstFresh()
    pending = pending.unionByName(delta(2).select(col("vec_id"), col("embedding")))
    checkAgainstFresh()
    // compact both, probe the new generation clean
    Similarity.compactIvfIndex(spark, gen, pending, cents, "graft_churn_g1",
      buckets = 4, Some(s"$tmp/graft_churn_g1"))
    corpus = corpus.unionByName(pending); pending = none.select(col("vec_id"), col("embedding"))
    gen = "graft_churn_g1"
    checkAgainstFresh()
    // third delta onto the compacted generation, then a second compaction
    pending = delta(3).select(col("vec_id"), col("embedding"))
    checkAgainstFresh()
    Similarity.compactIvfIndex(spark, gen, pending, cents, "graft_churn_g2",
      buckets = 4, Some(s"$tmp/graft_churn_g2"))
    corpus = corpus.unionByName(pending); pending = none.select(col("vec_id"), col("embedding"))
    gen = "graft_churn_g2"
    checkAgainstFresh()
  }

  test("assignTwoLevel: a coherent trained hierarchy routes better than " +
      "mismatched levels") {
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val pts = Tables.yhEmbeddings(spark, sf("0.001"))
    def agreePpm(df: org.apache.spark.sql.DataFrame): Long = {
      val n = df.count()
      df.agg(sum("agree")).head().getLong(0) * 1000000L / n
    }
    def fitK(k: Int) = KMeans.fitBounded(pts, k = k, dim = 64, tol = 0.01,
      lloydSteps = 5, fxScale = 1e6, weightScale = 1e6).centroids
    val fineTrained = fitK(16)
    val supersTrained = fitK(4)
    // measured landscape (recorded in assignTwoLevel's scaladoc): on THIS
    // near-uniform synthetic corpus every configuration lands at ~43-52%
    // — there is no cluster structure for ANY hierarchy to exploit, and
    // training neither level moves the needle beyond fixture noise
    // (arb+prefix 52.2%, arb+trained 43.2%, trained+trained 48.0%). That
    // IS the instrument's lesson: agreement is a property of the DATA's
    // cluster structure first and the router second — which is why the
    // operator publishes the per-corpus table instead of promising a
    // number. The spec pins the measured band and sane invariants, not a
    // winner the data cannot support.
    val arb = Similarity.fixedCentroids(realEmb, 16)
    val arbArb = agreePpm(Similarity.assignTwoLevel(realEmb, arb, nSuper = 4))
    val arbTrained = agreePpm(Similarity.assignTwoLevel(realEmb, arb, supersTrained))
    val coherent = agreePpm(Similarity.assignTwoLevel(realEmb, fineTrained,
      supersTrained))
    info(s"agreement ppm: arb+prefix $arbArb, arb+trained $arbTrained, " +
      s"trained+trained $coherent")
    for (a <- Seq(arbArb, arbTrained, coherent))
      assert(a > 300000L && a < 700000L,
        s"agreement left the unclustered-fixture band: $a")
  }

  test("assignTwoLevel + routed mapCells: a PLANTED hierarchical corpus " +
      "resolves the two-level decision — 100% agreement, routed knn graph " +
      "bit-identical to flat") {
    // the round-15 verdict's open adjudication: ~50% agreement on the sf
    // fixtures is a FIXTURE property (near-uniform data has no coarse
    // structure to route by) — untestable there. This corpus plants the
    // structure (4 super-clusters × 8 children, the reference's own
    // planted-clusters test philosophy, k-means.sql:3-4); measured round
    // 16 and PINNED (deterministic generator):
    //   true supers + true fines  -> 4000/4000 agreement (100%)
    //   prefix supers (arbitrary) -> 3969/4000 (99.2%)
    //   routed knnGraphBlocked    -> identical edge set to flat broadcast
    // RECORDED DECISION: the two-level lever is wired as the opt-in
    // `supers` param of mapCells/knnGraphBlocked — deploy it when
    // sim_cells_twolevel reads high on YOUR corpus (clustered data), keep
    // the flat broadcast otherwise (near-uniform data: ~50%, recall loss).
    val (supers, fines) = ScaleSmoke.plantedCenters(16, 4, 8)
    val emb = ScaleSmoke.plantedEmbeddings(spark, 4000, 16, 4, 8).cache()
    def agree(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("agree")).head().getLong(0)
    assert(agree(Similarity.assignTwoLevel(emb, fines, supers)) == 4000L,
      "true-hierarchy routing must be exact on planted clusters")
    assert(agree(Similarity.assignTwoLevel(emb, fines, 4)) == 3969L,
      "prefix-supers planted agreement moved off the pinned measurement")
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val flat = bits(Similarity.knnGraphBlocked(emb, fines, nProbe = 2,
      k = 4, broadcastAssign = true))
    val routed = bits(Similarity.knnGraphBlocked(emb, fines, nProbe = 2,
      k = 4, broadcastAssign = true, supers = supers))
    assert(flat.nonEmpty && routed == flat,
      "routed build diverged from flat on the planted corpus")
    emb.unpersist()
  }

  test("buildIvfIndexRouted: on a clustered corpus the routed build writes " +
      "the IDENTICAL index as the flat build, and probes need no change") {
    // the build-side two-level lever (SCALE.md r16: the 2M-vector flat
    // build is ~4e13 pure assignment mult-adds): on the planted corpus
    // routing agrees 100% with the flat argmin, so the cheap build must
    // be content-identical — pinned here, probe equality follows for free
    val (supers, fines) = ScaleSmoke.plantedCenters(16, 4, 8)
    val emb = ScaleSmoke.plantedEmbeddings(spark, 2000, 16, 4, 8).cache()
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    Similarity.buildIvfIndex(emb, fines, "graft_routed_flat", buckets = 4,
      Some(s"$tmp/graft_routed_flat"))
    Similarity.buildIvfIndexRouted(emb, fines, supers, "graft_routed_two",
      buckets = 4, Some(s"$tmp/graft_routed_two"))
    def rows(t: String) = spark.table(t)
      .select(col("cell"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = rows("graft_routed_flat")
    assert(flat.nonEmpty && rows("graft_routed_two") == flat,
      "routed index diverged from the flat build on clustered data")
    // and the probe through the routed table equals the flat probe
    def probe(t: String) = Similarity.ivfTopKIndexed(emb, t, fines,
        nQueries = 4).collect().map(_.toString).toSet
    assert(probe("graft_routed_two") == probe("graft_routed_flat"))
    emb.unpersist()
  }

  test("derivedMaxCellRows: deployment-adaptive cap is floored at the " +
      "default, bounded by the per-task FLOP budget, monotone in heap") {
    import Similarity.{defaultMaxCellRows, derivedMaxCellRows}
    // tiny heap -> the floor wins (oracle-scale behavior unchanged)
    assert(derivedMaxCellRows(dim = 64, heapBytes = 256L << 20, cores = 32)
      == defaultMaxCellRows)
    // big heap at dim 64 -> the time constraint binds: sqrt(6e10/64)
    val t64 = derivedMaxCellRows(dim = 64, heapBytes = 64L << 30, cores = 32)
    assert(t64 == math.sqrt(6e10 / 64).toLong.toInt, s"got $t64")
    // smaller dim -> cheaper pairs -> higher cap
    assert(derivedMaxCellRows(dim = 16, heapBytes = 64L << 30, cores = 32)
      > t64)
    // monotone in heap below the time bound
    val small = derivedMaxCellRows(dim = 64, heapBytes = 2L << 30, cores = 32)
    val big = derivedMaxCellRows(dim = 64, heapBytes = 8L << 30, cores = 32)
    assert(small >= defaultMaxCellRows && big >= small)
    // every derived cap is at least the floor (published hashes safe:
    // sf-scale cells never reach even the floor)
    for (d <- Seq(8, 64, 512, 4096); h <- Seq(1L << 30, 32L << 30))
      assert(derivedMaxCellRows(d, h, 32) >= defaultMaxCellRows)
  }

  test("buildIvfIndexAuto: the routed-or-flat chooser routes the planted " +
      "clustered corpus (content-identical index) and falls back to flat " +
      "on the near-uniform fixture") {
    // r16 verdict task 2: the 160x routed-build win deployed only by a
    // human reading sim_cells_twolevel — this is its decision consumer.
    // Threshold 99.0% (routeDecision scaladoc): planted corpora measure
    // 100% sampled agreement, near-uniform ones ~33% — the chooser must
    // separate the two ends without a human in the loop.
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val (supers, fines) = ScaleSmoke.plantedCenters(16, 4, 8)
    val planted = ScaleSmoke.plantedEmbeddings(spark, 2000, 16, 4, 8).cache()
    val dPlanted = Similarity.routeDecision(planted, fines, supers).head()
    assert(dPlanted.getLong(dPlanted.fieldIndex("agree_ppm")) == 1000000L,
      "planted sampled agreement moved off 100%")
    val routed = Similarity.buildIvfIndexAuto(planted, fines, supers,
      "graft_auto_planted", buckets = 4, Some(s"$tmp/graft_auto_planted"))
    assert(routed, "chooser must route the planted clustered corpus")
    Similarity.buildIvfIndex(planted, fines, "graft_auto_planted_flat",
      buckets = 4, Some(s"$tmp/graft_auto_planted_flat"))
    def rows(t: String) = spark.table(t)
      .select(col("cell"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = rows("graft_auto_planted_flat")
    assert(flat.nonEmpty && rows("graft_auto_planted") == flat,
      "auto-routed index diverged from the flat build on clustered data")
    planted.unpersist()
    // near-uniform corpus: sampled agreement sits in the ~33-50% band,
    // far under the bar — the chooser keeps the exact flat build
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val arb = Similarity.fixedCentroids(realEmb, 16)
    val arbSupers = arb.take(4)
    val dReal = Similarity.routeDecision(realEmb, arb, arbSupers).head()
    assert(dReal.getLong(dReal.fieldIndex("agree_ppm")) < 990000L,
      "near-uniform fixture unexpectedly cleared the routing bar")
    val routedReal = Similarity.buildIvfIndexAuto(realEmb, arb, arbSupers,
      "graft_auto_real", buckets = 4, Some(s"$tmp/graft_auto_real"))
    assert(!routedReal, "chooser must fall back to flat on near-uniform data")
    Similarity.buildIvfIndex(realEmb, arb, "graft_auto_real_flat",
      buckets = 4, Some(s"$tmp/graft_auto_real_flat"))
    assert(rows("graft_auto_real") == rows("graft_auto_real_flat"))
  }

  test("degenerate supers: bit-identical twins collapse pick-preservingly " +
      "and a no-child trained super falls back to flat instead of crashing") {
    // r17 advice (medium): ensureIvfIndex takes supers from raw corpus
    // vectors, so two bit-identical rows among the first ceil(sqrt(nCells))
    // previously crashed superChildren's require — on dupe-heavy corpora,
    // this framework's stated target workload. The fix collapses duplicate
    // coordinates to the min-id twin, which can never change a pick: the
    // higher-id twin's distances are bit-identical and it loses every
    // (d, sid) tie.
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val (supers0, fines) = ScaleSmoke.plantedCenters(16, 4, 8)
    val dupSupers = supers0 :+ KMeans.Centroid(
      supers0.map(_.j).max + 100L, supers0.head.c)
    val rp = Similarity.routedPicker(fines, supers0)
    val rpDup = Similarity.routedPicker(fines, dupSupers)
    // pick equality on a deterministic probe grid, take=1 (the argmin fast
    // path) and take=3 (the sort path) — also pins the r17-advice take==1
    // specialization against the general sort's (d, cid) tie order
    val probes = fines.map(_.c.toArray) ++
      fines.take(8).map(_.c.toArray.map(_ + 0.37))
    probes.foreach { v =>
      assert(rpDup.pick(v, 1).toSeq == rp.pick(v, 1).toSeq)
      assert(rpDup.pick(v, 3).toSeq == rp.pick(v, 3).toSeq)
    }
    // the production-shaped path end to end: the chooser must not throw on
    // duplicated supers and must write the content-identical index
    val planted = ScaleSmoke.plantedEmbeddings(spark, 1000, 16, 4, 8).cache()
    val routedDup = Similarity.buildIvfIndexAuto(planted, fines, dupSupers,
      "graft_auto_dup", buckets = 4, Some(s"$tmp/graft_auto_dup"))
    assert(routedDup, "dup-super corpus must still route (picks unchanged)")
    Similarity.buildIvfIndex(planted, fines, "graft_auto_dup_flat",
      buckets = 4, Some(s"$tmp/graft_auto_dup_flat"))
    def rows(t: String) = spark.table(t)
      .select(col("cell"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("graft_auto_dup").nonEmpty &&
      rows("graft_auto_dup") == rows("graft_auto_dup_flat"))
    // a TRAINED super that attracts no fine centroid (not a duplicate —
    // just far from every child): buildIvfIndexAuto must fall back to the
    // flat build (routed = false), never crash
    val farSupers = supers0 :+ KMeans.Centroid(
      supers0.map(_.j).max + 200L, Seq.fill(16)(1e9))
    val routedFar = Similarity.buildIvfIndexAuto(planted, fines, farSupers,
      "graft_auto_far", buckets = 4, Some(s"$tmp/graft_auto_far"))
    assert(!routedFar, "no-child super set must fall back to flat")
    assert(rows("graft_auto_far") == rows("graft_auto_dup_flat"))
    planted.unpersist()
  }

  test("rebalanceDecision/cellsRebalanced: a misaligned quantizer trips " +
      "the load bound and the re-fit restores it") {
    // all 8 cells drawn from ONE super's region -> 3/4 of the corpus
    // funnels through the boundary cells (max load 6.25x even share);
    // the decision row and the post-refit row are pinned (deterministic)
    val emb = ScaleSmoke.plantedEmbeddings(spark, 4000, 16, 4, 8).cache()
    val mis = Similarity.fixedCentroids(emb.filter(col("label") < 8), 32)
    assert(mis.size == 8)
    def dec(cs: Seq[KMeans.Centroid]) = {
      val r = Similarity.rebalanceDecision(emb, cs).head()
      (r.getLong(0), r.getLong(3), r.getLong(4)) // (max_load, bound, refit)
    }
    assert(dec(mis) == ((625L, 300L, 1L)), "misaligned cells must trip")
    val reb = Similarity.cellsRebalanced(emb, mis)
    assert(reb != mis && reb.size == mis.size)
    assert(dec(reb) == ((200L, 300L, 0L)),
      "re-fit quantizer must come back under the documented bound")
    // aligned cells never trigger: acting is idempotent
    val (_, fines) = ScaleSmoke.plantedCenters(16, 4, 8)
    assert(Similarity.cellsRebalanced(emb, fines) == fines)
    emb.unpersist()
  }

  test("assignTwoLevel: exact when every centroid is its own super; " +
      "agreement flag is honest otherwise") {
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(realEmb, 8)
    // nSuper = nCells: the router degenerates to the flat argmin — every
    // vector must agree with itself
    val full = Similarity.assignTwoLevel(realEmb, cents, nSuper = 8)
    assert(full.filter(col("agree") === 0L).count() == 0)
    assert(full.filter(col("cell_flat") =!= col("cell_two")).count() == 0)
    // a real hierarchy: one row per vector, agree == (flat == two) per row,
    // and the two-level pick always lands inside the picked super's family
    val two = Similarity.assignTwoLevel(realEmb, cents, nSuper = 2)
    assert(two.count() == realEmb.count())
    assert(two.filter((col("cell_flat") === col("cell_two")) =!=
      (col("agree") === 1L)).count() == 0)
  }

  test("ivfPqTopK: lossless when probes cover all cells; subset ADC parity otherwise") {
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(realEmb, 4)
    val cb = Similarity.pqCodebook(realEmb)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exhaustive = Similarity.pqAdcTopK(realEmb, cb)
      .collect().map(r => key(r) -> (r.getLong(2), r.getLong(3))).toMap
    // nProbe = nCells -> every cell probed -> identical to the code scan
    val full = Similarity.ivfPqTopK(realEmb, cents, cb, nProbe = 4)
      .collect().map(r => key(r) -> (r.getLong(2), r.getLong(3))).toMap
    assert(full == exhaustive)
    // restricted probes: every surviving pair keeps the exact ADC value
    val probed = Similarity.ivfPqTopK(realEmb, cents, cb, nProbe = 2)
      .collect().map(r => key(r) -> r.getLong(3)).toMap
    assert(probed.nonEmpty)
    probed.foreach { case (k, adc) =>
      assert(exhaustive.get(k).forall(_._2 == adc)) }
  }

  test("graphRank: regular components hold the fixed point; isolates keep the base") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    // the 8-vector fixture's mutual 2-NN graph is two triangles + one pair —
    // every component is REGULAR (deg 2 or deg 1 throughout), and on a
    // d-regular component the update is exactly rank-preserving:
    // 150000 + d·(1e6·85) div (100·d) = 1e6 each iteration
    val got = Similarity.graphRank(emb, cents, nProbe = 1, k = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.values.forall(_._2 == 1000000L), s"regular fixed point broken: $got")
    assert(Seq(0L, 2L, 3L, 1L, 4L, 5L).forall(got(_)._1 == 2L))
    assert(got(6L)._1 == 1L && got(7L)._1 == 1L)
    // real fixture: one row per vector, isolates pinned at the 0.15 base,
    // every rank at least the base
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val real = Similarity.graphRank(realEmb, Similarity.fixedCentroids(realEmb, 16))
      .as[(Long, Long, Long)].collect()
    assert(real.length == 500)
    assert(real.filter(_._2 == 0L).forall(_._3 == 150000L))
    assert(real.forall(_._3 >= 150000L))
    // asymmetric degrees must separate ranks (the signal is non-trivial)
    assert(real.map(_._3).distinct.length > 2)
  }

  test("hardNegatives: cross-label only, ranked by cosine, bounded by k") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    val labeled = Seq(
      (0L, Array(1.00f, 0.01f, 0.00f), 10), (2L, Array(0.99f, 0.02f, 0.00f), 20),
      (3L, Array(0.98f, 0.00f, 0.01f), 10), (6L, Array(0.00f, 0.01f, 0.99f), 30),
      (7L, Array(0.02f, 0.00f, 0.98f), 30)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(labeled, cents, nProbe = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(4)) -> (r.getLong(2), r.getLong(1), r.getLong(3)))
      .toMap
    // cell 1 holds {0(A), 2(B), 3(A)}: anchors 0 and 3 mine 2; anchor 2
    // mines 0 first (closer) then 3. Cell 3 is single-label: nothing mined.
    assert(got == Map(
      (0L, 1L) -> (2L, 10L, 20L),
      (3L, 1L) -> (2L, 10L, 20L),
      (2L, 1L) -> (0L, 20L, 10L),
      (2L, 2L) -> (3L, 20L, 10L)))
    // real fixture: labels always differ, ranks within k
    val realEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val real = Similarity.hardNegatives(realEmb,
      Similarity.fixedCentroids(realEmb, 16))
    assert(real.filter(col("label_a") === col("label_n")).count() == 0)
    assert(real.filter(col("rnk") > 3).count() == 0 && real.count() > 0)
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val got = Similarity.bruteForceTopK(emb, nQueries = 1, k = 3)
      .orderBy("rnk").select("n_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 7L), s"got $got") // same-cluster first
  }

  test("IVF with cluster-aligned centroids reproduces brute-force exactly") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    val ivf = Similarity.ivfTopK(emb, cents, nQueries = 2, nProbe = 3, k = 3)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, nQueries = 2, k = 3)
      .select("q_id", "n_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(ivf == bf) // nProbe = nCells -> identical to exact search
  }

  test("annRecall: exact-vs-self is 1.0; disjoint is 0; partial counts hits") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    val bf = Similarity.bruteForceTopK(emb, nQueries = 2, k = 3)
    // self-recall: identical rankings → ppm exactly 1e6 for every query
    val self = Similarity.annRecall(bf, bf)
      .as[(Long, Long, Long, Long)].collect()
    assert(self.length == 2 && self.forall(r => r._4 == 1000000L && r._2 == r._3))
    // nProbe = nCells IVF ≡ brute force → also exactly 1e6
    val ivf = Similarity.ivfTopK(emb, cents, nQueries = 2, nProbe = 3, k = 3)
    assert(Similarity.annRecall(bf, ivf)
      .as[(Long, Long, Long, Long)].collect().forall(_._4 == 1000000L))
    // an empty approximate side scores 0 hits, never drops the query row
    val none = Similarity.annRecall(bf, bf.filter(col("q_id") < 0))
      .as[(Long, Long, Long, Long)].collect()
    assert(none.length == 2 && none.forall(r => r._2 == 0L && r._4 == 0L))
  }

  test("mrr: self is 10⁶ at rank 1; a shifted relevant doc reciprocates " +
      "its rank; a missing one scores 0 without dropping the query row") {
    val bf = Similarity.bruteForceTopK(emb, nQueries = 2, k = 3)
    // identical rankings: the true nearest sits at rank 1 → rr = 1e6
    val self = Similarity.mrr(bf, bf)
      .as[(Long, Long, Option[Long], Long)].collect()
    assert(self.length == 2 &&
      self.forall(r => r._3.contains(1L) && r._4 == 1000000L))
    // shift every rank by +1 (drop the rank-1 rows, re-label rank r as
    // r-1... simpler: relabel rnk -> rnk + 1 keeps the relevant at rank 2)
    val shifted = bf.withColumn("rnk", col("rnk") + 1)
    val s = Similarity.mrr(bf, shifted)
      .as[(Long, Long, Option[Long], Long)].collect()
    assert(s.forall(r => r._3.contains(2L) && r._4 == 500000L))
    // an approximate list that never contains the relevant doc → rr 0
    val none = Similarity.mrr(bf, bf.filter(col("rnk") =!= 1))
      .as[(Long, Long, Option[Long], Long)].collect()
    assert(none.length == 2 && none.forall(r => r._3.isEmpty && r._4 == 0L))
  }

  test("matryoshkaRecall: the full-width row is exactly 10⁶; a prefix that " +
      "hides the discriminating dims scores lower; all ppm within range") {
    // dim 1 is IDENTICAL noise for everyone — a 1-dim prefix ranking is
    // pure tie-break-by-id; dims 2-3 carry the real structure
    val e2 = Seq(
      (0L, Array(0.5f, 1.00f, 0.00f)), (1L, Array(0.5f, 0.00f, 1.00f)),
      (2L, Array(0.5f, 0.99f, 0.01f)), (3L, Array(0.5f, 0.01f, 0.99f)),
      (4L, Array(0.5f, 0.98f, 0.02f)), (5L, Array(0.5f, 0.02f, 0.98f)),
      (6L, Array(0.5f, 0.97f, 0.03f)), (7L, Array(0.5f, 0.03f, 0.97f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRecall(e2, dims = Seq(1, 3),
        nQueries = 2, k = 3)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(3L)._4 == 1000000L, s"full-width row must be exact: $got")
    assert(got(1L)._4 < 1000000L,
      s"the constant-dim prefix cannot reproduce the full ranking: $got")
    got.values.foreach { case (_, nh, ke, ppm) =>
      assert(nh >= 0 && nh <= ke && ppm >= 0 && ppm <= 1000000L)
    }
    // partitioning invariance — the persisted ranked relation feeds both
    // join sides; neither may depend on physical layout
    val a = Similarity.matryoshkaRecall(e2.repartition(5), dims = Seq(1, 3),
      nQueries = 2, k = 3).collect().map(_.toSeq).toSet
    assert(a == got.values.map(t => Seq[Any](t._1, t._2, t._3, t._4)).toSet)
  }

  test("binaryTopK: an unbounded shortlist reproduces brute force exactly; " +
      "an exact copy sits at Hamming 0 and rank 1") {
    // 64-dim vectors required by the two-word pack — use the real fixture
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    // rerank-everything degenerates to the exact cosine ranking: the
    // Hamming stage only SHORTLISTS, so with rerankN >= corpus the binary
    // codes must change nothing
    val all = Similarity.binaryTopK(embr, nQueries = 2, k = 5, rerankN = 10000)
      .select("q_id", "n_id", "rnk", "cos_e6")
      .as[(Long, Long, Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(embr, nQueries = 2, k = 5)
      .select("q_id", "n_id", "rnk", "cos_e6")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(all == bf, "unbounded-shortlist binary search must equal brute force")
    // plant an exact copy of query 0: Hamming 0, cosine 1, rank 1
    val q0 = embr.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    val planted = embr.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((99999L, q0)).toDF("vec_id", "embedding"))
    val top = Similarity.binaryTopK(planted, nQueries = 1, k = 3, rerankN = 10)
      .filter(col("n_id") === 99999L).head()
    assert(top.getLong(2) == 1L && top.getLong(3) == 0L &&
      top.getLong(4) == 1000000L,
      s"exact copy must be (rank 1, hamming 0, cos 1): $top")
  }

  test("ivfBinaryTopK: probing every cell reproduces the unblocked binary " +
      "search exactly; fewer probes only lose candidates") {
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(embr, 16)
    val full = Similarity.ivfBinaryTopK(embr, cents, nProbe = 16)
      .collect().map(_.toSeq).toSet
    val flat = Similarity.binaryTopK(embr).collect().map(_.toSeq).toSet
    assert(full == flat,
      "nProbe = nCells must equal the unblocked binary search")
    // blocked candidates are a subset: every (q, n) the 2-probe search
    // returns must appear somewhere in the full Hamming candidate space
    val two = Similarity.ivfBinaryTopK(embr, cents, nProbe = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(two.nonEmpty && two.groupBy(_._1).forall(_._2.length <= 10))
  }

  test("binaryTopKIndexed probes identically to the on-the-fly pack") {
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val direct = Similarity.binaryTopK(embr).collect().map(_.toSeq).toSet
    // the index layout's one source of truth — the same builder
    // ensureBinaryIndex materializes
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    graft.sources.Sinks.writeBucketed(Similarity.binaryCodes(embr),
      "spec_bin_idx", 4, Seq("vec_id"), Some(s"$tmp/spec_bin_idx"))
    try {
      val indexed = Similarity.binaryTopKIndexed(embr, "spec_bin_idx")
        .collect().map(_.toSeq).toSet
      assert(indexed == direct)
    } finally spark.sql("DROP TABLE IF EXISTS spec_bin_idx")
  }

  test("ivfRecallCurve: recall is nondecreasing in probe count and reaches " +
      "exactly 10⁶ when every cell is probed") {
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(embr, 16)
    val got = Similarity.ivfRecallCurve(embr, cents, nQueries = 3,
        probeLevels = Seq(1, 2, 4, 16), k = 5)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L, 16L))
    // denominated on the exact side: k_exact is always nQueries·k
    assert(got.forall(_._4 == 15L))
    // more probes can only ADD candidates → cost AND recall monotone
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted &&
      got.head._2 < got.last._2, s"candidate cost must grow: $got")
    assert(got.map(_._5).toSeq == got.map(_._5).toSeq.sorted,
      s"recall must be nondecreasing: $got")
    // probing all 16 cells IS brute force → exactly 1e6, at full cost
    assert(got.last._5 == 1000000L, s"full probe must be exact: $got")
  }

  test("IVF over REAL fitted centroids reaches recall >= 0.9 vs brute force") {
    // the sim_ivf_fitted composition — coarse cells from an actual
    // k-means|| + Lloyd fit — on a PLANTED clustered corpus. (The synthetic
    // embeddings table is noise-dominated: its cosine top-10 neighbors are
    // label-uniform, so no blocking scheme beats recall ≈ nProbe/nCells
    // there. ANN recall is a property of data structure; the pin uses data
    // that HAS structure, like any ANN benchmark corpus.)
    val rnd = new scala.util.Random(3)
    def unit(dim: Int): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(16))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 10)
      val noisy = c.map(x => x + 0.15 * rnd.nextGaussian())
      val n = math.sqrt(noisy.map(x => x * x).sum)
      (i.toLong, noisy.map(x => (x / n).toFloat))
    }
    val planted = rows.toDF("vec_id", "embedding")
    val embN = Similarity.normalize(planted)
    val pts = embN.select(col("vec_id").as("i"), col("embedding").as("Y")).cache()
    // the BOUNDED oracle-replayable fit sim_ivf_fitted actually ships
    // (KMeans.fitBounded: exact ++ seeding + <=3 movement-gated Lloyd steps)
    val cents = KMeans.fitBounded(pts, k = 10, dim = 16, tol = 0.01,
      lloydSteps = 3, fxScale = 1e6, weightScale = 1e6).centroids
    val bf = Similarity.bruteForceTopK(planted, nQueries = 5, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(embN, cents, nQueries = 5, nProbe = 3, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"recall $recall (|bf|=${bf.size}, hit=${(bf & ivf).size})")
    // the free k-means|| fit remains at least as good on the same corpus —
    // the bounded form trades nothing essential for replayability here
    val centsFree = KMeans.fitAuto(pts, k = 10, dim = 16,
      parallelSeed = true, seed = 42).centroids
    val ivfFree = Similarity.ivfTopK(embN, centsFree, nQueries = 5,
      nProbe = 3, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert((bf & ivfFree).size.toDouble / bf.size >= 0.9)
  }

  test("persisted IVF index probes identically to on-the-fly cells, no index-side Exchange") {
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(emb, 16)
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    Similarity.buildIvfIndex(emb, cents, "spec_ivf_idx", buckets = 4,
      Some(s"$tmp/spec_ivf_idx"))
    try {
      val direct = Similarity.ivfTopK(emb, cents)
        .as[(Long, Long, Long, Long)].collect().toSet
      val indexed = Similarity.ivfTopKIndexed(emb, "spec_ivf_idx", cents)
      assert(indexed.as[(Long, Long, Long, Long)].collect().toSet == direct)
      // probe-time plan: the index side is scanned pre-bucketed — no
      // Exchange may feed the candidate join from the table side
      val plan = indexed.queryExecution.executedPlan.toString
      val joinPart = plan.split("\n").dropWhile(!_.contains("Join")).mkString("\n")
      assert(!joinPart.contains("Exchange hashpartitioning(cell"),
        s"index side must not re-shuffle on cell:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS spec_ivf_idx")
  }

  test("the persisted IVF index carries the cells it was built over; a rewritten fixture " +
      "gets new cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toFile
    val src = Tables.read(spark, sf("0.001"), "embeddings")
    src.write.parquet(s"$dir/embeddings.parquet")
    def cellsOf(d: String) = {
      val emb = Tables.read(spark, d, "embeddings")
      Similarity.fixedCentroids(emb, Similarity.autoCells(emb.count()))
    }
    val built = SparkEntry.ensureIvfIndex(spark, dir.toString)
    try {
      assert(built.cells == cellsOf(dir.toString))
      // the probe reads the build's cells
      val emb = Tables.read(spark, dir.toString, "embeddings")
      assert(SparkEntry.queries("sim_ivf_indexed")(spark, dir.toString).collect().toSet ==
        Similarity.ivfTopKIndexed(emb, built.table, built.cells).collect().toSet)
      // rewrite the fixture in place: the first vectors flip sign
      src.withColumn("embedding", when(col("vec_id") < 16, transform(col("embedding"), x => -x))
        .otherwise(col("embedding"))).write.parquet(s"$dir/next.parquet")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/embeddings.parquet"))
      assert(new java.io.File(s"$dir/next.parquet").renameTo(new java.io.File(s"$dir/embeddings.parquet")))
      val rebuilt = SparkEntry.ensureIvfIndex(spark, dir.toString)
      try {
        assert(rebuilt.cells == cellsOf(dir.toString))
        assert(rebuilt.cells != built.cells)
      } finally spark.sql(s"DROP TABLE IF EXISTS ${rebuilt.table}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${built.table}")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("persisted IVF-PQ index probes identically to on-the-fly codes, no index-side Exchange") {
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(emb, 16)
    val cb = Similarity.pqCodebook(emb)
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    Similarity.buildIvfPqIndex(emb, cents, cb, "spec_ivfpq_idx", buckets = 4,
      Some(s"$tmp/spec_ivfpq_idx"))
    try {
      val direct = Similarity.ivfPqTopK(emb, cents, cb)
        .as[(Long, Long, Long, Long)].collect().toSet
      val indexed = Similarity.ivfPqTopKIndexed(emb, "spec_ivfpq_idx", cents, cb)
      assert(indexed.as[(Long, Long, Long, Long)].collect().toSet == direct)
      // probe-time plan: the index side is scanned pre-bucketed — no
      // Exchange may feed the candidate join from the table side
      val plan = indexed.queryExecution.executedPlan.toString
      val joinPart = plan.split("\n").dropWhile(!_.contains("Join")).mkString("\n")
      assert(!joinPart.contains("Exchange hashpartitioning(cell"),
        s"index side must not re-shuffle on cell:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS spec_ivfpq_idx")
  }

  test("persisted IVF-SQ8 index probes identically to on-the-fly codes, no index-side Exchange") {
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(emb, 16)
    val (mn, mx) = Similarity.sq8Bounds(emb)
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    Similarity.buildIvfSq8Index(emb, cents, mn, mx, "spec_ivfsq8_idx",
      buckets = 4, Some(s"$tmp/spec_ivfsq8_idx"))
    try {
      val direct = Similarity.ivfSq8TopK(emb, cents)
        .as[(Long, Long, Long, Long)].collect().toSet
      val indexed = Similarity.ivfSq8TopKIndexed(emb, "spec_ivfsq8_idx",
        cents, mn, mx)
      assert(indexed.as[(Long, Long, Long, Long)].collect().toSet == direct)
      val plan = indexed.queryExecution.executedPlan.toString
      val joinPart = plan.split("\n").dropWhile(!_.contains("Join")).mkString("\n")
      assert(!joinPart.contains("Exchange hashpartitioning(cell"),
        s"index side must not re-shuffle on cell:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS spec_ivfsq8_idx")
  }

  test("ivfRange: threshold membership equals top-k candidates above the cut") {
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(embr, 16)
    val thr = 250000L
    val range = Similarity.ivfRange(embr, cents, minCosE6 = thr).collect()
    assert(range.nonEmpty)
    assert(range.forall(_.getLong(2) >= thr), "a row below the threshold leaked")
    // an unbounded top-k over the same probed cells, cut at the same
    // threshold, must contain exactly the same (q, n) pairs
    val topk = Similarity.ivfTopK(embr, cents, k = Int.MaxValue)
      .filter(col("cos_e6") >= thr)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rset = range.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rset == topk, s"range=${rset.size} topk=${topk.size}")
  }

  test("IVF probes restrict candidates to the nearest cells") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    // query 0 (x-cluster) with nProbe=1 must only return x-cluster members
    val got = Similarity.ivfTopK(emb, cents, nQueries = 1, nProbe = 1, k = 5)
      .select("n_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), s"got $got")
  }

  test("IVF recall vs brute force on real embeddings (sanity, not exactness)") {
    val real = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(real, 16)
    val ivf = Similarity.ivfTopK(real, cents, nQueries = 3, nProbe = 8, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(real, nQueries = 3, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    assert(recall >= 0.3, s"recall $recall") // random cells: probing half the space
  }

  test("LSH sign buckets: reported cosines match brute force; recall nontrivial") {
    val real = Tables.read(spark, sf("0.001"), "embeddings")
    val lsh = Similarity.lshTopK(real, nQueries = 3, k = 10)
      .select("q_id", "n_id", "cos_e6").as[(Long, Long, Long)].collect()
    assert(lsh.nonEmpty)
    // every reported cosine is the true cosine (re-rank is exact): check
    // against the brute-force scores for the pairs both returned
    val bf = Similarity.bruteForceTopK(real, nQueries = 3, k = 500)
      .select("q_id", "n_id", "cos_e6").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    lsh.foreach { case (q, n, c) =>
      bf.get((q, n)).foreach(truth => assert(truth == c, s"pair ($q,$n)")) }
    // per-query results are rank-consecutive from 1
    val ranks = Similarity.lshTopK(real, nQueries = 3, k = 10)
      .groupBy("q_id").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
      .as[(Long, Long, Long)].collect()
    ranks.foreach { case (_, n, mx) => assert(n == mx) }
  }

  test("LSH sign vectors are ±1 and deterministic") {
    val s1 = Similarity.lshSigns(32, 64)
    val s2 = Similarity.lshSigns(32, 64)
    assert(s1 == s2)
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    // not degenerate: both signs appear in every plane
    s1.foreach(p => assert(p.contains(1.0) && p.contains(-1.0)))
  }

  test("PQ: seed vectors encode to themselves; codes in range; packed radix word") {
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cb = Similarity.pqCodebook(emb)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(emb, cb)
    val m = 8
    val cCols = (0 until m).map(s => col(s"c$s"))
    // every code within [0, 16)
    assert(codes.filter(cCols.map(c => c < 0 || c >= 16).reduce(_ || _)).count() == 0)
    // packed is exactly the radix-16 combination of the codes
    val factors = Seq.iterate(1L, m)(_ * 16L)
    assert(codes.filter(col("packed") =!=
      (0 until m).map(s => col(s"c$s") * factors(s)).reduce(_ + _)).count() == 0)
    // a seed vector's subvectors are distance-0 to their own sub-centroids,
    // so seed t encodes to code t in EVERY subspace (lossless on seeds)
    assert(codes.filter(col("vec_id") < 16)
      .filter(cCols.map(c => c =!= col("vec_id")).reduce(_ || _)).count() == 0)
  }

  test("ADC lookup-table form is value-identical to the inline sqdist scan") {
    import graft.functions.VectorOps.sqDist
    import org.apache.spark.sql.expressions.Window
    // the executable spec: the pre-LUT inline expression, subspace sqdist
    // against the coded sub-centroid summed left-to-right — the LUT must
    // reproduce every adc_e6 bit-for-bit
    val embr = Tables.read(spark, sf("0.001"), "embeddings")
    val cb = Similarity.pqCodebook(embr)
    val (m, sub) = (cb.length, cb.head.head.length)
    val codes = Similarity.pqEncode(embr, cb)
    val q = embr.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val adcInline = (0 until m).map { s =>
      sqDist(slice(col("qv"), s * sub + 1, sub),
        element_at(typedlit(cb(s)), (col(s"c$s") + 1).cast("int")))
    }.reduce(_ + _)
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    val spec = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), adcInline.as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("adc") * 1e6).cast("long").as("adc_e6"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val lut = Similarity.pqAdcTopK(embr, cb)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(lut == spec, "LUT and inline ADC diverge")
  }

  test("PQ ADC: exact on losslessly-coded seeds; recall floor vs exact L2") {
    import graft.functions.VectorOps.sqDist
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cb = Similarity.pqCodebook(emb)
    val adc = Similarity.pqAdcTopK(emb, cb)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("d"), col("n_id"))
    val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), sqDist(col("qv"), col("v")).as("d"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 10)
    // seeds quantize losslessly, so ADC(q, seed) = the true squared distance:
    // every (q < 5, neighbor in 5..15) ADC value must equal the exact one
    // (kNbrs = all so the seed neighbors survive the top-k cut)
    val adcSeed = Similarity.pqAdcTopK(emb, cb, kNbrs = 1000)
      .filter(col("n_id") >= 5 && col("n_id") < 16)
      .select(col("q_id"), col("n_id"), col("adc_e6"))
    val exSeed = e.crossJoin(broadcast(q))
      .filter(col("vec_id") >= 5 && col("vec_id") < 16 && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(sqDist(col("qv"), col("v")) * 1e6).cast("long").as("ex_e6"))
    val joined = adcSeed.join(exSeed, Seq("q_id", "n_id"))
    assert(joined.count() > 0)
    assert(joined.filter(col("adc_e6") =!= col("ex_e6")).count() == 0)
    // aggregate recall@10 floor vs exact L2 (measured 17/50; pin well below)
    val a = adc.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val x = exact.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert((a & x).size >= 12, s"recall ${(a & x).size}/50 too low")
  }

  test("PQ re-rank: exhaustive shortlist reproduces brute force exactly; 50-shortlist recall beats raw ADC") {
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cb = Similarity.pqCodebook(emb)
    // shortlist >= corpus: every candidate is re-ranked by exact cosine, so
    // the result must EQUAL brute force bit-for-bit (rnk and cos_e6 included)
    val full = Similarity.pqRerankTopK(emb, cb, nQueries = 5, shortlist = 1000, kNbrs = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, nQueries = 5, k = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(full == bf, "exhaustive-shortlist re-rank must equal brute force")
    // production shape (shortlist 50 of 500): exact re-rank over ADC
    // nominations — recall@10 vs exact cosine must beat the raw ADC ordering
    // trusted blind (ADC approximates L2, re-rank restores the cosine order)
    val rr = Similarity.pqRerankTopK(emb, cb)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val adcTop = Similarity.pqAdcTopK(emb, cb)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val bfPairs = bf.map(r => (r._1, r._2))
    val rrRecall = (rr & bfPairs).size
    val adcRecall = (adcTop & bfPairs).size
    assert(rrRecall >= adcRecall,
      s"re-rank recall $rrRecall/50 below raw ADC $adcRecall/50")
    assert(rrRecall >= 15, s"re-rank recall $rrRecall/50 too low")
  }

  test("trained PQ codebook beats the seed codebook on quantization error") {
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val seedErr = Similarity.pqError(emb, Similarity.pqCodebook(emb))
    val fitted = Similarity.pqCodebookFitted(emb)
    assert(fitted.length == 8 && fitted.forall(_.length == 16) &&
      fitted.forall(_.forall(_.length == 8)))
    val fitErr = Similarity.pqError(emb, fitted)
    assert(fitErr < seedErr,
      s"trained codebook should cut error: fitted=$fitErr seed=$seedErr")
    // codes stay in range under the trained codebook too
    val codes = Similarity.pqEncode(emb, fitted)
    assert(codes.filter((0 until 8).map(s => col(s"c$s") < 0 || col(s"c$s") >= 16)
      .reduce(_ || _)).count() == 0)
    // the oracle-replayable fixed-iteration form (the published
    // emb_pq_fitted path) beats the seed codebook too — Lloyd steps cut
    // quantization error monotonically
    val fitted2 = Similarity.pqCodebookFitted2(emb)
    assert(fitted2.length == 8 && fitted2.forall(_.length == 16))
    val fit2Err = Similarity.pqError(emb, fitted2)
    assert(fit2Err < seedErr,
      s"2-step codebook should cut error: fitted2=$fit2Err seed=$seedErr")
  }

  test("mmrSelect: the second pick prefers an equally-relevant diverse " +
      "vector over a near-duplicate of the first") {
    import spark.implicits._
    // 3-D: A and B are near-duplicates (same off-query direction); C is
    // EQUALLY relevant but diverse (orthogonal off-query direction). Pure
    // top-2 by relevance = {A, B}; MMR's second pick must be C, because
    // cos(A,B) ~ 1 while cos(A,C) ~ 0.81 at the same relevance.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.0f, 0.436f), 0), // A: rel .9
      (2L, Seq(0.9f, 0.01f, 0.435f), 0), // B: near-dup of A, rel ~ .9
      (3L, Seq(0.9f, 0.436f, 0.0f), 0), // C: rel .9, diverse
      (4L, Seq(-1.0f, 0.0f, 0.0f), 0)) // anti-correlated noise
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrSelect(emb, queryId = 0L, poolSize = 4, k = 3)
      .orderBy("rnk").as[(Long, Long, Long, Long)].collect()
    // rank 1 = whichever near-dup edges ahead on relevance; rank 2 must be
    // the diverse C, NOT the other near-dup (which pure relevance picks);
    // the deferred near-dup lands third
    assert(got(1)._2 == 3L,
      s"rank 2 must prefer the diverse C over the near-dup: ${got.toSeq}")
    assert(Set(got(0)._2, got(2)._2) == Set(1L, 2L), s"${got.toSeq}")
    // scores are non-increasing only for the relevance-only first pick;
    // every later score carries the diversity penalty: score <= rel
    got.drop(1).foreach(r => assert(r._4 <= r._3))
  }

  test("trianglesFromEdges: K4 + pendant — exact counts, coefficients, " +
      "and each triangle counted once") {
    import spark.implicits._
    // K4 on {1,2,3,4} (a<b canonical) plus pendant edge 4-5
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    val got = Similarity.trianglesFromEdges(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // K4: 4 triangles total, each node in 3 of them; nodes 1-3 have deg 3
    // (coeff 3/(3·2/2) = 1.0), node 4 deg 4 (coeff 3/6 = 0.5), node 5 deg 1
    assert(got(1L) == ((3L, 3L, 1000000L)), s"got $got")
    assert(got(2L) == ((3L, 3L, 1000000L)))
    assert(got(3L) == ((3L, 3L, 1000000L)))
    assert(got(4L) == ((4L, 3L, 500000L)))
    assert(got(5L) == ((1L, 0L, 0L)))
    // total triangle count: sum(tri) = 3 · #triangles
    assert(got.values.map(_._2).sum == 3 * 4)
  }

  test("kCoreFromEdges: clique survives, chain and triangle peel, " +
      "cascading peel crosses rounds") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every member deg 3 -> the 3-core); node 5 hangs
    // off 4 propped up by two leaves (4-5, 5-6, 5-11: deg 3 at start, so
    // it survives round one and falls only AFTER its leaves peel — a true
    // multi-round cascade); a separate triangle {8,9,10} (deg 2 each ->
    // gone at k=3, the 2-core at k=2)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (5L, 11L),
      (8L, 9L), (8L, 10L), (9L, 10L)).toDF("a_id", "b_id")
    val got = Similarity.kCoreFromEdges(edges, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // at k=2 the triangle survives; 5 still cascades out behind its leaves
    val got2 = Similarity.kCoreFromEdges(edges, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got2.keySet == Set(1L, 2L, 3L, 4L, 8L, 9L, 10L), s"got $got2")
    assert(got2(8L) == 2L && got2(4L) == 3L)
    // a round cap BELOW the cascade depth truncates deterministically:
    // one k=3 round peels only the leaves and the triangle, so 5 is still
    // present at deg 1 — the state the unrolled oracle reproduces layer
    // for layer
    val capped = Similarity.kCoreFromEdges(edges, k = 3, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L),
      s"got $capped")
  }

  test("labelPropagate: clamped seeds, deterministic tie-break, isolated " +
      "node stays unlabeled") {
    import spark.implicits._
    // path 1-2-3-4-5, seeds 1->10 and 5->20, node 6 isolated. Hand-traced:
    // r1 labels 2->10, 4->20; r2 labels 3 (tie 10 vs 20 -> smallest = 10);
    // r3 flips 4 (neighbors 3:10, 5:20 -> tie -> 10); r4 stable. Seeds
    // never move, 6 comes out -1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a_id", "b_id")
    val nodes = Seq((1L, Some(10L)), (2L, None), (3L, None), (4L, None),
      (5L, Some(20L)), (6L, None)).toDF("vec_id", "seed_lab")
    val got = Similarity.labelPropagate(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L,
      5L -> 20L, 6L -> -1L), s"got $got")
    // fewer rounds: the r3 flip must NOT have happened yet at rounds = 2
    val r2 = Similarity.labelPropagate(edges, nodes, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2(4L) == 20L && r2(3L) == 10L && r2(6L) == -1L, s"got $r2")
  }

  test("oodScore: per-cell z in e6, ties to the cell's own distribution, " +
      "degenerate cell goes null") {
    import spark.implicits._
    val cents = Seq(KMeans.Centroid(1L, Seq(0.0, 0.0)),
      KMeans.Centroid(2L, Seq(10.0, 0.0)))
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)),   // cell 1, d2 = 1
      (2L, Seq(2.0f, 0.0f)),   // cell 1, d2 = 4
      (3L, Seq(0.0f, 1.0f)),   // cell 1, d2 = 1
      (4L, Seq(10.0f, 3.0f)))  // cell 2 alone -> zero variance -> null z
      .toDF("vec_id", "embedding")
    val got = Similarity.oodScore(e, cents)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // cell 1: d2_e6 = (1e6, 4e6, 1e6), mean 2e6, sd = sqrt(2)e6
    // z(4e6) = 2/sqrt(2) = +1414214 e6; z(1e6) = -707107 e6
    assert(got(1L) == ((1L, 1000000L, 3L, Some(-707107L))))
    assert(got(2L) == ((1L, 4000000L, 3L, Some(1414214L))))
    assert(got(3L) == ((1L, 1000000L, 3L, Some(-707107L))))
    // singleton cell: zero variance -> null z
    assert(got(4L) == ((2L, 9000000L, 1L, None)))
  }

  test("bfsFromEdges: path graph hops, maxHops cutoff, isolated source, " +
      "multi-source min") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus disconnected edge 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("a_id", "b_id")
    val single = Similarity.bfsFromEdges(edges, Seq(1L), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    // hops count along the path; 5,6 beyond maxHops=3 and 10,11 unreachable
    assert(single == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // multi-source: node 4 is 3 hops from 1 but 1 hop from 5 — min wins;
    // source 99 is absent from the graph yet still reports hop 0
    val multi = Similarity.bfsFromEdges(edges, Seq(1L, 5L, 99L), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(multi == Map(1L -> 0L, 5L -> 0L, 99L -> 0L,
      2L -> 1L, 4L -> 1L, 6L -> 1L, 3L -> 2L))
  }

  test("kcenter: hand-traced farthest-point picks, ties to the lowest id") {
    // 1-D points 0, 10, 4, 6 seeded at id 0: pick 10 (d2 100), then ids
    // 2 and 3 tie at d2 16 -> lowest id 2, then 3 at d2 (6-4)^2 = 4
    val e = Seq(
      (0L, Array(0.0f)), (1L, Array(10.0f)), (2L, Array(4.0f)),
      (3L, Array(6.0f))).toDF("vec_id", "embedding")
    val got = Similarity.kcenter(e, k = 4)
      .orderBy("rnk").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 1L, 100000000L),
      (3L, 2L, 16000000L), (4L, 3L, 4000000L)), s"got $got")
  }

  test("cellBalance: hand-computed occupancy, shares and load factors") {
    val cents = Seq(
      KMeans.Centroid(1, Seq(1.0, 0.0, 0.0)),
      KMeans.Centroid(2, Seq(0.0, 1.0, 0.0)),
      KMeans.Centroid(3, Seq(0.0, 0.0, 1.0)))
    // clusters of 3 / 3 / 2 over the 8 fixture vectors
    val got = Similarity.cellBalance(emb, cents)
      .orderBy("cell").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 375000L, 112L),
      (2L, 3L, 375000L, 112L),
      (3L, 2L, 250000L, 75L)), s"got $got")
    // shares always total within one ppm-rounding unit per cell of 1e6
    assert(math.abs(got.map(_._3).sum - 1000000L) <= got.size)
  }

  test("kcenter: truncates at input size; missing seed fails fast") {
    val two = Seq((0L, Array(0.0f)), (1L, Array(3.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kcenter(two, k = 6)
      .orderBy("rnk").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 1L, 9000000L)), s"got $got")
    val noSeed = Seq((5L, Array(1.0f))).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.kcenter(noSeed, k = 2)
    }
    assert(err.getMessage.contains("vec_id 0"))
  }

  test("kcenter: covering radius is non-increasing and picks are distinct") {
    val got = Similarity.kcenter(
      Tables.read(spark, sf("0.001"), "embeddings"), k = 6)
      .orderBy("rnk").as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2).distinct.size == 6)
    got.drop(1).sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 <= a._3, s"radius grew: $a -> $b") }
    // greedy invariant: pick r's distance is the TRUE max-min over the
    // remaining points (re-verified against a brute-force recompute)
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
    val picks = got.map(_._2)
    for (r <- 1 until picks.size) {
      val chosen = picks.take(r).map(emb)
      val best = emb.filterNot(kv => picks.take(r).contains(kv._1))
        .map { case (id, v) => (chosen.map(c => d2(v, c)).min, id) }
        .maxBy { case (d, id) => (d, -id.toDouble) }
      assert(best._2 == picks(r), s"round $r picked ${picks(r)}, true ${best._2}")
    }
  }
}
