package graft

import org.apache.spark.sql.functions._

/** The scale-up smoke's PLAN INVARIANTS, pinned at suite scale (the full
  * 10× measurement runs via `graft.ScaleSmoke` and is recorded in
  * SCALE.md): for every smoke workload, the physical plan Catalyst commits
  * to must be THE SAME SHAPE on a `factor`× corpus as on the base corpus —
  * same Exchange count, zero nested-loop joins, same single-partition
  * exchange count. A plan that re-shapes with data volume (a broadcast
  * that silently becomes a nested loop, an extra shuffle past a size
  * threshold) is exactly the plan that surprises at 100 TB.
  */
class ScaleSpec extends SparkSpec {

  private lazy val scaledDir: String = {
    val dir = "target/scale-spec/x3"
    ScaleSmoke.writeScaled(spark, sf("0.001"), dir, factor = 3)
    dir
  }

  test("writeScaled: exact factor x row counts, ids collision-free, text perturbed") {
    val base = Tables.read(spark, sf("0.001"), "documents")
    val scaled = Tables.read(spark, scaledDir, "documents")
    assert(scaled.count() == 3 * base.count())
    assert(scaled.select("doc_id").distinct().count() == scaled.count(),
      "replica id spaces must not collide")
    val baseEmb = Tables.read(spark, sf("0.001"), "embeddings")
    val scaledEmb = Tables.read(spark, scaledDir, "embeddings")
    assert(scaledEmb.count() == 3 * baseEmb.count())
    // replica text is a stride permutation: token ORDER differs from the
    // base counterpart (for docs long enough to permute) while the token
    // MULTISET — the quality gate's input statistics — is unchanged
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    val rep2 = scaled.filter(col("doc_id") >= 2 * stride &&
        col("doc_id") < 3 * stride)
      .select((col("doc_id") - 2 * stride).as("doc_id"), col("text").as("t2"))
    val joined = base.join(rep2, "doc_id")
      .select(col("text"), col("t2"),
        sort_array(split(col("text"), " ")).as("ms"),
        sort_array(split(col("t2"), " ")).as("ms2"))
      .cache()
    assert(joined.filter(size(split(col("text"), " ")) > 6 &&
      col("text") === col("t2")).count() == 0, "replica 2 must permute order")
    // multiset invariance holds for every doc long enough to skip the
    // short-doc replica marker (< 12 tokens get two trailing markers)
    assert(joined.filter(size(split(col("text"), " ")) >= 12 &&
      col("ms") =!= col("ms2")).count() == 0,
      "token multiset must be preserved (quality stats invariance)")
    // n_chars stays consistent with the rewritten text
    val bad = scaled.filter(length(col("text")).cast("long") =!= col("n_chars")).count()
    assert(bad == 0L, s"$bad rows with stale n_chars")
  }

  test("replication preserves per-replica duplicate structure ~linearly") {
    // within a replica, equal-length near-duplicates permute identically
    // and keep their MinHash pairs. Cross-replica links exist, but they
    // are BANDING ACCIDENTS, not constructed similarity: on this fixture's
    // deliberately tiny vocabulary the base corpus itself has a nonzero
    // LSH false-positive rate per doc pair, and the replication must not
    // EXCEED that inherent rate across replicas (a marker/permutation
    // scheme that leaked real similarity would multiply it).
    val base = Tables.read(spark, sf("0.001"), "documents")
    val n = base.count()
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    val basePairs = operators.Dedup.minhashLSH(base).count()
    val scaledPairs = operators.Dedup.minhashLSH(
      Tables.read(spark, scaledDir, "documents"))
      .select((col("a_id") / stride).cast("long").as("ra"),
        (col("b_id") / stride).cast("long").as("rb"))
      .cache()
    val within = scaledPairs.filter(col("ra") === col("rb")).count()
    val cross = scaledPairs.filter(col("ra") =!= col("rb")).count()
    assert(within >= 2 * basePairs && within <= 4 * basePairs,
      s"within-replica pairs should track 3x base (${3 * basePairs}): $within")
    val baseRate = basePairs.toDouble / (n.toDouble * (n - 1) / 2)
    val crossRate = cross.toDouble / (3.0 * n * n) // 3 replica pairs × n²
    assert(crossRate <= baseRate * 1.5,
      s"cross-replica link rate $crossRate exceeds the base corpus's own " +
        s"banding-accident rate $baseRate — replication leaks similarity")
  }

  test("silhouette pair kernel: past maxCollectRows the collect is refused and " +
      "the distributed join kernel takes over, bit-identically") {
    val yh = Tables.yhOrders(spark, sf("0.001"))
    val sample = yh.filter(col("i") % 29 === 0)
    val assigned = operators.KMeans.assign(
      sample, operators.KMeans.seedFirstK(yh, 4)).cache()
    val kernel = operators.Quality.silhouettePairStats(assigned)
    val guarded = operators.Quality.silhouettePairStats(assigned, maxCollectRows = 3)
    // the guard must actually engage: the fallback plans a distributed join,
    // the kernel path a collected local relation (no Join anywhere)
    assert(!kernel.queryExecution.optimizedPlan.toString.contains("Join"),
      "kernel path unexpectedly plans a join")
    assert(guarded.queryExecution.optimizedPlan.toString.contains("Join"),
      "guard did not engage the distributed fallback")
    val a = kernel.orderBy("i1", "j2").collect().toSeq
    val b = guarded.orderBy("i1", "j2").collect().toSeq
    assigned.unpersist()
    assert(a.nonEmpty && a == b, "fallback diverged from the kernel")
  }

  test("optimalKNested: past maxCollectRows the per-k silhouettes run the " +
      "distributed join kernel, bit-identically") {
    val yh = Tables.yhOrders(spark, sf("0.001")).cache()
    val sample = yh.filter(col("i") % 29 === 0)
    val seeds = operators.KMeans.seedFirstK(yh, 5)
    def run(bound: Int) = operators.Quality.optimalKNested(yh, sample, seeds,
        ks = 2 to 5, d1Scale = 1e4, d2Scale = 0.01, maxCollectRows = bound)
      .orderBy("k").collect().toSeq
    val local = run(1000000)
    val dist = run(3)
    assert(local.nonEmpty && local == dist,
      "distributed optimalKNested fallback diverged from the local-sample path")
  }

  test("collectAtMost: past the bound on 10 partitions the driver receives " +
      "counts, not rows; within it, take's rows in partition order") {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val dim = 512 // 4 KiB of coordinates per row, so result bytes count rows
    def pts(n: Long) = spark.range(0, n, 1, 10)
      .select(col("id").as("i"), array_repeat(col("id").cast("double"), dim).as("Y"))
    def observed[T](body: => T): (T, Int, Long) = {
      val (jobs, bytes) = (new AtomicInteger, new AtomicLong)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.resultSize)
      }
      ListenerDrain(sc)
      sc.addSparkListener(l)
      try { val r = body; ListenerDrain(sc); (r, jobs.get, bytes.get) }
      finally sc.removeSparkListener(l)
    }
    val bound = 200
    // 10 partitions of 100 rows: a per-partition cap of bound + 1 rows would
    // send all 1000 rows (~4 MB) to the driver before refusing
    val (over, overJobs, overBytes) = observed(operators.Quality.collectAtMost(pts(1000), bound))
    assert(over.isEmpty && overJobs == 1, s"over the bound: $overJobs jobs")
    assert(overBytes < bound * 8L * dim, s"over the bound the driver received $overBytes bytes")
    assert(operators.Quality.collectAtMost(pts(bound + 1), bound).isEmpty)
    // balanced (20 rows a partition, share 21): one job; skewed (partitions
    // 0 and 1 outgrow their share, the other 8 hold one row each): a second
    // job over the two; empty: one job. Each is take's array.
    val skewed = pts(1000).filter(col("i") < 150 || col("i") % 100 === 7)
    for ((df, jobs) <- Seq(pts(bound) -> 1, skewed -> 2, pts(0) -> 1)) {
      val (got, n, _) = observed(operators.Quality.collectAtMost(df, bound))
      val want = df.take(bound + 1).toSeq
      assert(got.map(_.toSeq) == Some(want), s"rows differ from take (${want.size} rows)")
      assert(n == jobs, s"${want.size} rows: $n jobs, expected $jobs")
    }
  }

  test("shared-stage memos are row-identical to their live distributed plans " +
      "(the memoMaxRows seam can never silently diverge)") {
    // the memo/live seam exists in docComponents, cleanComponents,
    // pipeComponents (r18) and knnEdges; each consumer below exercises one
    // of them. The memo path collects the SAME live plan, so parity should
    // be trivial — this spec exists so a future edit to either side trips
    // loudly.
    val dir = sf("0.001")
    def results(): Map[String, Set[String]] =
      Seq("dedup_components", "pipeline_clean", "sim_knn_graph",
          "pipeline_provenance").map { name =>
        name -> SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).toSet
      }.toMap
    SparkEntry.clearMemos()
    val memo = results() // populates + reads memos (small fixture)
    SparkEntry.clearMemos()
    SparkEntry.memoMaxRowsOverride = Some(0L) // every consumer goes live
    val live = try results() finally {
      SparkEntry.memoMaxRowsOverride = None
      SparkEntry.clearMemos()
    }
    memo.foreach { case (name, rows) =>
      assert(rows.nonEmpty && rows == live(name),
        s"$name: memo path diverged from the live distributed plan")
    }
  }

  test("hot-cell cap: an adversarial all-dupes corpus splits into bounded " +
      "block-pair groups with results identical to the uncapped kernel") {
    import spark.implicits._
    // the dedup worst case the per-cell kernels exist for: EVERY vector is
    // near-identical (tiny monotone jitter keeps cosines distinct), so the
    // whole corpus lands in ONE coarse cell — uncapped, that is one
    // straggler task doing all n² work over n resident rows
    val n = 240
    val emb = (0 until n).map(i =>
        (i.toLong, Array(1.0f, (i * 1e-4).toFloat, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(
      operators.KMeans.Centroid(1, Seq(1.0, 0.0, 0.0, 0.0)),
      operators.KMeans.Centroid(2, Seq(-1.0, 0.0, 0.0, 0.0)),
      operators.KMeans.Centroid(3, Seq(0.0, -1.0, 0.0, 0.0)),
      operators.KMeans.Centroid(4, Seq(0.0, 0.0, -1.0, 0.0)))
    // uncapped census at nProbe=1: exactly the straggler — one group, n rows
    val raw = operators.Similarity.cellGroupCensus(emb, cents, nProbe = 1,
      maxCellRows = 0).collect().map(_.getInt(0)).sorted
    assert(raw.toSeq == Seq(n), s"expected one hot group of $n, got ${raw.toSeq}")
    // capped: B = ceil(240/32) = 8 sub-blocks -> 36 block-pair groups, each
    // holding at most two hash-balanced blocks (bound is probabilistic, so
    // assert 3x the cap, far under the n straggler)
    val cap = 32
    val capped = operators.Similarity.cellGroupCensus(emb, cents, nProbe = 1,
      maxCellRows = cap).collect().map(_.getInt(0))
    assert(capped.length == 36,
      s"expected 36 block-pair groups, got ${capped.length}")
    assert(capped.max <= 3 * cap,
      s"group of ${capped.max} rows exceeds the split bound")
    assert(capped.sum >= n, "split groups must cover every row")
    // results are IDENTICAL through the split (knn graph and the
    // threshold-pair kernel, literal and broadcast assignment)
    def knnBits(maxCell: Int, bcast: Boolean = false) =
      operators.Similarity.knnGraphBlocked(emb, cents, nProbe = 1, k = 3,
          broadcastAssign = bcast, maxCellRows = maxCell)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val knnUnsplit = knnBits(0)
    assert(knnUnsplit.nonEmpty && knnBits(cap) == knnUnsplit,
      "split knn graph diverged from the uncapped kernel")
    assert(knnBits(cap, bcast = true) == knnUnsplit,
      "split+broadcast knn graph diverged")
    // join-form ground truth (the shared-oracle discipline, in-suite)
    val joinForm = operators.Similarity.knnGraph(emb, cents, nProbe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(knnUnsplit == joinForm)
    def cosBits(maxCell: Int) =
      operators.Dedup.embeddingCosineBlockedLocal(emb, cents,
          thrE6 = 999000L, nProbe = 2, maxCellRows = maxCell)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cosUnsplit = cosBits(0)
    assert(cosUnsplit.nonEmpty && cosBits(cap) == cosUnsplit,
      "split threshold-pair kernel diverged from the uncapped kernel")
  }

  test("plan shape is invariant under corpus scale-up for every smoke workload") {
    ScaleSmoke.workloads.foreach { name =>
      val fn = SparkEntry.queries(name)
      val base = ScaleSmoke.planShape(fn(spark, sf("0.001")))
      val scaled = ScaleSmoke.planShape(fn(spark, scaledDir))
      assert(base == scaled,
        s"$name: plan re-shaped under scale-up — base=$base scaled=$scaled")
      assert(scaled.nestedLoops == 0, s"$name: nested-loop join at scale")
    }
  }
}
