package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke: the measurement that converts the 100 TB design claims
  * into numbers (VERDICT r13 task #7). A seeded `factor`× replication of the
  * documents/embeddings fixture is written once, then the flagship corpus
  * workloads run at 1× and at `factor`× and the smoke reports, per workload:
  *
  *  - wall seconds at both scales (min of `reps` runs, cache-cleared),
  *  - the PLAN INVARIANTS: Exchange count, no BroadcastNestedLoopJoin, and
  *    no corpus-sized `Exchange SinglePartition` — asserted EQUAL across
  *    scales (a plan that re-shapes with data size is a plan that will
  *    surprise at 100 TB),
  *  - index build seconds at both scales (the amortized cost must scale
  *    ~linearly like the probes).
  *
  * Replication is deterministic (no RNG): replica `r` offsets every id by
  * `r·stride` and perturbs content so CROSS-replica rows are neither exact
  * nor near duplicates — each replica keeps the base corpus's internal
  * duplicate/similarity structure, so outputs and work grow ~linearly by
  * construction and a super-linear wall is an ENGINE artifact, not a data
  * artifact:
  *  - documents: replica `r` applies a DETERMINISTIC stride-(r+1)
  *    permutation to each doc's token order (subsequence `0 mod s` then
  *    `1 mod s`, …). The token MULTISET is unchanged — length, stopword
  *    and character statistics (the quality gate's inputs) are identical
  *    per replica — while word-order n-gram shingles share almost nothing
  *    across strides, so MinHash bands do not link replicas; within a
  *    replica, equal-length near-duplicates permute identically and keep
  *    their similarity;
  *  - embeddings: a small per-(replica, dim) deterministic jitter keeps
  *    vectors distinct while preserving the cell geometry (the IVF
  *    centroids are the first 16 vectors — replica 0's, identical to the
  *    base fixture's).
  *
  * Usage: `ScaleSmoke [baseDir] [factor] [workDir]` — defaults
  * `/root/testdata/sf0.1`, 10, `target/scale`. Prints one JSON line per
  * workload and a `{"metric":"scale_smoke",...}` summary line; SCALE.md
  * records the committed numbers.
  */
object ScaleSmoke {

  /** Deterministic `factor`× replication of `baseDir`'s documents and
    * embeddings into `outDir` (see object scaladoc for the construction).
    * Id stride is chosen past the base max id so replica key spaces cannot
    * collide; modulo-derived roles (the `% 97` benchmark holdout, the
    * `% 5` incremental delta) keep their ~rates because the stride shifts
    * residues per replica rather than mapping them all to one class.
    */
  def writeScaled(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, tables: Set[String] = Set("documents", "embeddings")): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    if (tables("events")) writeScaledEvents(spark, baseDir, outDir, factor)
    if (tables("documents")) writeScaledDocs(spark, baseDir, outDir, factor)
    if (!tables("embeddings")) return
    val emb = Tables.read(spark, baseDir, "embeddings")
    val vecStride = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val embReps = (0 until factor).map { r =>
      val vec =
        if (r == 0) col("embedding")
        else transform(col("embedding"),
          (v, d) => (v + ((lit(r) * 31 + d) % 7 - 3).cast("float") * 1e-3f)
            .cast("float"))
      emb.select((col("vec_id") + lit(r * vecStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }
    embReps.reduce(_ unionAll _).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Stage-aware scaled-fixture generation shared by every self-contained
    * exhibit mode (extracted r18 — the idiom existed in five copies):
    * reuse the deterministic fixture when `reuse` and every requested
    * table's parquet is complete; generate directly up to 100×; stage
    * factors past 100 through an x100 hop (the single-pass union plan
    * grows a branch per replica, and replica-of-replica ids stay
    * collision-free — each stage strides past its input's max id).
    */
  private def ensureScaled(spark: SparkSession, baseDir: String,
      workDir: String, outDir: String, factor: Int,
      tables: Set[String], reuse: Boolean): Unit = {
    if (reuse && tables.forall(t =>
        new java.io.File(s"$outDir/$t.parquet/_SUCCESS").isFile)) return
    if (factor <= 100) writeScaled(spark, baseDir, outDir, factor, tables)
    else {
      // integer division would silently build a 100× corpus into a
      // directory labeled x$factor
      require(factor % 100 == 0, s"staged factor must be a multiple of 100: $factor")
      val mid = s"$workDir/x100_stage"
      writeScaled(spark, baseDir, mid, 100, tables)
      writeScaled(spark, mid, outDir, factor / 100, tables)
    }
  }

  /** Events replication for the events-family exhibit (r16 verdict task
    * 7): replica `r` offsets event_id and user_id by their strides and
    * keeps ts/type/value/props VERBATIM. Per-replica user key spaces are
    * disjoint, so sessionization, attribution and funnels produce exactly
    * factor× the base rows (no cross-replica session can merge), the
    * per-user event-count skew is preserved replica-for-replica (the skew
    * the exhibit must catch is the base corpus's own), and the time range
    * is unchanged (window/as-of shapes see the same span, denser).
    */
  private def writeScaledEvents(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit = {
    val ev = Tables.read(spark, baseDir, "events")
    val eidStride = ev.agg(max("event_id")).head().getLong(0) + 1L
    val uidStride = ev.agg(max("user_id")).head().getLong(0) + 1L
    val reps = (0 until factor).map { r =>
      ev.select((col("event_id") + lit(r * eidStride)).as("event_id"),
        col("ts"), (col("user_id") + lit(r * uidStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    reps.reduce(_ unionAll _).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  private def writeScaledDocs(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit = {
    val docs = Tables.read(spark, baseDir, "documents")
    val docStride = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val docReps = (0 until factor).map { r =>
      val s = r + 1
      val text =
        if (r == 0) col("text")
        else {
          val toks = split(col("text"), " ")
          val perm = array_sort(sequence(lit(0), size(toks) - 1),
            (l, rr) => when(l % s === rr % s, (l - rr).cast("int"))
              .otherwise((l % s - rr % s).cast("int")))
          val permuted =
            array_join(transform(perm, p => element_at(toks, p + 1)), " ")
          // short docs permute trivially (identical across replicas →
          // systematic cross-replica exact-dup links); two replica-unique
          // trailing tokens push their shingle overlap below the LSH
          // threshold. 12 ≪ the 25-token quality cut, so no doc changes
          // side of the pipeline's quality gate.
          when(size(toks) < 12,
            concat(permuted, lit(s" zr${r}a zr${r}b"))).otherwise(permuted)
        }
      docs.select(
        (col("doc_id") + lit(r * docStride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }
    docReps.reduce(_ unionAll _).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** The corpus workloads under measurement — the VERDICT-prescribed trio:
    * the end-to-end pipeline, the MinHash LSH banding pass, and the two
    * persisted-index probes (lexical-dedup and ANN).
    *
    * Deliberately NOT extended to the declared-scan / scalar-crossJoin
    * queries (sim_binary, retrieval_prf): measured at 10×, their WALLS
    * scale fine (2.0× / 1.5×) but their broadcast-join flavors legitimately
    * shift with relation statistics (a 1-row-scalar BNLJ here, an
    * auto-broadcast flip there), so the smoke's strict shape-equality
    * criterion — the right bar for index probes and the pipeline — would
    * have to be weakened case by case to admit them. Their scale posture
    * is asserted where it belongs: the PlansSpec allow-lists that DECLARE
    * those shapes, and the per-query floors.
    */
  val workloads: Seq[String] =
    Seq("pipeline_full", "dedup_minhash", "dedup_incremental", "sim_ivf_indexed")

  /** PLANTED hierarchical mixture-of-Gaussians embeddings (round-16 task 2:
    * the synthetic sf fixtures are near-uniform, which made every
    * two-level-quantizer measurement read ~50% agreement as a FIXTURE
    * property — this corpus has the cluster structure the reference's own
    * test data plants, k-means.sql:3-4, so the lever is finally testable).
    * Deterministic (splitmix64-fed Box-Muller, no RNG object): `nSuper`
    * super-centers at scale 10, `childrenPerSuper` child-centers each at
    * offset scale 2, per-point noise 0.4 — separation cleanly hierarchical
    * by construction. Returns (vec_id, embedding float[], label = fine
    * cluster id). [[plantedCenters]] exposes the construction's true
    * (super, child) centers so routing accuracy is measured against a
    * perfect fit, isolating the ROUTER from fit quality.
    */
  def plantedEmbeddings(spark: SparkSession, n: Long, dim: Int,
      nSuper: Int, childrenPerSuper: Int, seed: Long = 16L): DataFrame = {
    import spark.implicits._
    val (_, fines) = plantedCenters(dim, nSuper, childrenPerSuper, seed)
    val fArr = fines.map(_.c.toArray).toArray
    val c = nSuper * childrenPerSuper
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { i =>
        val g = (i % c).toInt
        val base = fArr(g)
        val v = new Array[Float](dim)
        var d = 0
        while (d < dim) {
          v(d) = (base(d) + gauss(seed * 7919L + i * dim + d) * 0.4).toFloat
          d += 1
        }
        (i, v, g.toLong)
      }
    }.toDF("vec_id", "embedding", "label")
  }

  /** The planted construction's true centers: (super centers with ids
    * 1..nSuper, fine centers with ids 1..nSuper·childrenPerSuper in
    * (super, child) order). Fine center = super center + child offset.
    */
  def plantedCenters(dim: Int, nSuper: Int, childrenPerSuper: Int,
      seed: Long = 16L): (Seq[operators.KMeans.Centroid], Seq[operators.KMeans.Centroid]) = {
    val supers = (0 until nSuper).map { s =>
      operators.KMeans.Centroid(s + 1L,
        (0 until dim).map(d => gauss(seed + s * dim + d) * 10.0))
    }
    val fines = for {
      s <- 0 until nSuper
      ch <- 0 until childrenPerSuper
    } yield operators.KMeans.Centroid(s * childrenPerSuper + ch + 1L,
      supers(s).c.zipWithIndex.map { case (x, d) =>
        x + gauss(seed + 31337L + (s * childrenPerSuper + ch) * dim + d) * 2.0
      })
    (supers, fines)
  }

  /** Deterministic standard normal from a key: Box-Muller over two
    * splitmix64 uniforms — the no-RNG-object discipline the replication
    * fixtures use, applied to Gaussians.
    */
  private def gauss(key: Long): Double = {
    def unit(k: Long): Double =
      ((operators.Similarity.mix64(k) >>> 11).toDouble + 1.0) / 9007199254740994.0
    val u1 = unit(key)
    val u2 = unit(key + 0x632BE59BD9B4E019L)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** ALL-DUPES adversarial corpus for the hot-cell-cap exhibit: every
    * vector near-identical (monotone last-dim jitter keeps cosines
    * distinct), so the whole corpus lands in ONE coarse cell — the dedup
    * worst case the cap exists for. Deterministic, no RNG.
    */
  def skewFixture(spark: SparkSession, n: Long, dim: Int = 16): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { i =>
        val v = new Array[Float](dim)
        v(0) = 1.0f
        v(1) = (i * 1e-7).toFloat
        (i, v)
      }
    }.toDF("vec_id", "embedding")
  }

  def skewCentroids(dim: Int = 16): Seq[operators.KMeans.Centroid] = {
    def axis(d: Int, sign: Double) = (0 until dim).map(x =>
      if (x == d) sign else 0.0)
    Seq(operators.KMeans.Centroid(1, axis(0, 1.0)),
      operators.KMeans.Centroid(2, axis(0, -1.0)),
      operators.KMeans.Centroid(3, axis(2, -1.0)),
      operators.KMeans.Centroid(4, axis(3, -1.0)))
  }

  final case class PlanShape(exchanges: Int, nestedLoops: Int,
      singlePartitionExchanges: Int)

  /** Plan-shape fingerprint from the PRE-execution physical plan (the shape
    * Catalyst commits to before AQE's runtime refinements — the one that
    * must not depend on data volume).
    */
  def planShape(df: DataFrame): PlanShape = {
    val plan = df.queryExecution.executedPlan.toString
    def count(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    PlanShape(count("Exchange"), count("BroadcastNestedLoopJoin"),
      count("Exchange SinglePartition"))
  }

  def runOne(spark: SparkSession, dir: String, name: String,
      reps: Int): (Double, PlanShape) =
    runFn(spark, name, reps, () => SparkEntry.queries(name)(spark, dir))

  private def runFn(spark: SparkSession, name: String, reps: Int,
      mk: () => DataFrame): (Double, PlanShape) = {
    val shape = planShape(mk())
    val walls = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (walls.min, shape)
  }

  /** The mutual k-NN GRAPH BUILD, invoked directly on the operator (not
    * through the `sim_knn_graph` binding, whose bounded memo would collect
    * the result at suite sizes and hide the distributed plan) with the
    * volume-derived coarse-cell count ([[operators.Similarity.autoCells]])
    * and the BLOCKED per-cell build ([[operators.Similarity
    * .knnGraphBlocked]] — bit-identical to the join form, proven by the
    * shared oracle). The round-15 100× attempt measured WHY blocked is the
    * scale form: the equi-join build materializes |cell|²·nProbe² candidate
    * ROWS per cell (≈4.5·10¹⁰ shuffled rows at 2M vectors with √n cells —
    * the run was killed after 30 min of 16-core grinding), while the
    * blocked build does the same ~10¹² FLOPs as a streamed in-cell loop
    * and ships only n·k·nProbe candidate rows.
    */
  def knnLive(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
    val n = emb.count()
    operators.Similarity.knnGraphBlocked(emb,
      operators.Similarity.fixedCentroids(emb, operators.Similarity.autoCells(n)))
  }

  /** The LINEAR-pair-work variant: fixed-population cells
    * ([[operators.Similarity.autoCellsPairwise]] — n/2000 cells, constant
    * per-cell pair FLOPs) with the broadcast assignment (1000 cells at 2M
    * vectors would bloat a plan literal; the broadcast path has no
    * ceiling). Different recall point than [[knnLive]] (smaller cells see
    * fewer candidates) — the smoke compares COST shapes, the recall
    * instruments price the knob.
    */
  def knnLiveLinear(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
    val n = emb.count()
    operators.Similarity.knnGraphBlocked(emb,
      operators.Similarity.fixedCentroids(emb,
        operators.Similarity.autoCellsPairwise(n)),
      broadcastAssign = true)
  }

  /** [[knnLiveLinear]] with the wired TWO-LEVEL routed assignment (round
    * 16): supers = the ⌈√c⌉-prefix of the fine cells, so the per-vector
    * assignment cost falls from c folds to ~2√c. On THIS near-uniform
    * fixture routing trades recall (the planted-fixture spec records where
    * it doesn't); the smoke measures the COST term the lever exists to
    * kill — compare against knn_graph_linear's wall.
    */
  def knnLiveTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
    val n = emb.count()
    val fines = operators.Similarity.fixedCentroids(emb,
      operators.Similarity.autoCellsPairwise(n))
    val supers = fines.take(math.ceil(math.sqrt(fines.size.toDouble)).toInt)
    operators.Similarity.knnGraphBlocked(emb, fines,
      broadcastAssign = true, supers = supers)
  }

  /** The flagship 64-dim k-means‖ FIT, run live (not through the binding,
    * whose per-dir memo would let a second rep read the first rep's fit):
    * the fit goes distributed past the 4M-cell placement gate (200k×64 ≫
    * 4M cells), so this times the real k-means‖ seeding + movement-gated
    * Lloyd loop at scale, then the assignment census over the corpus.
    */
  def kmFitLive(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.yhEmbeddings(spark, dir).cache()
    val fit = operators.KMeans.fit(pts, k = 10, dim = 64, operators.KMeans.Parallel(seed = 42))
    operators.KMeans.assign(pts, fit.centroids)
      .groupBy("j").agg(count(lit(1)).as("n"))
  }

  /** SEMANTIC DEDUP at its recorded production posture (nProbe = 4 — the
    * `dedup_semantic_probe` recall decision): the pair stage runs the
    * hot-cell-capped blocked kernel, cells from the pairwise policy. The
    * oracle-pinned `dedup_semantic` binding keeps the nProbe=1 join form
    * at fixture scale; THIS is the form a 100 TB run ships, so this is
    * the form the 100× smoke prices.
    */
  def semanticDedupProd(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.read(spark, dir, "embeddings")
    val n = emb.count()
    operators.Dedup.semanticDedup(emb,
      operators.Similarity.fixedCentroids(emb,
        operators.Similarity.autoCellsPairwise(n)),
      thrE6 = 500000L, nProbe = 4)
  }

  /** One timed micro-batch of the STREAMING ANN probe against the
    * per-dir persisted IVF index (round-16 task 6: the freshness/ingest
    * plane measured under the scaled index, not just at oracle scale).
    * Build is untimed (the amortization contract); wall = one 5-query
    * batch through `processAllAvailable` after an untimed warm-up batch.
    * Plan-shape column reports the BATCH probe twin's shape (a streaming
    * plan only materializes per-batch; the twin is the row-identical
    * batch form StreamingSpec pins).
    */
  def annStreamCase(spark: SparkSession, dir: String, tag: String,
      workDir: String): (Double, PlanShape) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.read(spark, dir, "embeddings")
    val n = emb.count()
    val cents = operators.Similarity.fixedCentroids(emb,
      operators.Similarity.autoCells(n))
    val tbl = s"graft_smoke_stream_idx_$tag"
    operators.Similarity.buildIvfIndex(emb, cents, tbl, buckets = 8,
      Some(s"$workDir/$tbl"))
    val shape = planShape(
      operators.Similarity.ivfTopKIndexed(emb, tbl, cents, nQueries = 5))
    val qs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 5).as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
    val out = streaming.StreamingOps.annProbeStream(
      in.toDF().toDF("ts", "q_id", "qv"), spark.table(tbl), cents)
    val q = out.writeStream.format("memory").queryName(s"smoke_ann_$tag")
      .outputMode("append").start()
    try {
      def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
      in.addData(qs.map { case (id, v) => (ts(1), id, v) }.toSeq: _*)
      q.processAllAvailable() // warm-up batch (codegen, index footers)
      val t0 = System.nanoTime()
      in.addData(qs.map { case (id, v) => (ts(2), id, v) }.toSeq: _*)
      q.processAllAvailable()
      ((System.nanoTime() - t0) / 1e9, shape)
    } finally q.stop()
  }

  /** One stateful pass of the STREAMING sessionizer over the whole dir's
    * events via the parquet FILE source (timeoutMs = 0 — the
    * deterministic mode, so `processAllAvailable` settles): measures the
    * `flatMapGroupsWithState` state plane at corpus scale — shuffled rows
    * ∝ events, state rows ∝ users (150k at 100×) — the streaming twin of
    * the batch `events_sessionize` row. Fresh checkpoint per call (a
    * reused one would resume and time nothing); plan column reports the
    * batch twin's shape.
    */
  def sessionStreamCase(spark: SparkSession, dir: String): (Double, PlanShape) = {
    import spark.implicits._
    val shape = planShape(operators.Events.sessionize(Tables.readEvents(spark, dir)))
    val schema = Tables.read(spark, dir, "events").schema
    // the base fixture's events.parquet is ONE file (driver-written); the
    // file stream source wants a directory, so glob-filter the parent
    val p = s"$dir/events.parquet"
    val src =
      if (new java.io.File(p).isFile)
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      else spark.readStream.schema(schema).parquet(p)
    val evs = src
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[streaming.StreamingOps.Ev]
    val out = streaming.StreamingOps.sessionizeStream(evs, timeoutMs = 0)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_ckpt")
    val q = out.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      val t0 = System.nanoTime()
      q.processAllAvailable()
      ((System.nanoTime() - t0) / 1e9, shape)
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val workDir = args.lift(2).getOrElse("target/scale")
    // "full" = the prescribed four corpus workloads (documents+embeddings
    // fixture); "ann" = the 100×-scale ANN exhibits (sim_ivf_indexed probe
    // + the live knn graph builds, incl. the round-16 two-level routed
    // leg) over an embeddings-only fixture; "dedup" = the round-16 100×
    // dedup-family exhibit (minhash banding, banded-index probe, semantic
    // dedup at its production posture); "fresh" = the freshness/ingest
    // plane (persisted-index + delta search, one streamed probe batch);
    // "retrieval" = the round-17 100× lexical/hybrid exhibit (BM25 / PRF /
    // hybrid-RRF, indexed vs live twins); "events" = the round-17 100×
    // events-family exhibit (sessionize / session stats / attribution /
    // funnel); "rebalance" = the round-17 refit-vs-probe-tax pricing
    // (self-contained, see the mode block)
    val mode = args.lift(3).getOrElse("full")
    val reps = 2
    // "skew" is self-contained (no base/scaled pair): factor = corpus size
    // in THOUSANDS of all-dupes vectors; the exhibit times the capped vs
    // uncapped blocked knn build on the one-hot-cell worst case and
    // reports the group census under both
    // "build" is also self-contained: regenerates the factor× embeddings
    // fixture and times the FLAT IVF index build (n·nCells assignment
    // FLOPs — the measured 638 s term at 2M×353 cells) against the
    // ROUTED build (n·(nSuper+|children|) folds) at the same cell set,
    // reporting both walls and whether the two indexes agree cell-for-cell
    if (mode == "build") {
      val cpusB = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sparkB = SparkSession.builder().master(s"local[$cpusB]")
        .config("spark.sql.shuffle.partitions", cpusB)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
      sparkB.sparkContext.setLogLevel("WARN")
      val dir = s"$workDir/x$factor"
      ensureScaled(sparkB, baseDir, workDir, dir, factor, Set("embeddings"),
        reuse = false)
      val emb = Tables.read(sparkB, dir, "embeddings")
      val n = emb.count()
      val fines = operators.Similarity.fixedCentroids(emb,
        operators.Similarity.autoCells(n))
      val supers = fines.take(
        math.ceil(math.sqrt(fines.size.toDouble)).toInt)
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val wFlat = time(operators.Similarity.buildIvfIndex(emb, fines,
        "smoke_build_flat", buckets = 8, Some(s"$workDir/smoke_build_flat")))
      val wRouted = time(operators.Similarity.buildIvfIndexRouted(emb, fines,
        supers, "smoke_build_routed", buckets = 8,
        Some(s"$workDir/smoke_build_routed")))
      val agree = sparkB.table("smoke_build_flat").select("vec_id", "cell")
        .join(sparkB.table("smoke_build_routed")
            .select(col("vec_id"), col("cell").as("cell_r")), "vec_id")
        .agg(sum(when(col("cell") === col("cell_r"), 1L).otherwise(0L)),
          count(lit(1))).head()
      def jnum(v: Double): String =
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      println(s"""{"metric":"build_exhibit","n":$n,""" +
        s""""cells":${fines.size},"supers":${supers.size},""" +
        s""""flat_sec":${jnum(wFlat)},"routed_sec":${jnum(wRouted)},""" +
        s""""speedup":${jnum(wFlat / wRouted)},""" +
        s""""agree":${agree.getLong(0)},"total":${agree.getLong(1)}}""")
      sparkB.stop()
      return
    }
    // "route" is self-contained and cheap: times the routed-build
    // chooser's gate (routeDecision — one scan + top-sampleN by hash +
    // sampleN·(nCells+nSuper+|children|) folds) at the factor× tier, the
    // number that belongs next to the 702 s flat / 5.2 s routed builds it
    // chooses between. Reuses the factor× fixture if present.
    if (mode == "route") {
      val cpusQ = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sparkQ = SparkSession.builder().master(s"local[$cpusQ]")
        .config("spark.sql.shuffle.partitions", cpusQ)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
      sparkQ.sparkContext.setLogLevel("WARN")
      val dir = s"$workDir/x$factor"
      ensureScaled(sparkQ, baseDir, workDir, dir, factor, Set("embeddings"),
        reuse = true)
      val emb = Tables.read(sparkQ, dir, "embeddings")
      val n = emb.count()
      val fines = operators.Similarity.fixedCentroids(emb,
        operators.Similarity.autoCells(n))
      val supers = fines.take(
        math.ceil(math.sqrt(fines.size.toDouble)).toInt)
      val walls = (1 to reps).map { _ =>
        sparkQ.catalog.clearCache()
        val t0 = System.nanoTime()
        operators.Similarity.routeDecision(emb, fines, supers).head()
        (System.nanoTime() - t0) / 1e9
      }
      val d = operators.Similarity.routeDecision(emb, fines, supers).head()
      def jnum(v: Double): String =
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      println(s"""{"metric":"route_exhibit","n":$n,"cells":${fines.size},""" +
        s""""supers":${supers.size},"decision_sec":${jnum(walls.min)},""" +
        s""""agree_ppm":${d.getLong(d.fieldIndex("agree_ppm"))},""" +
        s""""routed":${d.getLong(d.fieldIndex("routed"))}}""")
      sparkQ.stop()
      return
    }
    // "fit" is self-contained (r17 verdict task 5): the LIKE-FOR-LIKE
    // distributed base for the fit-family scale row. The r17 families row
    // compared a 0.45 s driver-local twin (the fit under the 4M-cell
    // threshold at 1×) against the real distributed loop at 100× — an
    // honest adjudication but not a scaling measurement. Here BOTH tiers
    // run KMeans.fit PARTITIONED (maxCells = -1) — the distributed
    // k-means‖ seeding + movement-gated Lloyd loop; the collected placement
    // is spec-pinned bit-identical, so bypassing the gate changes nothing
    // but the engine under test — at x(factor/10) and x(factor), then the assignment
    // census. The ratio prices the distributed engine against a true 10×
    // volume step, with the census plan shape pinned invariant.
    if (mode == "fit") {
      val cpusF = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sparkF = SparkSession.builder().master(s"local[$cpusF]")
        .config("spark.sql.shuffle.partitions", cpusF)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
      sparkF.sparkContext.setLogLevel("WARN")
      // % 100 (not % 10): both tiers run, and the scaled tier stages
      // through x100 — a 250 would burn the whole base tier before the
      // staging require rejected it
      require(factor % 100 == 0 && factor >= 100 && factor <= 1000,
        s"fit mode wants 100 <= factor <= 1000, a multiple of 100: $factor")
      def jnum(v: Double): String =
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      def tier(f: Int): (Double, PlanShape) = {
        val dir = s"$workDir/x$f"
        ensureScaled(sparkF, baseDir, workDir, dir, f, Set("embeddings"),
          reuse = true)
        val pts = Tables.yhEmbeddings(sparkF, dir).cache()
        val n = pts.count() // also materializes the cache, untimed
        var steps = 0L
        var centroids = Seq.empty[operators.KMeans.Centroid]
        val walls = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val fit = operators.KMeans.fit(pts, k = 10, dim = 64, operators.KMeans.Parallel(seed = 42),
            maxCells = -1)
          steps = fit.steps
          centroids = fit.centroids // deterministic: same seed every rep
          operators.KMeans.assign(pts, fit.centroids)
            .groupBy("j").agg(count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val shape = planShape(operators.KMeans.assign(pts, centroids)
          .groupBy("j").agg(count(lit(1)).as("n")))
        println(s"""{"metric":"fit_exhibit","factor":$f,"n":$n,""" +
          s""""wall_sec":${jnum(walls.min)},"steps":$steps,""" +
          s""""exchanges":${shape.exchanges},""" +
          s""""nested_loops":${shape.nestedLoops},""" +
          s""""single_partition":${shape.singlePartitionExchanges}}""")
        pts.unpersist()
        (walls.min, shape)
      }
      val (wBase, sBase) = tier(factor / 10)
      val (wScaled, sScaled) = tier(factor)
      println(s"""{"metric":"fit_scale_row","base_factor":${factor / 10},""" +
        s""""scaled_factor":$factor,"base_sec":${jnum(wBase)},""" +
        s""""scaled_sec":${jnum(wScaled)},"ratio":${jnum(wScaled / wBase)},""" +
        s""""shape_invariant":${sBase == sScaled && sScaled.nestedLoops == 0}}""")
      sparkF.stop()
      return
    }
    // "rebalance" is self-contained: regenerates the factor× embeddings
    // fixture, plants a MISALIGNED quantizer (all centroids drawn from one
    // label's region — the SimilaritySpec construction at scale), and
    // prices the r16-verdict question: what does the refit COST at the
    // 2M-vector tier vs the per-probe TAX of keeping the skewed layout?
    // Reported: load before/after, refit wall, both index-build walls,
    // both probe walls (min of 2), and the break-even probe count
    // refit_sec / (probe_mis_sec - probe_re_sec) that the boundX100
    // constant has to be consistent with.
    if (mode == "rebalance") {
      val cpusR = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sparkR = SparkSession.builder().master(s"local[$cpusR]")
        .config("spark.sql.shuffle.partitions", cpusR)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
      sparkR.sparkContext.setLogLevel("WARN")
      val dir = s"$workDir/x$factor"
      // the deterministic fixture is reusable across exhibit reruns
      ensureScaled(sparkR, baseDir, workDir, dir, factor, Set("embeddings"),
        reuse = true)
      val emb = Tables.read(sparkR, dir, "embeddings")
      val n = emb.count()
      val nCells = operators.Similarity.autoCells(n)
      val lbl = emb.agg(min(col("label").cast("long"))).head().getLong(0)
      val mis = emb.filter(col("label") === lbl)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy("vec_id").limit(nCells).collect().zipWithIndex
        .map { case (r, i) =>
          operators.KMeans.Centroid(i + 1L, r.getSeq[Double](1)) }.toSeq
      def time[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      def load(cs: Seq[operators.KMeans.Centroid]): Long = {
        val d = operators.Similarity.rebalanceDecision(emb, cs).head()
        d.getLong(d.fieldIndex("max_load_x100"))
      }
      val loadMis = load(mis)
      val (re, refitSec) = time(operators.Similarity.cellsRebalanced(emb, mis))
      val loadRe = load(re)
      val (_, buildMisSec) = time(operators.Similarity.buildIvfIndex(emb, mis,
        "smoke_reb_mis", buckets = 8, Some(s"$workDir/smoke_reb_mis")))
      val (_, buildReSec) = time(operators.Similarity.buildIvfIndex(emb, re,
        "smoke_reb_re", buckets = 8, Some(s"$workDir/smoke_reb_re")))
      def probe(tbl: String, cs: Seq[operators.KMeans.Centroid]): Double =
        (1 to reps).map { _ =>
          sparkR.catalog.clearCache()
          val t0 = System.nanoTime()
          operators.Similarity.ivfTopKIndexed(emb, tbl, cs)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
      val pMis = probe("smoke_reb_mis", mis)
      val pRe = probe("smoke_reb_re", re)
      def jnum(v: Double): String =
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      val breakeven =
        if (pMis > pRe) refitSec / (pMis - pRe) else Double.PositiveInfinity
      println(s"""{"metric":"rebalance_exhibit","n":$n,"cells":$nCells,""" +
        s""""load_mis_x100":$loadMis,"load_refit_x100":$loadRe,""" +
        s""""refit_sec":${jnum(refitSec)},""" +
        s""""build_mis_sec":${jnum(buildMisSec)},"build_refit_sec":${jnum(buildReSec)},""" +
        s""""probe_mis_sec":${jnum(pMis)},"probe_refit_sec":${jnum(pRe)},""" +
        s""""breakeven_probes":${if (breakeven.isInfinity) "null" else jnum(breakeven)}}""")
      sparkR.stop()
      return
    }
    if (mode == "skew") {
      val cpusS = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sparkS = SparkSession.builder().master(s"local[$cpusS]")
        .config("spark.sql.shuffle.partitions", cpusS)
        .config("spark.ui.enabled", "false").getOrCreate()
      sparkS.sparkContext.setLogLevel("WARN")
      val n = args.lift(1).map(_.toLong).getOrElse(50L) * 1000L
      val emb = skewFixture(sparkS, n).cache()
      emb.count() // materialize: time kernels, not generation
      val cents = skewCentroids()
      def wall(maxCell: Int, rep: Int, ckpt: Boolean = true): Double =
        (1 to rep).map { _ =>
        val t0 = System.nanoTime()
        operators.Similarity.knnGraphBlocked(emb, cents, nProbe = 1, k = 4,
            maxCellRows = maxCell, checkpointAssigned = ckpt)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      def census(maxCell: Int): (Int, Long) = {
        val g = operators.Similarity.cellGroupCensus(emb, cents, nProbe = 1,
          maxCellRows = maxCell).collect().map(_.getInt(0).toLong)
        (g.length, g.max)
      }
      def jnum(v: Double): String =
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      val (gUncap, maxUncap) = census(0)
      val (gCap, maxCap) = census(operators.Similarity.defaultMaxCellRows)
      val wCap = wall(operators.Similarity.defaultMaxCellRows, reps)
      // the r16-verdict fault/storage question: the same capped run with
      // the lineage kept (count pass + emission each recompute the
      // assignment) instead of the eager localCheckpoint
      val wCapNoCkpt = wall(operators.Similarity.defaultMaxCellRows, reps,
        ckpt = false)
      val wUncap = wall(0, 1) // the straggler: one rep is the point
      println(s"""{"metric":"skew_exhibit","n":$n,""" +
        s""""uncapped_sec":${jnum(wUncap)},"capped_sec":${jnum(wCap)},""" +
        s""""capped_nockpt_sec":${jnum(wCapNoCkpt)},""" +
        s""""speedup":${jnum(wUncap / wCap)},""" +
        s""""groups_uncapped":$gUncap,"max_group_uncapped":$maxUncap,""" +
        s""""groups_capped":$gCap,"max_group_capped":$maxCap}""")
      sparkS.stop()
      return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val scaledDir = s"$workDir/x$factor"
    System.err.println(s"[scale] writing ${factor}x fixture to $scaledDir (mode=$mode)")
    val tGen0 = System.nanoTime()
    val genTables =
      if (mode == "ann" || mode == "fresh") Set("embeddings")
      else if (mode == "events" || mode == "new18c") Set("events")
      else Set("documents", "embeddings")
    ensureScaled(spark, baseDir, workDir, scaledDir, factor, genTables,
      reuse = false)
    val genSec = (System.nanoTime() - tGen0) / 1e9
    // untimed warm-up (JIT/codegen/parquet footers), then the amortized
    // index builds, timed per dir — the Bench warm-up contract
    SparkEntry.queries("q1_agg")(spark, baseDir)
      .write.format("noop").mode("overwrite").save()
    val (buildBase, buildScaled) =
      if (mode == "ann" || mode == "fresh")
        (SparkEntry.prewarmAnnIndex(spark, baseDir),
          SparkEntry.prewarmAnnIndex(spark, scaledDir))
      else if (mode == "retrieval")
        (SparkEntry.prewarmRetrievalIndexes(spark, baseDir),
          SparkEntry.prewarmRetrievalIndexes(spark, scaledDir))
      else if (mode == "events" || mode == "families" || mode == "new18c")
        (Map.empty[String, Double], Map.empty[String, Double]) // no index
      else
        (SparkEntry.prewarmDocIndexes(spark, baseDir),
          SparkEntry.prewarmDocIndexes(spark, scaledDir))
    def jnum(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // (name, base-run, scaled-run): queries through the binding; the knn
    // graph build through the operator directly (see knnLive)
    val cases: Seq[(String, String => (Double, PlanShape))] =
      if (mode == "ann")
        Seq(
          "sim_ivf_indexed" ->
            ((d: String) => runOne(spark, d, "sim_ivf_indexed", reps)),
          "knn_graph_live" ->
            ((d: String) => runFn(spark, "knn_graph_live", reps,
              () => knnLive(spark, d))),
          "knn_graph_linear" ->
            ((d: String) => runFn(spark, "knn_graph_linear", reps,
              () => knnLiveLinear(spark, d))),
          "knn_graph_twolevel" ->
            ((d: String) => runFn(spark, "knn_graph_twolevel", reps,
              () => knnLiveTwoLevel(spark, d))))
      else if (mode == "dedup")
        Seq(
          "dedup_minhash" ->
            ((d: String) => runOne(spark, d, "dedup_minhash", reps)),
          "dedup_incremental" ->
            ((d: String) => runOne(spark, d, "dedup_incremental", reps)),
          "dedup_semantic_prod" ->
            ((d: String) => runFn(spark, "dedup_semantic_prod", reps,
              () => semanticDedupProd(spark, d))))
      else if (mode == "fresh")
        Seq(
          "sim_ivf_delta" ->
            ((d: String) => runOne(spark, d, "sim_ivf_delta", reps)),
          "ann_probe_stream" ->
            ((d: String) => annStreamCase(spark, d,
              if (d == baseDir) "base" else "scaled", workDir)))
      else if (mode == "retrieval")
        // r16 verdict task 3: the token-bucketed index exists to be
        // volume-bounded — each indexed probe vs its live (corpus
        // tokenize / corpus assign) twin, the sim_ivf_indexed protocol
        Seq("text_bm25", "text_bm25_indexed", "retrieval_prf",
          "retrieval_prf_indexed", "retrieval_hybrid",
          "retrieval_hybrid_indexed")
          .map(n => n -> ((d: String) => runOne(spark, d, n, reps)))
      else if (mode == "events")
        // r16 verdict task 7: the last family with no SCALE row —
        // sessionization / attribution / funnel are window/groupBy shapes
        // that must scale embarrassingly; per-user skew is preserved
        // replica-for-replica by the events replication
        Seq("events_sessionize", "events_session_stats",
          "events_attribution", "events_funnel")
          .map(n => n -> ((d: String) => runOne(spark, d, n, reps))) :+
          ("events_sessionize_stream" -> ((d: String) =>
            sessionStreamCase(spark, d)))
      else if (mode == "families")
        // round-17 completion sweep: one representative per family still
        // without a SCALE row — multimodal decode kernels, doc/corpus
        // packing + mixing, text core, and the flagship fit run LIVE
        // (kmFitLive — the binding memoizes per dir)
        Seq("mm_features", "mm_phash", "doc_pack", "doc_mix_temperature",
          "text_quality", "text_langid_ngram")
          .map(n => n -> ((d: String) => runOne(spark, d, n, reps))) :+
          ("km_fit_live" -> ((d: String) => runFn(spark, "km_fit_live",
            reps, () => kmFitLive(spark, d))))
      else if (mode == "new18")
        // round-18 additions: the whitening pre-pass (treeAggregate stats
        // + zero-shuffle projection), the audio-fingerprint census
        // (groupBy, no pair join), the takedown propagation (broadcast
        // anti-joins + one grouped components pass), and the partition-
        // level replace (write-bound) — all should scale ~linearly with a
        // factor-invariant plan
        Seq("emb_whiten", "mm_audio_fingerprint", "doc_forget", "q_dpo")
          .map(n => n -> ((d: String) => runOne(spark, d, n, reps)))
      else if (mode == "new18b")
        // the graph/pairs additions: preference-pair election (one grouped
        // max_by/min_by pass over the components relation) and the
        // bounded-round 2-core peel (per round: degree census + two
        // anti-joins over a shrinking checkpointed edge list); at 100x
        // both inputs cross their memo bounds, so the measured thing is
        // the LIVE distributed build feeding the new operator
        Seq("doc_pref_pairs", "sim_kcore", "dedup_edit", "sim_label_prop",
          "doc_kanon")
          .map(n => n -> ((d: String) => runOne(spark, d, n, reps)))
      else if (mode == "new18c")
        // the events-table additions: the Shapley mask census (one
        // groupBy(user) + groupBy(mask), <=2^C rows to the driver) and
        // the Poisson bootstrap (one scan, 32 partial-aggregated
        // replicate sums) — both should be plan-invariant scans
        Seq("events_attribution_shapley", "events_bootstrap")
          .map(n => n -> ((d: String) => runOne(spark, d, n, reps)))
      else workloads.map(n => n -> ((d: String) => runOne(spark, d, n, reps)))
    val rows = cases.map { case (name, run) =>
      val (wBase, sBase) = run(baseDir)
      val (wScaled, sScaled) = run(scaledDir)
      val ratio = wScaled / wBase
      val shapeOk = sBase == sScaled && sBase.nestedLoops == 0
      println(s"""{"workload":"$name","base_sec":${jnum(wBase)},""" +
        s""""scaled_sec":${jnum(wScaled)},"ratio":${jnum(ratio)},""" +
        s""""factor":$factor,"exchanges":${sBase.exchanges},""" +
        s""""exchanges_scaled":${sScaled.exchanges},""" +
        s""""nested_loops":${sScaled.nestedLoops},""" +
        s""""single_partition":${sScaled.singlePartitionExchanges},""" +
        s""""shape_invariant":$shapeOk}""")
      (name, wBase, wScaled, shapeOk)
    }
    val allOk = rows.forall(_._4)
    val worst = rows.map(r => r._3 / r._2).max
    println(s"""{"metric":"scale_smoke","factor":$factor,""" +
      s""""gen_sec":${jnum(genSec)},""" +
      s""""build_base":${buildBase.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")},""" +
      s""""build_scaled":${buildScaled.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")},""" +
      s""""worst_ratio":${jnum(worst)},"all_shapes_invariant":$allOk}""")
    spark.stop()
  }
}
