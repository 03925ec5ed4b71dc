package graft

import graft.functions.VectorOps
import graft.plans.{native, GraftExtensions}
import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 6.0, 3.0)),
    (2L, Seq(0.1, 0.2, 0.3), Seq(0.1, 0.2, 0.3)),
    (3L, Seq(-1.0, 1e-9, 1e9), Seq(1.0, -1e-9, -1e9))
  ).toDF("id", "a", "b")

  test("native sq_dist is bit-identical to the HOF composition") {
    val both = vecs.select(
      native.sq_dist(col("a"), col("b")).as("nat"),
      VectorOps.sqDist(col("a"), col("b")).as("hof"))
    both.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native code_sq_dist equals the HOF fold and registers in SQL") {
    val codes = Seq(
      (1L, Seq(0L, 255L, 17L), Seq(255L, 0L, 17L)),
      (2L, Seq(100L, 100L, 100L), Seq(100L, 100L, 100L)),
      (3L, Seq(0L, 0L, 0L), Seq(255L, 255L, 255L))
    ).toDF("id", "a", "b")
    val both = codes.select(
      native.code_sq_dist(col("a"), col("b")).as("nat"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("hof"))
    both.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    GraftExtensions.register(spark)
    codes.createOrReplaceTempView("codes_t")
    val r = spark.sql("SELECT code_sq_dist(a, b) AS d FROM codes_t WHERE id = 1")
      .as[Long].head()
    assert(r == 2L * 255 * 255)
  }

  test("sq_dist registers as a SQL function via GraftExtensions") {
    GraftExtensions.register(spark)
    vecs.createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT sq_dist(a, b) AS d FROM vecs WHERE id = 1")
      .as[Double].head()
    assert(r == 25.0) // 9 + 16 + 0
  }

  test("sq_dist participates in whole-stage codegen") {
    // a file-backed plan: local relations get constant-folded before codegen
    val emb = Tables.yhEmbeddings(spark, sf("0.001"))
    val plan = emb.select(native.sq_dist(col("Y"), col("Y")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [sq_dist"), s"plan:\n$plan")
  }

  test("plan hygiene: filters and column pruning reach the parquet scan") {
    val plan = SparkEntry.queries("q_filter_pushdown")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"), s"plan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,30.0)"), s"plan:\n$plan")
    // only the 4 needed columns are read, not the 11-column table
    assert(plan.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
        "l_discount:double,l_returnflag:string>"), s"plan:\n$plan")
  }

  test("plan hygiene: dimension joins broadcast, fact side never shuffles for them") {
    val plan = SparkEntry.queries("q_multijoin")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    // customer/nation/region joins must all be broadcast (3+ occurrences)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, s"plan:\n$plan")
  }

  test("plan hygiene: assignment plan is shuffle-free (centroids ride as literals)") {
    val cs = operators.KMeans.seedFirstK(Tables.yhEmbeddings(spark, sf("0.001")), 5)
    val plan = operators.KMeans.assign(Tables.yhEmbeddings(spark, sf("0.001")), cs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("plan hygiene: blocked embedding dedup is an equi-join, never a nested loop") {
    val plan = SparkEntry.queries("dedup_embcos_blocked")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("plan hygiene: q_bucketed_join plans with ZERO Exchange operators") {
    // the whole point of the bucketed pair: join + same-key aggregation
    // co-located at write time — any Exchange in this plan is a regression
    val plan = SparkEntry.queries("q_bucketed_join")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected bucket-aligned SMJ:\n$plan")
  }

  test("plan hygiene: q_bloom_join applies a runtime bloom filter to the fact side") {
    // the selective dim predicate must reach the fact scan as a bloom-filter
    // semi-reduction (might_contain) BEFORE the join shuffle — the plan
    // shape that cuts ~99% of fact traffic when the dim can't broadcast
    val plan = SparkEntry.queries("q_bloom_join")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected a runtime bloom filter on the fact side:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"dim modeled as non-broadcastable — expected a shuffle join:\n$plan")
  }

  test("plan hygiene: q_skew_join splits the skewed partition at runtime (AQE)") {
    // skew optimization is a RUNTIME re-plan: execute first, then read the
    // final adaptive plan — the oversized partition must carry skew=true
    val df = SparkEntry.queries("q_skew_join")(spark, sf("0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected OptimizeSkewedJoin to split the hot partition:\n$plan")
  }

  test("plan hygiene: q_partition_prune reads ONLY the 7 matching day directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = SparkEntry.queries("q_partition_prune")(spark, sf("0.001"))
      .queryExecution.executedPlan
    val inner = plan match { // unwrap AQE — the scan lives in the inner plan
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = inner.collectLeaves().collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"expected a FileSourceScan:\n$plan")
    // the date-range predicate must land as a PARTITION filter (directory
    // pruning before any file is opened), not a post-scan data filter
    assert(scans.head.partitionFilters.nonEmpty,
      s"date range must prune partitions:\n$plan")
    val days = scans.head.selectedPartitions.partitionCount
    assert(days == 7, s"one-week filter over 30 day-partitions must read 7, got $days")
  }

  test("plan hygiene: dedup_incremental probes the corpus index without shuffling it") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = SparkEntry.queries("dedup_incremental")(spark, sf("0.001"))
      .queryExecution.executedPlan
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the corpus-index side of the probe SMJ must be Exchange-free: the
    // bucketed layout IS the shuffle, paid once at index-build time
    val idxSides = inner.collect { case j: SortMergeJoinExec => j }
      .flatMap(j => Seq(j.left, j.right))
      .filter(_.toString.contains("graft_mh_index"))
    assert(idxSides.nonEmpty, s"expected an SMJ probing graft_mh_index:\n$inner")
    val clean = idxSides.filter(s => !s.toString.contains("Exchange"))
    assert(clean.nonEmpty,
      s"index side must arrive pre-bucketed, no Exchange:\n${idxSides.head}")
  }

  test("rangeJoin: boundary semantics and exactly-once pairs across buckets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = Seq((1L, 0L), (2L, 5L), (3L, 9L), (4L, 10L), (5L, 25L), (6L, -3L))
      .toDF("id", "v")
    val iv = Seq(("a", 0L, 10L), ("b", 5L, 26L), ("c", 7L, 7L), ("d", -5L, 2L))
      .toDF("band", "lo", "hi")
    // width 4 forces every interval to span multiple buckets
    val got = operators.Joins.rangeJoin(pts, iv, width = 4L)
      .select("id", "band").as[(Long, String)].collect().toSet
    assert(got == Set(
      (1L, "a"), (2L, "a"), (3L, "a"),          // [0,10): 0,5,9 in; 10 out
      (2L, "b"), (3L, "b"), (4L, "b"), (5L, "b"), // [5,26): incl. 25, excl. none
      (1L, "d"), (6L, "d")))                     // [-5,2): 0 and -3; "c" empty
    // exactly-once: no (point, interval) pair duplicated by the explode
    val n = operators.Joins.rangeJoin(pts, iv, width = 4L).count()
    assert(n == got.size)
    // and the plan is an equi-join on the bucket, never a nested loop
    val plan = operators.Joins.rangeJoin(pts, iv, width = 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("plan hygiene: salted join spreads the hot key over (key, _salt) sub-keys") {
    import org.apache.spark.sql.functions._
    val big = Tables.read(spark, sf("0.001"), "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"))
    val small = big.groupBy("l_returnflag").count()
    // hint the non-broadcast strategy the operator exists for (at real scale
    // the small side is too big to broadcast; at sf0.001 we must force it)
    val j = operators.Joins.saltedEquiJoin(big, small.hint("shuffle_hash"),
      "l_returnflag", col("l_orderkey"), salts = 8)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash join:\n$plan")
    assert(plan.contains("_salt"), s"join keys must include the salt:\n$plan")
    // and the salted join's row multiset equals the plain join's
    val plainCnt = big.join(small, "l_returnflag").count()
    assert(j.count() == plainCnt)
  }

  test("plan hygiene: NO query plans a nested-loop join, except the declared baselines") {
    // dedup_embcos is the documented all-pairs BASELINE (its blocked twin is
    // the scale path); sim_topk and sim_pq_adc broadcast-cross-join the tiny
    // query side by design (the ADC scan side is the compressed codes);
    // text_tfidf and text_cms crossJoin a ONE-row aggregate (the scalar
    // corpus size N / the d×w sketch matrix — the scalar-subquery plan, each
    // stream row meets exactly one build row). Everything else must never
    // nested-loop.
    // sim_pq_rerank embeds the sim_pq_adc nomination stage verbatim — same
    // declared baseline; its re-rank half is an equi-join on vec_id.
    // sim_recall embeds sim_topk as the exact side BY PURPOSE (it measures
    // the IVF ranking against the brute-force baseline); its own stages are
    // an equi-join + aggregation.
    // text_bm25 crossJoins the same ONE-row scalar aggregate as text_tfidf
    // (corpus N + total length) next to its broadcast equi-join on token.
    // dedup_semantic_recall embeds dedup_embcos's all-pairs baseline as its
    // exact side BY PURPOSE (the recall curve measures the blocking against
    // it) — the sim_recall precedent; its blocked side is the cell equi-join.
    // sim_topk_native shares sim_topk's declared-baseline scoring stage —
    // only the rank cut differs (the native two-phase top-k).
    // q_hll crossJoins the same ONE-row scalar aggregate shape as text_tfidf
    // (the exact ALL-scope distinct count riding next to the merged sketch).
    // q_kmv_overlap's pair join is an inequality join over SKETCH-sized
    // sides (S sources × ≤k longs each) — tiny by contract, km_validity's
    // precedent; the corpus-scale stage before it is a plain distinct.
    // sim_sq8 broadcast-cross-joins the same tiny query side as sim_topk —
    // over 64 B/vector SQ8 codes instead of raw floats (the compressed scan
    // is the point; the cell path composes via the ivf equi-join).
    val allowed = Set("dedup_embcos", "sim_topk", "sim_topk_native",
      "sim_pq_adc", "sim_pq_rerank", "sim_recall", "text_tfidf", "text_cms",
      // dedup_semantic_probe is the SAME instrument at semanticDedup's own
      // 0.50 threshold — identical blockedFirstProbe plan, same declared
      // all-pairs exact side
      "text_bm25", "dedup_semantic_recall", "dedup_semantic_probe",
      "q_hll", "q_kmv_overlap",
      // retrieval_hybrid crossJoins the SAME one-row scalar aggregate as
      // text_bm25 (corpus N + total length); its corpus-scale joins are
      // broadcast equi-joins on token and the IVF cell equi-join
      "retrieval_hybrid",
      // retrieval_prf builds text_bm25's tf relation (the same one-row
      // scalar crossJoin); corpus-scale joins are broadcast equi on token
      "retrieval_prf",
      // sim_binary broadcast-cross-joins the tiny query side by design over
      // 16-byte sign codes (the compressed scan IS the point — the sim_sq8
      // precedent); sim_binary_recall embeds it plus the sim_topk exact
      // baseline BY PURPOSE (the sim_recall precedent)
      "sim_binary", "sim_binary_recall",
      "sim_binary_indexed", // the persisted-code twin of the same scan
      // sim_recall_curve embeds the sim_topk exact baseline BY PURPOSE
      // (the sim_recall precedent); its approximate side is the cell
      // equi-join at the max probe level
      "sim_recall_curve",
      // retrieval_mrr embeds sim_topk as the exact side BY PURPOSE (the
      // sim_recall precedent — it measures where the true nearest lands in
      // the IVF ranking); its own stage is a |queries|-row equi-join
      "retrieval_mrr",
      // emb_matryoshka IS a brute-force measurement gauge: every prefix
      // ranking broadcast-cross-joins the tiny query side by design (the
      // sim_topk shape); at scale the curve runs on a sample, like every
      // declared all-pairs baseline
      "emb_matryoshka",
      "text_heavy_hitters", // same one-row CMS-matrix crossJoin as text_cms
      // text_kn_lm crossJoins the ONE-row bigram-type-count scalar (the
      // text_tfidf precedent); its corpus-scale joins are equi on w1/w2
      "text_kn_lm",
      // q_zorder_skip crossJoins the |preds|-row LITERAL box frame against
      // the nFiles×|layouts| zone-map stats — both sides tiny by
      // construction; the corpus-scale work is the globalNtile range shuffle
      "q_zorder_skip",
      "sim_sq8", "sim_sq8_native", // native twin shares the same scan shape
      // text_source_chi2's pair frame is an inequality join over the
      // |sources|-row totals — driver-tiny by contract (km_validity's
      // precedent); the corpus-scale stage is the vocab equi-join.
      "text_source_chi2",
      // doc_mix_temperature crossJoins the ONE-row Σ-weight scalar against
      // the |sources|-row aggregate (text_tfidf's scalar-subquery shape);
      // the corpus-scale stage is the map-side-combined groupBy(source)
      "doc_mix_temperature",
      // sim_cell_balance crossJoins the ONE-row total against the
      // |cells|-row occupancy rollup — the same scalar-subquery shape
      "sim_cell_balance",
      // sim_cell_rebalance aggregates that census to its one-row decision —
      // the identical inherited scalar crossJoin, nothing corpus-scale added
      "sim_cell_rebalance")
    // skipped: queries whose CONSTRUCTION runs eager driver work (full fits,
    // O(n²) pair-stat collects) — their inner plans are asserted elsewhere.
    // km_validity's k×k (4×4-row) centroid-pair join is an intentional
    // nested loop over driver-known-tiny sides, like the silhouettes'.
    val eager = Set("km_fit", "km_fit_mllib", "km_wcr_log", "km_optimal_k",
      "sim_mmr", // greedy MMR rounds collect the k winners during construction
      "km_silhouette", "km_silhouette_rousseeuw", "km_delta", "km_validity",
      // construction runs training/fit loops: BPE merge training, the full
      // un-memoized pipeline (LSH + label propagation), per-subspace PQ fits
      "text_bpe_train", "text_bpe_apply", "pipeline_full", "emb_pq_fitted",
      // pipeline_provenance re-runs pipeline_full's un-memoized LSH +
      // label-propagation stages at construction — same exemption
      "pipeline_provenance",
      "doc_quality_lr", // LBFGS fit runs during construction
      "km_fit_minibatch", // the mini-batch loop runs during construction
      "km_fit_bisecting", // the MLlib bisecting fit runs during construction
      // seed→fit→census chain (local below 100k rows) runs during
      // construction; returns a driver-local stats relation
      "km_gap_fitted",
      "text_zipf", // top-k collect + driver regression during construction
      "emb_pca", // the stats collect + power iteration run during construction
      // sim_kcenter: the greedy farthest-point loop runs during
      // construction and returns a driver-local picks relation — its real
      // per-round plans (scan + TakeOrdered) never appear in the final
      // plan, so sweeping it would execute the traversal and assert nothing
      "sim_kcenter",
      // events_attribution_markov: the sessionized edge matrix collects at
      // construction (|event types|²-bounded by contract) and the value
      // iteration is driver state — the result is a driver-local relation,
      // the sim_kcenter precedent
      "events_attribution_markov")
    // NOTE (recorded semantics, still gated): doc_curriculum runs eager
    // driver work during construction (globalRankAndCount's partition-size
    // pass + the bucket-sum collect) — the events_survival precedent; its
    // FINAL plan (cached ranked relation + per-bucket windows) is real and
    // stays under both sweeps.
    // NOTE (recorded semantics, still gated): events_survival runs ONE eager
    // scan during construction (the max(day) horizon scalar) — the accepted
    // trade that killed its BroadcastNestedLoopJoin, so it stays IN this
    // sweep; building its plan executes that one job.
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(eager).filterNot(allowed)
      .filter { name =>
        SparkEntry.queries(name)(spark, sf("0.001"))
          .queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"nested-loop joins in: $offenders")
  }

  test("plan hygiene: NO query plans a WINDOW over an Exchange SinglePartition, except the declared k-sized/scalar cases") {
    // The one scale-killer class the nested-loop gate doesn't police: an
    // un-partitioned window (or its Sort) fed by Exchange SinglePartition
    // funnels the whole input through ONE task. Legitimate only when the
    // exchanged relation is k-sized/scalar BY CONTRACT (a top-k survivor
    // set, a per-group census, a handful of steps) — those are allow-listed
    // with the contract named. Detection: a Window/Sort node whose input
    // exchange is SinglePartition in the executed-plan tree text.
    // The corpus-sized offenders this gate originally caught were FIXED:
    // doc_len_deciles / doc_ppl_buckets / text_vocab_curve / q_lorenz /
    // q_rfm now cut buckets via Ranking.globalNtile (range-partitioned,
    // value-identical to the window ntile their oracles still run),
    // doc_shard ranks via Ranking.globalRank, and q_entropy's scalar-N
    // window closed into the aggregate itself.
    def offendingWindow(plan: String): Boolean = {
      val lines = plan.split("\n")
      lines.indices.exists { i =>
        lines(i).contains("Exchange SinglePartition") &&
          (math.max(0, i - 3) until i).exists(j =>
            lines(j).contains("Window") || lines(j).contains(" Sort "))
      }
    }
    val allowed = Set(
      // doc_balance: window min over the per-LANGUAGE counts relation
      // (|langs| rows at any corpus size)
      "doc_balance",
      // doc_pareto: running min over the per-SCORE-LEVEL relation — the
      // score is an integer per-mille, so the relation is <= 1001 rows
      "doc_pareto",
      // events_concurrency / events_cusum / events_forecast_naive /
      // events_survival: running sums over per-DAY rollups — calendar-
      // bounded relations (the two-level sweep's day-level base)
      "events_concurrency", "events_cusum", "events_forecast_naive",
      "events_survival",
      // events_mwu: ordered prefix over the distinct-CENT-VALUE relation,
      // bounded by the value domain (~56k rows) regardless of event count
      "events_mwu",
      // q_key_skew: scalar totals over the multiplicity HISTOGRAM
      // (distinct rows-per-key values — log-scale-bounded)
      "q_key_skew",
      // q_lorenz / text_vocab_curve: only the cumulative window over the
      // 10-row decile ROLLUP is single-partition (the corpus/vocab-sized
      // cut itself runs through Ranking.globalNtile)
      "q_lorenz", "text_vocab_curve",
      // doc_mix_temperature: remainder rank + Σ-base windows over the
      // per-SOURCE aggregate (|sources| rows at any corpus size —
      // doc_balance's contract)
      "doc_mix_temperature")
    val eager = Set("km_fit", "km_fit_mllib", "km_wcr_log", "km_optimal_k",
      "sim_mmr", "km_silhouette", "km_silhouette_rousseeuw", "km_delta",
      "km_validity", "text_bpe_train", "text_bpe_apply", "pipeline_full",
      "emb_pq_fitted", "doc_quality_lr", "km_fit_minibatch",
      "km_fit_bisecting", "emb_pca",
      "sim_kcenter") // greedy loop at construction; final plan is driver-local
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(eager).filterNot(allowed)
      .filter { name =>
        offendingWindow(SparkEntry.queries(name)(spark, sf("0.001"))
          .queryExecution.executedPlan.toString)
      }
    assert(offenders.isEmpty, s"single-partition windows in: $offenders")
  }

  test("dedup_simhash_blocked plans the pigeonhole chunk EQUI-join") {
    val plan = SparkEntry.queries("dedup_simhash_blocked")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocked simhash must never nested-loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join:\n$plan")
    // candidates come from the chunk attributes, not a fingerprint cross
    assert(plan.contains("cidx") && plan.contains("cval"),
      s"chunk keys missing from the plan:\n$plan")
  }

  test("native poly_hash_base / poly_fold match their interpreted HOF folds") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val strBad = docs.select(
        native.poly_hash_base(col("text"), 131L, 1000000007L).as("a"),
        aggregate(transform(split(col("text"), ""), c => ascii(c)), lit(0L),
          (h, c) => (h * 131 + c) % 1000000007L).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(strBad == 0)
    val foldBad = docs.select(
        native.poly_fold(native.token_ids(col("text")), 131L, 1000000007L).as("a"),
        aggregate(native.token_ids(col("text")), lit(0L),
          (h, x) => (h * 131 + x) % 1000000007L).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(foldBad == 0)
    // edge strings incl. empty, multi-byte codepoints, surrogate pairs
    import spark.implicits._
    val edge = Seq("", "a", "κόσμε", "𝄞 clef", "a|b|c|1234").toDF("s")
    val edgeBad = edge.select(
        native.poly_hash_base(col("s"), 131L, 1000000007L).as("a"),
        aggregate(transform(split(col("s"), ""), c => ascii(c)), lit(0L),
          (h, c) => (h * 131 + c) % 1000000007L).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(edgeBad == 0)
  }

  test("roundHalfUp fast path equals the BigDecimal HALF_UP definition") {
    import graft.plans.PairDistStats.{roundHalfUp, roundHalfUpBigDecimal}
    val boundaries = (0 to 60).map(k => k + 0.5)
    val nearBoundaries = boundaries.flatMap(b =>
      Seq(Math.nextDown(b), b, Math.nextUp(b)))
    val adversarial = Seq(0.0, 0.49999999999999994, 0.9999999999999999,
      1.4999999999999998, 2.4999999999999996, 4503599627370495.5,
      Math.nextDown(4.503599627370496e15), 1e15 + 0.5, 123456.789)
    val rnd = new scala.util.Random(7)
    val randoms = Seq.fill(200000)(rnd.nextDouble() * 2e9)
    (nearBoundaries ++ adversarial ++ randoms).foreach { d =>
      assert(roundHalfUp(d) == roundHalfUpBigDecimal(d),
        s"d=$d fast=${roundHalfUp(d)} bd=${roundHalfUpBigDecimal(d)}")
    }
  }

  test("roundHalfUp rounds negative midpoints away from zero and 0.49999999999999994 to 0, " +
      "as Spark's round does") {
    import org.apache.spark.sql.functions.{round => sparkRound}
    val xs = Seq(-0.5, -1.5, -2.5, -3.5, -1e6 - 0.5, 0.5, 2.5, 0.49999999999999994,
      -0.49999999999999994, -2.4999999999999996, Math.nextDown(-2.5), Math.nextUp(-2.5), -0.0)
    val want = xs.toDF("x").select(sparkRound(col("x")).cast("long")).as[Long].collect().toSeq
    assert(xs.map(graft.plans.PairDistStats.roundHalfUp) == want)
    assert(xs.map(graft.operators.KMeans.roundHalfUpLong) == want)
    assert(graft.plans.PairDistStats.roundHalfUp(-2.5) == -3L)
    // the floor(v + 0.5) form rounds it up: 0.49999999999999994 + 0.5 is 1.0
    assert(math.floor(0.49999999999999994 + 0.5) == 1.0 && want(7) == 0L)
  }

  test("roundHalfUpDistance is roundHalfUp on non-negative values, NaN and +Infinity") {
    import graft.plans.PairDistStats.{roundHalfUp, roundHalfUpDistance}
    val boundaries = (0 to 60).map(k => k + 0.5) ++ Seq(4503599627370495.5, 1e15 + 0.5)
    val ladder = boundaries.flatMap(b => Seq(Math.nextDown(b), b, Math.nextUp(b)))
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, 0.49999999999999994, 0.9999999999999999,
      Math.nextDown(4.503599627370496e15), 4.503599627370496e15, 9.3e18, Double.MaxValue,
      Double.PositiveInfinity, Double.NaN)
    val rnd = new scala.util.Random(11)
    (ladder ++ edges ++ Seq.fill(200000)(rnd.nextDouble() * 2e9)).foreach { d =>
      assert(roundHalfUpDistance(d) == roundHalfUp(d), s"d=$d")
    }
  }

  test("native nearest_sq_dist equals the HOF min fold on real data") {
    val yh = Tables.yhOrders(spark, sf("0.001"))
    val cs = graft.operators.KMeans.seedFirstK(yh, 5).map(_.c)
    val bad = yh.select(
      native.nearest_sq_dist(col("Y"), cs).as("a"),
      VectorOps.nearestSqDist(col("Y"), cs).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(bad == 0)
    // 64-dim embeddings too (different dim, negative coords)
    val emb = Tables.yhEmbeddings(spark, sf("0.001"))
    val ecs = graft.operators.KMeans.seedFirstK(emb, 3).map(_.c)
    val badE = emb.select(
      native.nearest_sq_dist(col("Y"), ecs).as("a"),
      VectorOps.nearestSqDist(col("Y"), ecs).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(badE == 0)
  }

  test("native minhash_sigs equals the per-hash HOF composition on real docs") {
    import graft.operators.Dedup.{mhA, mhB, MinhashP}
    val docs = Tables.read(spark, sf("0.001"), "documents")
      .select(col("doc_id"), native.shingle_ids(col("text"), 3).as("ids"))
    val hof = (0 until 16).map { i =>
      array_min(transform(col("ids"), x => (x * mhA(i) + mhB(i)) % MinhashP)).as(s"h$i")
    }
    val both = docs.select(
      (col("doc_id") +: native.minhash_sigs(col("ids"), 16).as("sigs") +: hof): _*)
    val bad = both.filter((0 until 16)
      .map(i => !(element_at(col("sigs"), i + 1) <=> col(s"h$i")))
      .reduce(_ || _)).count()
    assert(bad == 0)
    // empty id array -> all-null signatures, like array_min over empty
    graft.plans.GraftExtensions.register(spark)
    val e = spark.sql("SELECT minhash_sigs(cast(array() as array<bigint>), 4) AS s")
      .head().getSeq[Any](0)
    assert(e.size == 4 && e.forall(_ == null))
  }

  test("native char_trigrams equals the substring-HOF composition on real docs") {
    val hof = expr(
      """CASE WHEN length(lower(text)) >= 3
        |  THEN array_distinct(transform(
        |    sequence(1, length(lower(text)) - 2),
        |    i -> substring(lower(text), i, 3)))
        |  ELSE CAST(array() AS array<string>) END""".stripMargin)
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val bad = docs.select(native.char_trigrams(col("text")).as("a"), hof.as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(bad == 0)
    // edge cases: sub-trigram strings, mixed case, multi-byte chars
    import spark.implicits._
    val edge = Seq("", "ab", "AbCd", "ÀbÇdÉ", "aaaa").toDF("text")
    val badE = edge.select(native.char_trigrams(col("text")).as("a"), hof.as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(badE == 0)
  }

  test("cms_sketch: estimates are exact-or-above and partitioning-invariant") {
    import spark.implicits._
    val ids = (1 to 500).map(i => Seq.fill(i % 7 + 1)(i.toLong)).toDF("ids")
    // small width forces collisions — the one-sided error must stay one-sided
    val sk1 = ids.repartition(7).agg(native.cms_sketch(col("ids"), w = 32, d = 2).as("cms"))
    val sk2 = ids.repartition(2).agg(native.cms_sketch(col("ids"), w = 32, d = 2).as("cms"))
    assert(sk1.head().getSeq[Long](0) == sk2.head().getSeq[Long](0),
      "merge must be partitioning-invariant")
    val exact = ids.select(explode(col("ids")).as("id")).groupBy("id").count()
    val est = exact.crossJoin(broadcast(sk1)).select(col("id"), col("count"),
      native.cms_estimate(col("cms"), col("id"), w = 32, d = 2).as("est"))
    assert(est.filter(col("est") < col("count")).count() == 0,
      "CMS may only over-estimate")
    assert(est.filter(col("est") > col("count")).count() > 0,
      "w=32 against 500 ids must actually collide, or the test is vacuous")
  }

  test("hll_sketch: partitioning-invariant registers; slice merge == global; " +
      "raw estimate lands within the published error band") {
    import spark.implicits._
    val n = 20000
    val ids = (1 to n).map(i => (i.toLong, i % 5)).toDF("id", "g")
    val direct = ids.repartition(7).agg(native.hll_sketch(col("id"), p = 8).as("regs"))
    val direct2 = ids.repartition(2).agg(native.hll_sketch(col("id"), p = 8).as("regs"))
    assert(direct.head().getSeq[Int](0) == direct2.head().getSeq[Int](0),
      "register merge must be partitioning-invariant")
    // union of slice sketches == sketch of the union (the rollup contract)
    val merged = ids.groupBy("g").agg(native.hll_sketch(col("id"), p = 8).as("regs"))
      .select(posexplode(col("regs")).as(Seq("i", "r")))
      .groupBy("i").agg(max(col("r")).as("r"))
      .agg(array_sort(collect_list(struct(col("i"), col("r")))).as("pairs"))
      .select(transform(col("pairs"), x => x.getField("r")).as("regs"))
    assert(merged.head().getSeq[Int](0) == direct.head().getSeq[Int](0),
      "elementwise-max of per-slice registers must equal the global sketch")
    // duplicate-insensitivity: tripling the rows changes nothing
    val dup = ids.union(ids).union(ids)
      .agg(native.hll_sketch(col("id"), p = 8).as("regs"))
    assert(dup.head().getSeq[Int](0) == direct.head().getSeq[Int](0))
    // raw-estimator accuracy: 1.04/sqrt(256) = 6.5% standard error; 4 sigma
    val est = direct.select(native.hll_estimate(col("regs"), p = 8)).head().getLong(0)
    assert(math.abs(est - n.toDouble) / n < 0.26, s"estimate $est vs exact $n")
  }

  test("hll hash32/rho: golden values pin the cross-engine hash contract") {
    import graft.plans.HllSketch.{hash32, rho}
    // frozen outputs of the documented multiply-xorshift rounds — any change
    // here silently breaks every persisted sketch and the DuckDB oracle
    assert(hash32(0L) == 0L)
    val golden = Seq(1L, 2L, 12345L, (1L << 32) + 7L, Long.MaxValue)
    val expect = Seq(544027445L, 1168933561L, 1197308007L, 2284034602L,
      1961653632L) // independently computed (python), frozen literals
    assert(golden.map(hash32) == expect)
    assert(rho(0L, 24) == 25 && rho(1L, 24) == 24 && rho(1L << 23, 24) == 1)
    // SQL-surface registration: the same aggregate by name
    graft.plans.GraftExtensions.register(spark)
    import spark.implicits._
    (1L to 100L).toDF("id").createOrReplaceTempView("hll_ids")
    val viaSql = spark.sql("SELECT hll_sketch(id, 6) AS regs FROM hll_ids")
      .head().getSeq[Int](0)
    val viaCol = (1L to 100L).toDF("id")
      .agg(native.hll_sketch(col("id"), p = 6)).head().getSeq[Int](0)
    assert(viaSql == viaCol)
  }

  test("native poly_hash equals the HOF tokenId fold on real document tokens") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("t"))
    val cmp = toks.select(
      native.poly_hash(col("t")).as("a"),
      graft.operators.Dedup.tokenId(col("t")).as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
  }

  test("native shingle expressions equal their HOF executable specs") {
    import graft.operators.Dedup
    // real documents + handpicked edge cases: empty text, single token,
    // consecutive/trailing spaces (split(" ") keeps empty tokens), repeats
    val edge = Seq("", "one", "a b", "a  b", "trail ", "x y x y x y").toDF("text")
    val real = Tables.read(spark, sf("0.001"), "documents").select("text")
    for (df <- Seq(edge, real); n <- Seq(1, 3, 5)) {
      val hofSh = Dedup.shingles(Dedup.tokens(col("text")), n)
      val cmp = df.select(
        native.word_shingles(col("text"), n).as("nat"),
        hofSh.as("hof"),
        native.shingle_ids(col("text"), n).as("nat_ids"),
        array_distinct(transform(hofSh, native.poly_hash _)).as("hof_ids"),
        native.token_ids(col("text")).as("nat_tok"),
        transform(split(col("text"), " "), native.poly_hash _).as("hof_tok"))
      assert(cmp.filter(col("nat") =!= col("hof")).count() == 0, s"shingles n=$n")
      assert(cmp.filter(col("nat_ids") =!= col("hof_ids")).count() == 0, s"ids n=$n")
      assert(cmp.filter(col("nat_tok") =!= col("hof_tok")).count() == 0, "token ids")
    }
  }

  test("word_shingles registers in SQL and participates in whole-stage codegen") {
    GraftExtensions.register(spark)
    val docs = Tables.read(spark, sf("0.001"), "documents")
    docs.createOrReplaceTempView("docs_ws")
    val r = spark.sql("SELECT size(word_shingles(text, 3)) AS n FROM docs_ws")
    assert(r.agg(min(col("n"))).head().getInt(0) >= 1)
    val plan = docs.select(native.word_shingles(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [word_shingles"), s"plan:\n$plan")
  }

  test("nearestIdNative agrees with nearestId on random vectors") {
    val data = Tables.yhEmbeddings(spark, sf("0.001"))
    val cs = operators.KMeans.seedFirstK(data, 7)
    val cmp = data.select(
      VectorOps.nearestId(col("Y"), cs.map(_.j), cs.map(_.c)).as("a"),
      native.nearestIdNative(col("Y"), cs.map(_.j), cs.map(_.c)).as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
  }

  test("persisted artifacts are dir-keyed: a revisited dir serves its own data") {
    // The artifact-backed queries (bucketed pair, MinHash index, IVF index,
    // partitioned events) memoize the BUILD per dir but persist to global
    // names; without a dir tag in the name, serving dir A, then dir B, then
    // A again would hit A's memo and silently read B's artifact. Pin the
    // A -> B -> A sequence on the three cheap artifact queries.
    def counts(d: String): (Long, Long, Long) = (
      SparkEntry.queries("q_bucketed_join")(spark, d).count(),
      SparkEntry.queries("dedup_incremental")(spark, d).count(),
      SparkEntry.queries("q_partition_prune")(spark, d)
        .agg(sum(col("cnt"))).head().getLong(0))
    val a1 = counts(sf("0.001"))
    val b = counts(sf("0.01"))
    val a2 = counts(sf("0.001"))
    assert(a1 == a2, s"revisited dir must serve its own artifacts: $a1 vs $a2")
    assert(a1 != b, "scale factors must be distinguishable for this pin to bite")
  }

  test("stale artifact generations are pruned; foreign fresh artifacts survive") {
    // tags derive from fixture mtimes: a leftover OWN-pid dir from a
    // rewritten fixture (its tag is not live in this process) must be
    // cleaned up when the same artifact family is written again — but a
    // fresh dir owned by ANOTHER live process (different pid prefix) must
    // NOT be, else a bench run alongside sbt test could delete the other
    // JVM's live artifacts mid-query.
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val pid = ProcessHandle.current().pid()
    val stale = new java.io.File(s"$tmp/graft_orc_roundtrip_p${pid}xdeadbeef")
    val foreign = new java.io.File(s"$tmp/graft_orc_roundtrip_p${pid + 1}xcafe")
    stale.mkdirs()
    foreign.mkdirs()
    try {
      assert(SparkEntry.queries("q_orc_roundtrip")(spark, sf("0.001")).count() > 0)
      assert(!stale.exists(), "own-pid non-live generation must be pruned on rebuild")
      assert(foreign.exists(), "another live process's fresh artifact must survive")
    } finally { foreign.delete(); () }
  }
}
