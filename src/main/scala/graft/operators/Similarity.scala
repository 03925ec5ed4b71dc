package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k: the correctness baseline.
  *    O(q·n) pair space; fine when the query set is small (broadcast) or as
  *    the final re-rank inside a candidate cell.
  *  - [[ivfTopK]] — IVF-style ANN: partition vectors into coarse cells
  *    (inverted file), probe only the nProbe nearest cells per query. The
  *    candidate join is an EQUI-join on cell id — the property that scales:
  *    at 100 TB the vectors are hash-partitioned by cell, each probe touches
  *    nProbe/nCells of the data, and no global cross join ever happens.
  *
  * Coarse centroids are caller-supplied (here: deterministic fixed vectors so
  * the DuckDB oracle can replay the exact plan); production wires
  * `KMeans.fit(...).centroids` in — same shapes.
  */
object Similarity {

  private def emb2v(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Embedding post-processing for storage/ANN: L2 norm plus int8
    * quantization of the leading dimensions (`round(127·x/‖x‖)`), the
    * standard shrink step before writing a vector index. Per-row only — no
    * shuffle, embarrassingly parallel at any scale. All outputs are integer
    * (fixed-point norm, quantized dims) so the DuckDB oracle matches
    * hash-exactly: the norm is the same left fold `(0+x₀²)+x₁²+…` both
    * engines evaluate, and zero vectors quantize to 0 instead of NaN.
    */
  def normalizeQuantize(emb: DataFrame, qDims: Int = 4): DataFrame = {
    val norm = sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
    val qs = (1 to qDims).map { d =>
      when(col("norm") > 0,
        round(element_at(col("v"), d) / col("norm") * 127).cast("long"))
        .otherwise(0L).as(s"q$d")
    }
    emb2v(emb)
      .withColumn("norm", norm)
      .select(col("vec_id") +: round(col("norm") * 1e6).cast("long").as("norm_e6") +: qs: _*)
  }

  /** Exact top-k cosine neighbors for each query vector (queries = vec_id <
    * nQueries, deterministic). Ties broken by neighbor id; similarity
    * reported fixed-point (`cos_e6`).
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("c"), col("n_id"))
    bruteForceScored(emb, nQueries)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("c") * 1e6).cast("long").as("cos_e6"))
  }

  /** [[bruteForceTopK]] with the rank cut planned through the NATIVE
    * two-phase top-k operator ([[graft.plans.TopKPerGroupNode]]) instead of
    * the row_number window: identical values (same total order, same
    * 1-based rank), but the per-query candidate set is pruned to k rows
    * per input partition BEFORE the shuffle — the plan that survives a
    * billion-candidate ranking stage. Same oracle as the window form.
    */
  def bruteForceTopKNative(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    TopK.perGroup(bruteForceScored(emb, nQueries), Seq("q_id"),
        Seq("c" -> true, "n_id" -> false), k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("c") * 1e6).cast("long").as("cos_e6"))

  /** The shared candidate-scoring stage of the brute-force rankings. */
  private def bruteForceScored(emb: DataFrame, nQueries: Int): DataFrame = {
    import graft.plans.native
    val e = emb2v(emb).withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("qn"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (native.dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("c"))
  }

  /** Measured recall@k of an approximate top-k against the exact one — the
    * "measure, don't guess" gauge every ANN deployment needs before trading
    * recall for probe count. Inputs are any two (q_id, n_id, …) rankings
    * (e.g. [[bruteForceTopK]] vs [[ivfTopK]]); output is one row per query:
    * hit count, exact-list size, and recall in exact ppm (pure integer
    * arithmetic end to end, so the DuckDB oracle hash-matches).
    *
    * Scale shape: one equi-join on (q_id, n_id) + one per-query aggregation
    * over k·|queries| rows — negligible next to the searches themselves.
    */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id"), lit(1L).as("hit")),
        Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        count(lit(1)).as("k_exact"))
      .select(col("q_id"), col("n_hit"), col("k_exact"),
        expr("n_hit * 1000000 div k_exact").as("recall_ppm"))

  /** Reciprocal-rank gauge of an approximate ranking against the exact one —
    * [[annRecall]]'s set-overlap view answers "how much of the true top-k
    * survives"; this answers the retrieval question "how far down does the
    * TRUE NEAREST neighbor land". Relevant = the exact ranking's rank-1 row
    * per query; `rr_ppm = 10⁶ div rank_approx` (0 when the approximate list
    * misses it entirely — the MRR convention), pure integers end to end so
    * the DuckDB oracle hash-matches. Averaging rr_ppm over queries is MRR@k.
    *
    * Scale shape: a |queries|-row equi-join against the approximate
    * ranking's k·|queries| rows — negligible next to the searches.
    */
  /** Per-rank nDCG discount weights as INTEGER literals: w(i) =
    * round(10⁶/log₂(i+1)) for ranks 1..k, computed ONCE driver-side and
    * inlined into both the Spark plan and the oracle SQL (the [[lshSigns]]
    * shared-literal discipline) — cross-engine log ulp differences can
    * never flip a rounding because neither engine ever computes a log.
    */
  def ndcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** Label-relevance nDCG@k of a ranking — the graded retrieval-quality
    * metric next to [[mrr]]: a retrieved neighbor is RELEVANT when it
    * shares the query's ground-truth label; DCG sums the integer discount
    * weights at the relevant ranks; IDCG is the best achievable with the
    * corpus's own relevant count (min(k, n_rel) top weights — the metric
    * never rewards a ranking for relevance the corpus cannot supply).
    * Pure integer arithmetic end to end ([[ndcgWeights]]), so the oracle
    * hash-matches. One row per query: (q_id, n_rel, hits, ndcg_ppm).
    */
  def ndcgAtK(emb: DataFrame, ranking: DataFrame, k: Int = 10): DataFrame = {
    val w = ndcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail // prefix(j) = sum of top-j weights
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("lab"))
    val qLab = labels.select(col("vec_id").as("q_id"), col("lab").as("q_lab"))
    val nLab = labels.select(col("vec_id").as("n_id"), col("lab").as("n_lab"))
    // corpus-side relevant count per query (exclude the query itself)
    val nRel = qLab.join(labels,
        col("lab") === col("q_lab") && col("vec_id") =!= col("q_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val dcg = ranking.join(qLab, "q_id").join(nLab, "n_id")
      .groupBy("q_id")
      .agg(sum(when(col("n_lab") === col("q_lab"),
          element_at(typedlit(w), col("rnk").cast("int"))).otherwise(0L))
          .as("dcg_e6"),
        sum(when(col("n_lab") === col("q_lab"), 1L).otherwise(0L)).as("hits"))
    dcg.join(nRel, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"),
        when(coalesce(col("n_rel"), lit(0L)) === 0L, 0L)
          .otherwise(expr(s"dcg_e6 * 1000000 div " +
            s"element_at(array(${prefix.mkString(",")}), " +
            s"int(least(n_rel, $k)))"))
          .as("ndcg_ppm"))
  }

  def mrr(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.filter(col("rnk") === 1)
      .select(col("q_id"), col("n_id").as("relevant_id"))
      .join(approx.select(col("q_id"), col("n_id").as("relevant_id"),
          col("rnk").as("rank_approx")),
        Seq("q_id", "relevant_id"), "left")
      .select(col("q_id"), col("relevant_id"), col("rank_approx"),
        coalesce(expr("1000000 div rank_approx"), lit(0L)).as("rr_ppm"))

  /** 1-bit binary embedding search — the extreme end of the compression
    * ladder (SQ8 → PQ → 1 bit/dim): each vector stores only its per-dim
    * SIGN bits, packed into two 32-bit words (8 bytes for 64 dims — a 32×
    * scan-bandwidth cut vs float64), candidates shortlist by Hamming
    * distance (`bit_count(xor)` — one fused codegen'd expression per word
    * pair), and the top `rerankN` re-rank by exact cosine over fetched
    * vectors only (the sim_pq_rerank two-stage shape). Packing uses two
    * words, not one: bit 63 of a single long flips its sign and ANSI
    * engines reject the `1<<63` overflow — two half-words keep every shift
    * exact in both engines.
    *
    * All outputs integer/fixed-point; the oracle replays the identical
    * pack, xor-popcount, and tie orders, so the ranking hash-matches.
    *
    * Scale shape: the Hamming scan reads 16 bytes/vector (codes only);
    * queries broadcast; the rerank fetches `rerankN` full vectors per
    * query through the shortlist join — never a full-precision corpus
    * scan.
    */
  /** The sign-bit pack shared by the direct and indexed binary searches —
    * two 32-bit words per vector (the stored unit of `ensureBinaryIndex`).
    */
  def binaryCodes(emb: DataFrame): DataFrame = {
    def word(lo: Int): Column =
      (0 until 32).map(i => when(element_at(col("v"), lo + i + 1) > 0.0,
        lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    emb2v(emb).select(col("vec_id"), word(0).as("c0"), word(32).as("c1"))
  }

  def binaryTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
      rerankN: Int = 30): DataFrame =
    binaryTopKFrom(binaryCodes(emb), emb, nQueries, k, rerankN)

  /** [[binaryTopK]] probing a PERSISTED code table — the build/probe split
    * extends to the 1-bit ladder rung: the pack is paid once at build, and
    * a probe's Hamming scan reads the stored 16-byte codes with zero
    * query-time packing. Same oracle (longs roundtrip parquet exactly).
    */
  def binaryTopKIndexed(emb: DataFrame, table: String, nQueries: Int = 5,
      k: Int = 10, rerankN: Int = 30): DataFrame =
    binaryTopKFrom(emb.sparkSession.table(table), emb, nQueries, k, rerankN)

  /** The shared search over ANY `(vec_id, c0, c1)` code relation: Hamming
    * shortlist over the CODES ONLY (the 16-byte scan IS the point — raw
    * vectors never ride through it), then full vectors fetched for the
    * rerankN shortlist via the id equi-join and exact-cosine re-ranked.
    */
  private def binaryTopKFrom(codes: DataFrame, emb: DataFrame,
      nQueries: Int, k: Int, rerankN: Int): DataFrame = {
    require(rerankN >= k,
      s"rerankN ($rerankN) < k ($k): the shortlist could not fill the top-k")
    val qc = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("c0").as("qc0"), col("c1").as("qc1"))
    val ham = codes.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        expr("bit_count(qc0 ^ c0) + bit_count(qc1 ^ c1)")
          .cast("long").as("hamming"))
    binaryRerank(ham, emb, nQueries, k, rerankN)
  }

  /** IVF + 1-bit composition — the FAISS IndexBinaryIVF shape, completing
    * the compression × blocking matrix next to IVF-PQ and IVF-SQ8: each
    * vector stores its coarse cell and the two sign words; a probe
    * Hamming-scans ONLY the nProbe probed cells' 16-byte codes (an
    * equi-join on cell id, never the full code scan `binaryTopK` runs),
    * then the rerankN shortlist fetches full vectors for the exact-cosine
    * re-rank. At 100 TB the code table is hash-partitioned by cell and a
    * probe touches nProbe/nCells of 16 bytes/vector — the cheapest scan in
    * the ladder.
    */
  def ivfBinaryTopK(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nQueries: Int = 5, nProbe: Int = 2, k: Int = 10,
      rerankN: Int = 30): DataFrame = {
    require(rerankN >= k,
      s"rerankN ($rerankN) < k ($k): the shortlist could not fill the top-k")
    val e = emb2v(emb)
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val coded = binaryCodes(emb)
      .join(e.select(col("vec_id"),
        nearestId(col("v"), ids, cs).as("cell")), "vec_id")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cellDists = q.select(col("q_id"),
        explode(zip_with(typedlit(ids), typedlit(cs),
          (j, c) => struct(j.as("cid"), sqDist(c, col("qv")).as("d")))).as("x"))
      .select(col("q_id"), col("x.cid").as("cell"), col("x.d").as("d"))
    val wProbe = Window.partitionBy("q_id").orderBy(col("d"), col("cell"))
    val probes = cellDists.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("cell"))
    val qc = binaryCodes(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("c0").as("qc0"), col("c1").as("qc1"))
    val ham = probes.join(coded, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qc), "q_id")
      .select(col("q_id"), col("vec_id").as("n_id"),
        expr("bit_count(qc0 ^ c0) + bit_count(qc1 ^ c1)")
          .cast("long").as("hamming"))
    binaryRerank(ham, emb, nQueries, k, rerankN)
  }

  /** The shared shortlist → exact-rerank tail of the binary searches: cut
    * the Hamming candidates to rerankN per query, fetch full vectors for
    * the shortlist only (id equi-join — raw vectors never ride the scan),
    * re-rank by exact cosine.
    */
  private def binaryRerank(ham: DataFrame, emb: DataFrame, nQueries: Int,
      k: Int, rerankN: Int): DataFrame = {
    import graft.plans.native
    val e = emb2v(emb)
    val wh = Window.partitionBy("q_id").orderBy(asc("hamming"), col("n_id"))
    val short = ham.withColumn("hr", row_number().over(wh))
      .filter(col("hr") <= rerankN)
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = native.dot(col("qv"), col("v")) /
      (sqrt(native.dot(col("qv"), col("qv"))) * sqrt(native.dot(col("v"), col("v"))))
    val wr = Window.partitionBy("q_id").orderBy(desc("c"), col("n_id"))
    short
      .join(e.select(col("vec_id").as("n_id"), col("v")), "n_id")
      .join(broadcast(qv), "q_id")
      .withColumn("c", c)
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("hamming"),
        round(col("c") * 1e6).cast("long").as("cos_e6"))
  }

  /** Matryoshka (prefix-dimension) recall curve — the MRL storage/recall
    * gauge (Kusupati et al. 2022): rank by cosine over only the FIRST `d`
    * dimensions for each `d` in `dims`, and measure each truncated
    * ranking's recall against the full-dimension top-k. Prefix-truncation
    * is the matryoshka deployment move: a `d`-dim probe reads `d/full` of
    * the vector bytes (at scale the prefix lives as its own column/file),
    * and this curve is the measurement that licenses the cut — the
    * sim_recall discipline applied to dimensionality instead of probes.
    *
    * Exactness: each prefix cosine is the same left-fold dot/norm the full
    * cosine runs, just stopped at `d` (`slice` + the native kernel,
    * bit-identical to the oracle's `list_slice` fold); recall is pure
    * integer ppm. The `d = full` row measures 10⁶ by construction — the
    * built-in sanity row.
    *
    * Scale shape: ONE pair scan computes every prefix score (the per-d
    * folds share the row), one window per (d, query) ranks, and the tiny
    * ranked relation (k·|queries|·|dims| rows) joins itself for the hit
    * counts — persisted because it feeds both sides.
    */
  def matryoshkaRecall(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64),
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    import graft.plans.native
    val full = dims.max
    val e = emb2v(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val perDim = dims.map { d =>
      val qd = slice(col("qv"), 1, d)
      val vd = slice(col("v"), 1, d)
      struct(lit(d.toLong).as("dims"),
        (native.dot(qd, vd) /
          (sqrt(native.dot(qd, qd)) * sqrt(native.dot(vd, vd)))).as("c"))
    }
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        explode(array(perDim: _*)).as("s"))
      .select(col("q_id"), col("n_id"), col("s.dims").as("dims"),
        col("s.c").as("c"))
    val w = Window.partitionBy("dims", "q_id").orderBy(desc("c"), col("n_id"))
    val ranked = graft.TransientCaches.register(
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k).select("dims", "q_id", "n_id")
        .persist())
    val ex = ranked.filter(col("dims") === full.toLong)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    ranked.join(ex, Seq("q_id", "n_id"), "left")
      .groupBy("dims")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        count(lit(1)).as("k_exact"))
      .select(col("dims"), col("n_hit"), col("k_exact"),
        expr("n_hit * 1000000 div k_exact").as("recall_ppm"))
  }

  /** The probe + exact re-rank half of IVF search, over ANY cells relation
    * `(cell, vec_id, v)` — computed on the fly ([[ivfTopK]]) or read back
    * from a persisted index ([[ivfTopKIndexed]]).
    */
  private def ivfSearch(cells: DataFrame, q: DataFrame,
      ids: Seq[Long], cs: Seq[Seq[Double]], nProbe: Int, k: Int): DataFrame = {
    val cand = ivfCandidates(cells, q, ids, cs, nProbe)
    val w = Window.partitionBy("q_id").orderBy(desc("c"), col("n_id"))
    cand.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("c") * 1e6).cast("long").as("cos_e6"))
  }

  /** Probed-cell candidate generation shared by [[ivfSearch]] (top-k cut)
    * and [[ivfRange]] (threshold cut): per-query nProbe nearest cells, then
    * candidates via the EQUI-join on cell id with exact cosine attached.
    */
  private def ivfCandidates(cells: DataFrame, q: DataFrame,
      ids: Seq[Long], cs: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    // per-query cell ranking: explode the literal centroid set against the
    // (tiny) query side, rank by distance
    val cellDists = q.select(col("q_id"), col("qv"),
        explode(zip_with(typedlit(ids), typedlit(cs),
          (j, c) => struct(j.as("cid"), sqDist(c, col("qv")).as("d")))).as("x"))
      .select(col("q_id"), col("qv"), col("x.cid").as("cell"), col("x.d").as("d"))
    val wProbe = Window.partitionBy("q_id").orderBy(col("d"), col("cell"))
    val probes = cellDists.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))
    // THE scale join: candidates via equi-join on cell id
    probes.join(cells, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (graft.plans.native.dot(col("qv"), col("v")) /
          (sqrt(graft.plans.native.dot(col("qv"), col("qv"))) *
            sqrt(graft.plans.native.dot(col("v"), col("v"))))).as("c"))
  }

  /** IVF top-k recall CURVE — one row per probe level, priced in ONE
    * indexing pass (the dedup_semantic_recall instrument applied to the
    * top-k search): every candidate carries the probe rank `pr` of its
    * cell in the query's cell ranking, so the level-p ranking is just the
    * (cos desc, id) window over candidates with `pr ≤ p`, and the whole
    * curve comes from one candidate relation instead of |levels| separate
    * searches — each row carrying BOTH sides of the trade: `n_cand` (the
    * candidates that probe level pays to score — the cost) next to
    * recall@k (what it buys). Recall denominates on the EXACT top-k (a
    * low probe level can surface fewer than k candidates — the
    * approximate side never inflates its own recall).
    *
    * Scale shape: candidates via the cell equi-join at the MAX probe level
    * only; the level explode multiplies the tiny candidate relation, never
    * the corpus; the exact side is the declared brute-force baseline (the
    * sim_recall precedent).
    */
  def ivfRecallCurve(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nQueries: Int = 5, probeLevels: Seq[Int] = Seq(1, 2, 4, 8),
      k: Int = 10): DataFrame = {
    import graft.plans.native
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val maxProbe = probeLevels.max
    val e = emb2v(emb)
    val cells = e.withColumn("cell", nearestId(col("v"), ids, cs))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cellDists = q.select(col("q_id"), col("qv"),
        explode(zip_with(typedlit(ids), typedlit(cs),
          (j, c) => struct(j.as("cid"), sqDist(c, col("qv")).as("d")))).as("x"))
      .select(col("q_id"), col("qv"), col("x.cid").as("cell"), col("x.d").as("d"))
    val wProbe = Window.partitionBy("q_id").orderBy(col("d"), col("cell"))
    val probes = cellDists.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= maxProbe)
      .select(col("q_id"), col("qv"), col("cell"), col("pr"))
    val cand = probes.join(cells, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("pr"),
        (native.dot(col("qv"), col("v")) /
          (sqrt(native.dot(col("qv"), col("qv"))) *
            sqrt(native.dot(col("v"), col("v"))))).as("c"))
    val levels = typedlit(probeLevels.map(_.toLong))
    val wr = Window.partitionBy("n_probe", "q_id").orderBy(desc("c"), col("n_id"))
    // persisted: the per-level candidate relation feeds both the COST
    // census (n_cand — what each probe level pays) and the rank cut
    val lv = graft.TransientCaches.register(
      cand.select(col("q_id"), col("n_id"), col("c"), col("pr"),
          explode(levels).as("n_probe"))
        .filter(col("pr") <= col("n_probe"))
        .persist())
    val cost = lv.groupBy("n_probe").agg(count(lit(1)).as("n_cand"))
    val approx = lv
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("n_probe"), col("q_id"), col("n_id"), lit(1L).as("hit"))
    val ex = bruteForceTopK(emb, nQueries, k)
      .select(col("q_id"), col("n_id"), explode(levels).as("n_probe"))
    ex.join(approx, Seq("n_probe", "q_id", "n_id"), "left")
      .groupBy("n_probe")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        count(lit(1)).as("k_exact"))
      .join(cost, "n_probe")
      .select(col("n_probe"), col("n_cand"), col("n_hit"), col("k_exact"),
        expr("n_hit * 1000000 div k_exact").as("recall_ppm"))
  }

  /** RANGE (radius) search — the other fundamental vector-store query next
    * to top-k: ALL neighbors with cosine ≥ threshold, not a fixed count.
    * Same IVF probe plan as [[ivfTopK]] (candidates from an equi-join on
    * the nProbe nearest cells — never a cross join), but the cut is a
    * per-candidate threshold filter instead of a rank window, so the output
    * size follows the data's true neighborhood density. The threshold
    * compares in the reported e6 fixed point (`round(c·1e6) ≥ minCosE6`) so
    * membership is decided on exactly the value both engines report.
    */
  def ivfRange(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nQueries: Int = 5, nProbe: Int = 2, minCosE6: Long = 250000L): DataFrame = {
    val e = emb2v(emb)
    val cells = e.withColumn("cell",
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    rangeCut(
      ivfCandidates(cells, q, centroids.map(_.j), centroids.map(_.c), nProbe),
      minCosE6)
  }

  /** The range cut shared by [[ivfRange]] and [[ivfRangeIndexed]]. */
  private def rangeCut(cand: DataFrame, minCosE6: Long): DataFrame =
    cand.withColumn("cos_e6", round(col("c") * 1e6).cast("long"))
      .filter(col("cos_e6") >= minCosE6)
      .select(col("q_id"), col("n_id"), col("cos_e6"))

  /** [[ivfRange]] probing the PERSISTED bucketed cell index instead of
    * re-assigning cells per query — the build/probe split extends to radius
    * search unchanged: candidates come from the same bucketed equi-join on
    * cell id that [[ivfTopKIndexed]] uses, the cut is the threshold.
    */
  def ivfRangeIndexed(emb: DataFrame, table: String,
      centroids: Seq[KMeans.Centroid], nQueries: Int = 5, nProbe: Int = 2,
      minCosE6: Long = 250000L): DataFrame = {
    val q = emb2v(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    rangeCut(ivfCandidates(emb.sparkSession.table(table), q,
      centroids.map(_.j), centroids.map(_.c), nProbe), minCosE6)
  }

  /** IVF ANN: assign every vector to its nearest coarse cell (argmin over the
    * literal centroid set — zero-shuffle, codegen'd), probe the nProbe
    * nearest cells per query, exact re-rank inside the probed cells.
    */
  def ivfTopK(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nQueries: Int = 5, nProbe: Int = 2, k: Int = 10): DataFrame = {
    val e = emb2v(emb)
    // Par.widenBy (r18): the corpus-side argmin assignment and the probe
    // join's per-candidate dot products run in this relation's stage; a
    // byte-starved scan serializes both. Identity at real scale, where the
    // assignment stays the zero-extra-shuffle scan-stage fold.
    val cells = Par.widenBy(e, col("vec_id"))
      .withColumn("cell", nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfSearch(cells, q, centroids.map(_.j), centroids.map(_.c), nProbe, k)
  }

  /** IVF cell OCCUPANCY census — the skew gauge that decides whether the
    * coarse quantizer needs a re-fit before the index ships: per cell its
    * vector count, corpus share (exact ppm), and load factor vs the ideal
    * even split (`load_x100 = n_vecs·nCells·100 div n_total`; 100 = ideal,
    * 1600 = one cell holding everything). A skewed cell makes every probe
    * that touches it scan disproportionately — the vector-store version of
    * the q_key_skew join-fan-out census, and the number that licenses (or
    * vetoes) `nProbe` trades measured by [[annRecall]].
    *
    * Scale shape: one zero-shuffle cell assignment (codegen'd nearest-id
    * fold over literal centroids), one map-side-combined groupBy(cell) —
    * |cells| rows — and the 1-row total crossJoined back (the scalar-
    * subquery plan, text_tfidf's allow-listed shape).
    */
  def cellBalance(emb: DataFrame, centroids: Seq[KMeans.Centroid]): DataFrame = {
    val n = centroids.size
    val cells = emb2v(emb).withColumn("cell",
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)))
    // ONE corpus scan: the total folds from the |cells|-row rollup itself
    // (the oracle's sum(n_vecs) OVER ()), which persists for its two
    // consumers — never a second pass over the vectors
    val occ = graft.TransientCaches.register(
      cells.groupBy("cell").agg(count(lit(1)).as("n_vecs")).persist())
    val tot = occ.agg(sum("n_vecs").as("n_total"))
    occ.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("n_vecs * 1000000 div n_total").as("share_ppm"),
        expr(s"n_vecs * $n * 100 div n_total").as("load_x100"))
  }

  /** Occupancy-driven quantizer REBALANCE decision — the consumer the
    * [[cellBalance]] census was missing (round-16 task: mirror the
    * recall-driven-nProbe pattern, where an instrument's measured number
    * gets a wired decision rule). One row: the corpus's worst cell load vs
    * the documented bound, and the verdict. `boundX100 = 300` (a cell
    * holding 3× its even share) is the recorded default: below it the
    * probe-cost spread between cells stays within the nProbe head-room the
    * recall curves price; above it one cell dominates every probe that
    * touches it and a re-fit is cheaper than the permanent probe tax.
    * Scale: the census's |cells|-row rollup aggregated to ONE row.
    */
  def rebalanceDecision(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      boundX100: Long = 300L): DataFrame =
    cellBalance(emb, centroids)
      .agg(max("load_x100").as("max_load_x100"),
        min("load_x100").as("min_load_x100"),
        count(lit(1)).as("n_occupied"))
      .select(col("max_load_x100"), col("min_load_x100"), col("n_occupied"),
        lit(boundX100).as("bound_x100"),
        when(col("max_load_x100") > boundX100, 1L).otherwise(0L)
          .as("refit"))

  /** ACT on [[rebalanceDecision]]: keep the quantizer if the worst cell
    * load is within bound, otherwise re-fit the same number of cells over
    * the corpus ([[KMeans.fitBounded]] — deterministic seeds, bounded
    * steps) and return the new centroids. The collect is ONE decision row;
    * the re-fit is the engine's own bounded fit chain. ScaleSpec proves the
    * trigger on a skewed planted corpus: misaligned fixed cells trip the
    * bound, the re-fit brings max load back under it.
    */
  def cellsRebalanced(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      boundX100: Long = 300L, lloydSteps: Int = 2): Seq[KMeans.Centroid] = {
    val d = rebalanceDecision(emb, centroids, boundX100).head()
    if (d.getLong(d.fieldIndex("refit")) == 0L) centroids
    else {
      val dim = centroids.head.c.length
      val pts = emb2v(emb).select(col("vec_id").as("i"), col("v").as("Y"))
      val k = centroids.size
      // refit ENGINE by k (round 17, found pricing the trigger at 2M×353):
      // fitBounded's exact sequential k-means++ seeding is k-1 corpus
      // scans — fine at quantizer-census k (≤ tens, the spec-pinned
      // suite path), quadratic-feeling at scale-grade k where it would
      // dwarf the probe tax it exists to remove. Past 64 cells the
      // k-means|| parallel seeding (rounds+1 scans) takes over — same
      // bounded movement-gated Lloyd budget, different (equally valid)
      // seeds; the decision bound, not seed identity, is the contract.
      if (k <= 64)
        KMeans.fitBounded(pts, k = k, dim = dim,
          lloydSteps = lloydSteps).centroids
      else
        KMeans.fit(pts, k = k, dim = dim, tol = 0.01, maxIter = lloydSteps,
          parallelSeed = true).centroids
    }
  }

  /** BUILD the IVF index once: assign cells and persist as a table BUCKETED
    * BY CELL — the build/probe split every vector store runs. The one
    * all-rows shuffle happens here, at write time; after that each probe
    * batch equi-joins candidates against co-located cell buckets (no
    * index-side Exchange — asserted in SimilaritySpec), and the index
    * re-reads across sessions without re-assigning a single vector.
    */
  def buildIvfIndex(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      table: String, buckets: Int = 8, path: Option[String] = None): Unit = {
    val cells = emb2v(emb).withColumn("cell",
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)))
    graft.sources.Sinks.writeBucketed(
      cells.select(col("cell"), col("vec_id"), col("v")), table, buckets,
      Seq("cell"), path)
  }

  /** [[buildIvfIndex]] with TWO-LEVEL ROUTED assignment — the build-side
    * form of the `supers` lever, targeting the measured 1000×-smoke
    * finding: the flat build over 2M×353 cells×64d is ~4·10¹³ codegen'd
    * mult-adds (638 s of pure assignment FLOPs, SCALE.md r16). Routing
    * costs n·(nSuper + |children|) folds instead of n·nCells — ~16× fewer
    * at √c supers. APPROXIMATE by construction (a boundary vector may
    * index under a neighboring super's cell), hence opt-in and
    * instrument-gated like every routed path: on clustered corpora
    * (`sim_cells_twolevel` high) the routed index is IDENTICAL to the
    * flat one — SimilaritySpec pins table-content equality on the planted
    * fixture — and the probe side needs no change at all (probes route
    * through the same centroid set either way).
    */
  def buildIvfIndexRouted(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      supers: Seq[KMeans.Centroid], table: String, buckets: Int = 8,
      path: Option[String] = None): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(routedPicker(centroids, supers))
    val cells = emb2v(emb).as[(Long, Seq[Double])].mapPartitions { it =>
      val rp = bc.value
      it.map { case (id, vSeq) => (rp.pick(vSeq.toArray, 1)(0), id, vSeq) }
    }.toDF("cell", "vec_id", "v")
    graft.sources.Sinks.writeBucketed(cells, table, buckets, Seq("cell"), path)
  }

  /** DECISION instrument for the routed build (round-17: apply the
    * builder's own decision-consumer pattern — [[rebalanceDecision]],
    * recall-driven nProbe — to its biggest measured lever, the 160×
    * routed-build win SCALE.md r16 records, instead of deploying it by a
    * human reading `sim_cells_twolevel`). On a deterministic sample of
    * `sampleN` vectors (xxhash64 order — uniform, seedless, reproducible)
    * it computes BOTH picks per vector — the flat argmin over all cells
    * and the [[RoutedPicker]] two-level pick, same sqDist fold and (d, id)
    * tie order — and returns ONE row: (n_sampled, n_agree, agree_ppm,
    * threshold_ppm, routed 0/1).
    *
    * Threshold rationale (990,000 ppm = 99.0%, recorded): the two planted
    * measurement points are 100% agreement on hierarchically clustered
    * corpora and ~33% on near-uniform ones — three orders of magnitude of
    * separation against a sampling std of ~0.2% at 2048 samples, so the
    * bar only has to sit far from both. 99% admits at most 1% of vectors
    * indexing under a neighboring cell, below the recall step the nProbe
    * curve already prices between probe levels (`sim_recall_curve`).
    * Cost: one scan + top-`sampleN` by hash, then (nCells + nSuper +
    * |children|) folds on sampleN vectors — negligible next to the
    * n·nCells build it gates.
    */
  def routeDecision(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      supers: Seq[KMeans.Centroid], sampleN: Int = 2048,
      agreePpm: Long = 990000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((
      centroids.map(_.j).toArray, centroids.map(_.c.toArray).toArray,
      routedPicker(centroids, supers)))
    val sample = emb2v(emb)
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
    sample.as[(Long, Seq[Double])].mapPartitions { it =>
      val (jids, cents, rp) = bc.value
      it.map { case (_, vSeq) =>
        val v = vSeq.toArray
        var bj = Long.MaxValue
        var bd = Double.MaxValue
        var ci = 0
        while (ci < cents.length) {
          val c = cents(ci)
          var s = 0.0
          var d = 0
          val n = math.min(c.length, v.length)
          while (d < n) { val t = c(d) - v(d); s += t * t; d += 1 }
          if (s < bd || (s == bd && jids(ci) < bj)) { bd = s; bj = jids(ci) }
          ci += 1
        }
        if (rp.pick(v, 1)(0) == bj) 1L else 0L
      }
    }.toDF("agree")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("agree")).cast("long").as("n_agree"))
      .select(col("n_sampled"), col("n_agree"),
        expr("n_agree * 1000000 div n_sampled").as("agree_ppm"),
        lit(agreePpm).as("threshold_ppm"),
        when(expr("n_agree * 1000000 div n_sampled") >= agreePpm, 1L)
          .otherwise(0L).as("routed"))
  }

  /** ACT on [[routeDecision]] — the routed-or-flat build chooser: routed
    * ([[buildIvfIndexRouted]], n·(nSuper+|children|) assignment folds)
    * when the sampled agreement clears the threshold, flat
    * ([[buildIvfIndex]], n·nCells folds) otherwise. Returns whether it
    * routed. SimilaritySpec pins both arms: the planted hierarchical
    * corpus routes AND writes the content-identical index; the
    * near-uniform fixture falls back to flat. The collect is ONE decision
    * row.
    */
  def buildIvfIndexAuto(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      supers: Seq[KMeans.Centroid], table: String, buckets: Int = 8,
      path: Option[String] = None, sampleN: Int = 2048,
      agreePpm: Long = 990000L): Boolean = {
    // DEGENERATE-SUPER guard (r17 advice, medium): duplicate-coordinate
    // supers are collapsed pick-preservingly inside routedPicker, but a
    // TRAINED super set can still leave some super with zero children —
    // the chooser must fall back to the flat build (routed = false), not
    // crash a path that previously could not fail. The probe is the same
    // driver-side k·nSuper-dot superChildren the routed arm would run.
    // ONLY the require's IllegalArgumentException is the fallback signal;
    // anything else (dimension mismatch, nulls) is a real defect that
    // must surface, not silently degrade to a flat build.
    val routable =
      try { superChildren(centroids, supers); true }
      catch { case _: IllegalArgumentException => false }
    val routed = routable && {
      val d = routeDecision(emb, centroids, supers, sampleN, agreePpm).head()
      d.getLong(d.fieldIndex("routed")) == 1L
    }
    if (routed) buildIvfIndexRouted(emb, centroids, supers, table, buckets, path)
    else buildIvfIndex(emb, centroids, table, buckets, path)
    routed
  }

  /** Probe a persisted [[buildIvfIndex]] table: same probes + exact re-rank
    * as [[ivfTopK]], identical results (the stored doubles roundtrip parquet
    * exactly), zero assignment work at query time.
    */
  def ivfTopKIndexed(emb: DataFrame, table: String,
      centroids: Seq[KMeans.Centroid], nQueries: Int = 5, nProbe: Int = 2,
      k: Int = 10): DataFrame = {
    val q = emb2v(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfSearch(emb.sparkSession.table(table), q,
      centroids.map(_.j), centroids.map(_.c), nProbe, k)
  }

  /** INDEX FRESHNESS — search the persisted index PLUS an un-indexed
    * delta batch without any rebuild: the delta is assigned to the
    * EXISTING cells with the index's own rule ([[buildIvfIndex]]'s
    * `nearestId`) and unioned under the probe join, so new vectors are
    * searchable the moment they land while the corpus-scale build stays
    * amortized (the vector-store ingest path; the ANN twin of
    * `dedup_incremental`'s probe-only posture). Cost: the probe equi-join
    * reads the bucketed index co-located as before plus one delta-sized
    * side — no corpus shuffle, delta assignment is |delta|·nCells folds.
    * Compaction (folding the delta into the bucketed table) is the same
    * amortized build step [[buildIvfIndex]] already is.
    */
  def ivfTopKDelta(emb: DataFrame, table: String, delta: DataFrame,
      centroids: Seq[KMeans.Centroid], nQueries: Int = 5, nProbe: Int = 2,
      k: Int = 10): DataFrame = {
    val assigned = emb2v(delta).withColumn("cell",
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)))
      .select(col("cell"), col("vec_id"), col("v"))
    val cells = emb.sparkSession.table(table)
      .select(col("cell"), col("vec_id"), col("v"))
      .unionByName(assigned)
    val q = emb2v(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfSearch(cells, q, centroids.map(_.j), centroids.map(_.c), nProbe, k)
  }

  /** The COMPACTION step [[ivfTopKDelta]]'s contract promises: fold an
    * ingested delta into the bucketed index — the delta assigned with the
    * index's own rule, unioned with the current generation, one bucketed
    * rewrite into `toTable` (a NEW generation name: Spark correctly
    * refuses to overwrite a table it is reading, and the
    * generation-swap-then-prune dance is the binding layer's
    * `pruneStaleTables` job). After compaction, probing the new
    * generation with zero delta equals probing the old one WITH the
    * delta — the equivalence SimilaritySpec pins.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      fromTable: String, delta: DataFrame, centroids: Seq[KMeans.Centroid],
      toTable: String, buckets: Int = 8, path: Option[String] = None): Unit = {
    val assigned = emb2v(delta).withColumn("cell",
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)))
      .select(col("cell"), col("vec_id"), col("v"))
    graft.sources.Sinks.writeBucketed(
      spark.table(fromTable).select(col("cell"), col("vec_id"), col("v"))
        .unionByName(assigned),
      toTable, buckets, Seq("cell"), path)
  }

  /** Deterministic ±1 hyperplane sign vectors for [[lshTopK]], drawn from
    * the MinHash family (`Dedup.mhA/mhB`) with a Fibonacci bit-mix on top:
    * the sign is bit 16 of `v·2654435761` rather than the raw parity of
    * `v = ((d+1)·a_j + b_j) mod P`, because for planes whose affine values
    * never wrap (small `a_j (d+1)`), raw parity is constant — an all-one-
    * sign hyperplane (observed at plane 16 of the spread family). The
    * vectors are Scala-side constants inlined as LITERALS into both the
    * Spark plan and the oracle SQL (OracleSql.simLsh calls this function),
    * so both engines share them by construction.
    */
  def lshSigns(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map { j =>
      (0 until dim).map { d =>
        val v = ((d + 1) * Dedup.mhA(j) + Dedup.mhB(j)) % Dedup.MinhashP
        if (((v * 2654435761L) >> 16) % 2 == 0) 1.0 else -1.0
      }
    }

  /** LSH ANN via sign random projections (the second classic ANN blocking
    * scheme next to [[ivfTopK]]'s IVF): each vector hashes to `tables`
    * bucket keys — `bits` hyperplane sign bits each — and candidates come
    * from an EQUI-join on (table, key). Exact cosine re-ranks candidates;
    * a neighbor is missed only when it shares no bucket in any table
    * (recall knob: more tables ↑ recall, more bits ↓ bucket sizes).
    *
    * Determinism across engines: the projection is the codegen'd
    * sequential-fold [[graft.plans.Dot]] against a ±1 literal sign vector —
    * the oracle replays the identical IEEE fold, so even a projection
    * within 1 ulp of 0 lands on the same side of the `> 0` test in both.
    *
    * At 100 TB: the index side is (n·tables) rows hash-partitioned by
    * bucket key, queries broadcast, and per-bucket candidate counts are the
    * load-bounded unit — the same posture as the MinHash band join; no
    * cross join at any size.
    */
  def lshTopK(emb: DataFrame, nQueries: Int = 5, bits: Int = 8, tables: Int = 4,
      dim: Int = 64, k: Int = 10): DataFrame = {
    import graft.plans.native
    val signs = lshSigns(bits * tables, dim)
    val e = emb2v(emb)
    def keyCol(t: Int): Column = (0 until bits).map { b =>
      when(native.dot(col("v"), typedlit(signs(t * bits + b))) > 0, lit(1L << b))
        .otherwise(0L)
    }.reduce(_ + _)
    val tblEntries = array((0 until tables).map { t =>
      struct(lit(t).as("tbl"), keyCol(t).as("key"))
    }: _*)
    val idx = e.select(col("vec_id"), col("v"), explode(tblEntries).as("x"))
      .select(col("vec_id"), col("v"), col("x.tbl").as("tbl"), col("x.key").as("key"))
    val q = idx.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("tbl").as("qtbl"), col("key").as("qkey"))
    val cand = idx.join(broadcast(q),
        col("tbl") === col("qtbl") && col("key") === col("qkey") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"), col("v"))
      .dropDuplicates("q_id", "n_id") // same pair via several tables; rows identical
    val scored = cand.select(col("q_id"), col("n_id"),
      (native.dot(col("qv"), col("v")) /
        (sqrt(native.dot(col("qv"), col("qv"))) *
          sqrt(native.dot(col("v"), col("v"))))).as("c"))
    val w = Window.partitionBy("q_id").orderBy(desc("c"), col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("c") * 1e6).cast("long").as("cos_e6"))
  }

  /** MUTUAL k-NN graph over the whole embedding relation — the
    * neighborhood structure that graph-based dedup/clustering (and
    * agglomerative SemDeDup variants) consume. Every vector is indexed
    * under its `nProbe` nearest coarse cells; directed candidate edges come
    * from the cell EQUI-join; each vector keeps its `k` best candidates by
    * cosine; an edge survives only when BOTH endpoints keep each other
    * (mutuality — the standard noise filter: a hub's one-sided fans drop
    * out). Output: canonical `a_id < b_id` edges with the fixed-point
    * cosine and both directed ranks.
    *
    * Scale shape: no stage ever touches the O(n²) pair space — candidates
    * are bounded per cell ((|cell|·nProbe)² like
    * [[Dedup.embeddingCosineBlocked]]), the top-k cut is a window over the
    * candidate set partitioned by vector, and the mutuality check is an
    * equi-join of the k·n directed edge list against its own transpose.
    * At 100 TB each stage hash-partitions on (cell) then (vec_id) — the
    * graph never materializes anywhere whole.
    */
  def knnGraph(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, k: Int = 4): DataFrame = {
    import graft.plans.native
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val e = emb2v(emb)
      .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
    // nProbe nearest cells per vector, row-local (the embeddingCosineBlocked
    // indexing): sort (distance, cid) structs, slice the head
    val cellArr = slice(
      array_sort(zip_with(typedlit(cs), typedlit(ids),
        (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid")))),
      1, nProbe)
    val indexed = e
      .select(col("vec_id"), col("v"), col("nv"), explode(cellArr).as("x"))
      .select(col("vec_id"), col("v"), col("nv"), col("x.cid").as("cell"))
    val a = indexed.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nv").as("na"))
    val b = indexed.select(col("cell").as("cell_b"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nv").as("nb"))
    // directed candidates; a pair seen via two shared cells is identical in
    // every column, so the (a_id, b_id) dedup is value-deterministic
    val cand = a.join(b, col("cell") === col("cell_b") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (native.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("c"))
      .dropDuplicates("a_id", "b_id")
    val w = Window.partitionBy("a_id").orderBy(desc("c"), col("b_id"))
    // materialize the k·n-bounded directed edge list: the mutuality
    // self-join consumes it under two different join keys ((a,b) and its
    // transpose), so Catalyst cannot reuse the Exchange — without the
    // boundary the whole candidate+window stage would run twice.
    // localCheckpoint (MEMORY_AND_DISK blocks), not cache(): checkpoint
    // blocks are freed by the ContextCleaner once this plan is dropped,
    // where a CacheManager entry would accumulate across invocations
    val directed = cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .localCheckpoint(eager = true)
    val transpose = directed.select(col("b_id").as("ta"), col("a_id").as("tb"),
      col("rnk").as("rnk_ba"))
    directed.join(transpose,
        col("a_id") === col("ta") && col("b_id") === col("tb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(col("c") * 1e6).cast("long").as("cos_e6"),
        col("rnk").cast("long").as("rnk_ab"),
        col("rnk_ba").cast("long").as("rnk_ba"))
  }

  /** [[knnGraph]]'s 100×-SCALE twin: identical output (bit-for-bit, same
    * oracle), but the candidate stage never materializes join rows. The
    * equi-join form emits |cell|²·nProbe² candidate ROWS per cell through a
    * dedup + window — at 2M vectors with √n-scaled cells that is ~10¹⁰
    * shuffled rows, hours of per-row overhead for arithmetic that is only
    * ~10¹² FLOPs. Here vectors are hash-repartitioned by cell and SORTED
    * within partitions, and one `mapPartitions` pass streams each cell
    * (memory = one cell's vectors, not the partition): a tight in-cell
    * loop scores all pairs and keeps only each vector's k best per cell —
    * so just n·k·nProbe candidate rows ever leave the executors. The
    * per-cell top-k is lossless for the global cut: any candidate in a
    * vector's GLOBAL top-k also ranks ≤ k inside its own cell (anything
    * beating it there beats it globally), so the union of per-cell top-k
    * lists is a superset of the global top-k, and the same
    * dedup → window → mutual-join tail as [[knnGraph]] finishes it.
    *
    * Bit-compatibility: `nv` is computed by the SAME column expression
    * upstream of the decode seam; the in-cell loop replays
    * [[graft.plans.DotExpression]]'s left-to-right `s += a(i)·b(i)`
    * accumulation and the `dot / (na·nb)` operand order; the selection
    * comparator is the window's exact (c DESC, b_id ASC) order. Proven by
    * `sim_knn_graph_blocked` hash-matching `sim_knn_graph`'s mirror.
    */
  /** The shared per-cell STREAMING seam for pairwise operators ([[
    * knnGraphBlocked]], [[Dedup.embeddingCosineBlockedLocal]]): index every
    * vector under its `nProbe` nearest coarse cells (the row-local
    * sorted-struct pick), hash-repartition by cell, SORT within partitions
    * by cell, and hand each cell's members — (vec_id, vector, the
    * column-computed norm) — to `f` as one in-memory group. Memory bound =
    * ONE cell's vectors (not the partition: cells stream off the sorted
    * iterator), and only f's output rows ever leave the executor — the
    * per-row shuffle overhead of the equivalent cell equi-join (|cell|²·
    * nProbe² materialized rows) never exists. `nv` is computed by the SAME
    * column expression the join-form operators use, upstream of the seam,
    * so callbacks that replay the codegen'd arithmetic stay bit-identical.
    *
    * HOT-CELL CAP (round 16; the skew bound the per-cell kernel was
    * missing): "memory = one cell" is exactly the wrong bound for the
    * dedup workload — a duplicate-heavy corpus concentrates near-identical
    * vectors into FEW hot cells, so at 100 TB one cell holds millions of
    * rows → one straggler task with O(|cell|²) work. When `maxCellRows > 0`
    * AND the corpus row count exceeds the cap (an under-cap corpus cannot
    * have an over-cap cell, so suite-scale callers skip all of this behind
    * one cheap count), the indexed set is locally checkpointed (one
    * assignment pass, not two; `checkpointAssigned = false` trades that
    * saved pass back for intact lineage — see the seam comment below),
    * per-cell counts — at most nCells rows, the same census
    * [[cellBalance]] publishes — come back to the driver, and any cell over
    * the cap is split into `B = ceil(count/maxCellRows)` sub-blocks by a
    * splitmix64 hash of vec_id. Each row is replicated to the B block-PAIRS
    * containing its block ((blk,blk) plus (min(blk,j),max(blk,j)) for every
    * other j), the shuffle key widens to (cell, blo, bhi), and `f` runs per
    * block-pair group: every within-cell pair (a,b) still co-occurs in at
    * least one group (the pair (blockOf(a), blockOf(b))), so the CANDIDATE
    * SET IS IDENTICAL — split groups merely re-cover intra-block pairs,
    * which is why both callers end in distinct()/dropDuplicates and all
    * callback arithmetic is deterministic (same float op order regardless
    * of grouping). Cost: shuffled rows go m → m·B = O(m²/maxCellRows) for a
    * hot cell — still far under the join form's m² materialized pairs —
    * and per-task memory/work drop to ~2·maxCellRows rows (hash-balance,
    * not a hard cap) / O(maxCellRows²) pair ops, restoring parallelism
    * across the straggler. `maxCellRows <= 0` keeps the uncapped legacy
    * bound (one group per cell, no count pass) — the spec pins split ≡
    * unsplit row-for-row on an adversarial all-dupes fixture.
    */
  /** Hash-balanced sub-block pick for split cells: splitmix64 finalizer —
    * deterministic, uniform even for sequential vec_ids. */
  private[graft] def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Default hot-cell cap: 16k rows/group ≈ 2.7e8 pair-ops per task at the
    * quadratic kernels — seconds per task, ~8 MB of 64-dim vectors. Far
    * above every oracle-scale cell (no splits → published hashes and plans
    * unchanged below the cap), far below the million-row hot cells a
    * dupe-heavy corpus produces at 100 TB. Also the FLOOR of
    * [[derivedMaxCellRows]] — the deployment-adaptive cap the blocked
    * kernels resolve when given the [[AdaptiveCellRows]] sentinel. */
  val defaultMaxCellRows: Int = 16384

  /** Sentinel accepted by the blocked kernels' `maxCellRows` parameter:
    * resolve the cap from the deployment via [[derivedMaxCellRows]]. */
  val AdaptiveCellRows: Int = -1

  /** Deployment-derived hot-cell cap (r16 stretch task: tie the cap to
    * executor memory/cores instead of hard-coding it), floored at
    * [[defaultMaxCellRows]] so sf-scale behavior — and every published
    * oracle hash — is unchanged (cells at those sizes never split under
    * either bound). Two constraints, take the smaller:
    *  - MEMORY: a split group holds ~2·cap rows of (id, dim-double
    *    vector, norm) ≈ 2·cap·(8·dim+24) bytes, kept under 1/16 of
    *    per-core heap so ~cores concurrent groups plus shuffle buffers
    *    coexist without spill;
    *  - TIME: cap² pair-ops at ~dim fused mult-adds each, kept under
    *    ~6e10 FLOPs (≈30 s/task at ~2 GFLOP/s/core) so a straggling
    *    group stays re-schedulable — the property the cap exists for.
    * In local mode driver heap = executor heap; on a heterogeneous
    * cluster pass an explicit cap sized to the SMALLEST executor class.
    */
  def derivedMaxCellRows(dim: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory,
      cores: Int = Runtime.getRuntime.availableProcessors): Int = {
    val perCore = heapBytes / math.max(1, cores)
    val bytesPerRow = 2L * (8L * dim + 24L)
    val memCap = perCore / 16L / bytesPerRow
    val timeCap = math.sqrt(6e10 / math.max(1, dim)).toLong
    math.max(defaultMaxCellRows.toLong,
      math.min(memCap, timeCap)).min(Int.MaxValue.toLong).toInt
  }

  /** The LITERAL CEILING, now measured and ENFORCED (round 16): the
    * typedlit sorted-struct assignment stays in whole-stage codegen up to
    * a few hundred cells; past that the generated method blows the JVM
    * limit and Catalyst silently drops to INTERPRETED `ZipWith`/`ArraySort`
    * eval — measured on the 1000× smoke as a >40-minute stall at 353
    * cells × 2M vectors (thread dumps parked in `ArrayAggregate.eval`)
    * where the bit-identical broadcast loop finishes in seconds. Above
    * this many centroids [[mapCells]] switches to the broadcast path on
    * its own; both paths are spec-pinned identical, so the switch is
    * invisible in results and only visible in plans (which PlansSpec
    * allow-lists assert at oracle scale, safely under the ceiling).
    */
  val literalAssignCeiling: Int = 256

  /** Drop duplicate-coordinate supers, keeping the min-id twin (r17
    * advice). A higher-id twin of a duplicated coordinate can NEVER win
    * any (d, sid)-lexicographic pick — its distance to every vector is
    * bit-identical to the kept twin's and its id loses the tie — so
    * removing it preserves every super pick, every child mapping, and
    * every routed result exactly, while restoring [[superChildren]]'s
    * each-super-attracts-a-child invariant on dupe-heavy corpora (two
    * bit-identical vectors among the first ceil(√nCells) corpus rows
    * previously crashed the production index build instead of routing).
    */
  private[operators] def dedupSupers(
      supers: Seq[KMeans.Centroid]): Seq[KMeans.Centroid] =
    supers.sortBy(_.j).distinctBy(_.c)

  /** Driver-side child map for two-level routing: each fine centroid under
    * its nearest super, (d, sid) lexicographic tie order — k·nSuper dots,
    * tiny by contract. Shared by [[assignTwoLevel]] and the [[mapCells]]
    * routed assignment so the two paths can never disagree on ownership.
    * Duplicate-coordinate supers are collapsed via [[dedupSupers]] (pick-
    * preserving); the require remains as the backstop for TRAINED supers
    * that genuinely attract no fine centroid — that case is a caller
    * configuration error, except in [[buildIvfIndexAuto]], which catches
    * it and falls back to the flat build.
    */
  private[operators] def superChildren(centroids: Seq[KMeans.Centroid],
      supers: Seq[KMeans.Centroid]): Map[Long, Seq[KMeans.Centroid]] = {
    def sqd(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val ss = dedupSupers(supers)
    val children = centroids.sortBy(_.j)
      .map(c => ss.map(s => (sqd(c.c, s.c), s.j)).min -> c)
      .groupBy(_._1._2).map { case (sj, cs) => sj -> cs.map(_._2) }
    require(children.size == ss.size,
      s"${ss.size - children.size} super(s) attracted no fine centroid")
    children
  }

  /** The ONE two-level routed argmin, shared by [[buildIvfIndexRouted]]
    * and [[mapCells]]'s routed branch so the two copies can never drift
    * and break the never-disagree-on-ownership contract [[superChildren]]
    * exists to protect (r16 advice): nearest super by (d, sid)
    * lexicographic order, then the `take` nearest of ONLY that super's
    * children by (d, cid) — the same ordered sqDist fold and tie order as
    * the flat path at every level. Plain serializable value: built once on
    * the driver from [[superChildren]], shipped by broadcast, `pick`
    * called per vector on executors.
    */
  private[graft] final case class RoutedPicker(
      sids: Array[Long], scents: Array[Array[Double]],
      cidsBy: Array[Array[Long]], ccentsBy: Array[Array[Array[Double]]]) {
    private def sq(c: Array[Double], v: Array[Double]): Double = {
      var s = 0.0; var d = 0
      val n = math.min(c.length, v.length)
      while (d < n) { val t = c(d) - v(d); s += t * t; d += 1 }
      s
    }
    /** ids of the `take` nearest children under the nearest super. */
    def pick(v: Array[Double], take: Int): Array[Long] = {
      var bestS = 0; var bestD = Double.MaxValue; var bestJ = Long.MaxValue
      var si = 0
      while (si < scents.length) {
        val d = sq(scents(si), v)
        if (d < bestD || (d == bestD && sids(si) < bestJ)) {
          bestS = si; bestD = d; bestJ = sids(si)
        }
        si += 1
      }
      val cids = cidsBy(bestS); val ccents = ccentsBy(bestS)
      val m = ccents.length
      if (take == 1) {
        // single-pass O(m) argmin, same (d, cid) tie order as the sort
        // below — the routed BUILD calls pick(v, 1) per corpus vector, so
        // this path must not pay the boxed sortBy allocation (r17 advice)
        var bd = Double.MaxValue; var bj = Long.MaxValue
        var ci = 0
        while (ci < m) {
          val d = sq(ccents(ci), v)
          if (d < bd || (d == bd && cids(ci) < bj)) { bd = d; bj = cids(ci) }
          ci += 1
        }
        return Array(bj)
      }
      val ds = new Array[Double](m)
      var ci = 0
      while (ci < m) { ds(ci) = sq(ccents(ci), v); ci += 1 }
      Array.range(0, m).sortBy(ix => (ds(ix), cids(ix)))
        .take(math.min(take, m)).map(cids(_))
    }
  }

  private[graft] def routedPicker(centroids: Seq[KMeans.Centroid],
      supers: Seq[KMeans.Centroid]): RoutedPicker = {
    val ss = dedupSupers(supers) // pick-preserving (see dedupSupers)
    val kids = superChildren(centroids, ss)
    RoutedPicker(ss.map(_.j).toArray, ss.map(_.c.toArray).toArray,
      ss.map(s => kids(s.j).map(_.j).toArray).toArray,
      ss.map(s => kids(s.j).map(_.c.toArray).toArray).toArray)
  }

  /** `supers` (round 16, the wired two-level lever): when non-empty, the
    * BROADCAST assignment routes each vector through its nearest super-cell
    * and probes only that super's children — nSuper + |children| distance
    * folds per vector instead of nCells, killing the n·nCells assignment
    * term `autoCellsPairwise` documents. APPROXIMATE by construction (the
    * flat-nearest cell may live under another super), so it is opt-in:
    * published oracle queries keep the flat pick; the planted-cluster
    * measurement in SimilaritySpec records where routing is trustworthy
    * (hierarchically clustered corpora: 100% agreement) and where it is
    * not (near-uniform corpora: ~50%), and `sim_cells_twolevel` is the
    * per-corpus instrument. Requires `broadcastAssign` (the literal path
    * is for small nCells, where routing buys nothing).
    */
  private[operators] def mapCells[T: org.apache.spark.sql.Encoder](
      emb: DataFrame, centroids: Seq[KMeans.Centroid], nProbe: Int,
      broadcastAssign: Boolean = false,
      maxCellRows: Int = defaultMaxCellRows,
      supers: Seq[KMeans.Centroid] = Nil,
      checkpointAssigned: Boolean = true)(
      f: collection.IndexedSeq[(Long, Array[Double], Double)] => Iterator[T])
      : org.apache.spark.sql.Dataset[T] = {
    require(supers.isEmpty || broadcastAssign,
      "two-level routing is a broadcast-assignment lever; literal plans stay flat")
    import graft.plans.native
    val spark = emb.sparkSession
    import spark.implicits._
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val e = emb2v(emb)
      .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
    // Two bit-identical assignment paths (SimilaritySpec pins equality):
    //  - literal: centroids ride in the plan as a typedlit array and the
    //    nProbe pick is one codegen'd sorted-struct expression. Ideal up
    //    to a few hundred cells; past that the literal bloats every task
    //    binary and codegen falls off a cliff — the LITERAL CEILING.
    //  - broadcast: centroids ship once per executor as a broadcast
    //    variable and a mapPartitions loop replays the same arithmetic
    //    (sqDist's ordered (c−v)² fold, the (d, cid) lexicographic sort).
    //    No plan bloat at any nCells — the 100 TB form, where a coarse
    //    quantizer has 10⁴⁺ cells.
    // auto-switch past the literal ceiling: the two paths are bit-identical
    // (spec-pinned), and an interpreted 353-struct sort per row is the
    // measured alternative (literalAssignCeiling scaladoc)
    val useBroadcast = broadcastAssign || centroids.size > literalAssignCeiling
    val indexed =
      if (useBroadcast && supers.nonEmpty) {
        // two-level ROUTED assignment: nearest super first (nSuper folds),
        // then nProbe best among only that super's children — the shared
        // [[RoutedPicker]], so this branch and the routed build can never
        // disagree on ownership
        val bc = spark.sparkContext.broadcast(routedPicker(centroids, supers))
        e.as[(Long, Seq[Double], Double)].mapPartitions { it =>
          val rp = bc.value
          it.flatMap { case (id, vSeq, nv) =>
            rp.pick(vSeq.toArray, nProbe).iterator
              .map(c => (c, id, vSeq, nv))
          }
        }.toDF("cell", "vec_id", "v", "nv")
      } else if (useBroadcast) {
        val bc = spark.sparkContext.broadcast(
          (ids.toArray, cs.map(_.toArray).toArray))
        e.as[(Long, Seq[Double], Double)].mapPartitions { it =>
          val (jids, cents) = bc.value
          val m = cents.length
          val take = math.min(nProbe, m)
          it.flatMap { case (id, vSeq, nv) =>
            val v = vSeq.toArray
            val ds = new Array[Double](m)
            var ci = 0
            while (ci < m) {
              val c = cents(ci)
              var s = 0.0
              var d = 0
              val n = math.min(c.length, v.length)
              while (d < n) { val t = c(d) - v(d); s += t * t; d += 1 }
              ds(ci) = s
              ci += 1
            }
            val order = Array.range(0, m).sortBy(ix => (ds(ix), jids(ix)))
            (0 until take).map(p => (jids(order(p)), id, vSeq, nv))
          }
        }.toDF("cell", "vec_id", "v", "nv")
      } else {
        val cellArr = slice(
          array_sort(zip_with(typedlit(cs), typedlit(ids),
            (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid")))),
          1, nProbe)
        e.select(col("vec_id"), col("v"), col("nv"), explode(cellArr).as("x"))
          .select(col("x.cid").as("cell"), col("vec_id"), col("v"), col("nv"))
      }
    // AdaptiveCellRows sentinel -> deployment-derived bound (floored at
    // the default, so resolution never loosens below the committed cap)
    val capRows =
      if (maxCellRows == AdaptiveCellRows)
        derivedMaxCellRows(centroids.head.c.length)
      else maxCellRows
    // under-cap short-circuit (r16 advice): if the whole corpus fits under
    // the cap, no cell can possibly exceed it — skip the count pass (and
    // the checkpoint) entirely. One cheap input count (metadata/columnar)
    // vs materializing the nProbe-replicated assignment to executor disk;
    // every suite/oracle-scale caller lands here, so the capped default
    // costs them nothing.
    val capped = capRows > 0 && emb.count() > capRows
    // one assignment pass: the checkpoint feeds BOTH the count job and the
    // keyed emission (without it the n·nCells assignment FLOPs run twice).
    // `checkpointAssigned = false` keeps the lineage instead — the count
    // pass and the emission each recompute the assignment, trading one
    // extra assignment pass for (a) no O(n·nProbe) executor-disk
    // materialization and (b) fault tolerance (a lost executor recomputes
    // instead of failing the job past a truncated lineage).
    // MEASURED (r17, ScaleSmoke skew mode, 150k all-dupes rows, cheap
    // 4-cell assignment — the recompute-friendliest shape): checkpoint
    // 98.4 s vs recompute 121.6 s (+24%); with a scale-grade assignment
    // (10²⁺ cells × 64 dims) the recompute premium only grows. DECISION:
    // checkpoint stays the default (faster everywhere measured); pass
    // false when fault tolerance or executor-disk pressure outweigh ~24%
    // wall — the recovery contract is that a lost executor then recomputes
    // its partitions instead of failing the job.
    val src =
      if (capped && checkpointAssigned) indexed.localCheckpoint(eager = true)
      else indexed
    // split factors for cells over the cap — at most nCells entries (the
    // centroid set already lives on the driver, so this collect is bounded
    // by construction); cells at/under the cap don't appear
    val blocks: Map[Long, Int] =
      if (!capped) Map.empty
      else src.groupBy("cell").count().as[(Long, Long)].collect()
        .map { case (c, n) =>
          c -> math.max(1L, (n + capRows - 1) / capRows).toInt }
        .filter(_._2 > 1).toMap
    val bcBlocks = spark.sparkContext.broadcast(blocks)
    val keyed = src.as[(Long, Long, Seq[Double], Double)].mapPartitions { it =>
      val bs = bcBlocks.value
      it.flatMap { case (cell, id, v, nv) =>
        val b = bs.getOrElse(cell, 1)
        if (b <= 1) Iterator.single((cell, 0, 0, id, v, nv))
        else {
          val blk = java.lang.Math.floorMod(mix64(id), b.toLong).toInt
          (0 until b).iterator.map(j =>
            (cell, math.min(blk, j), math.max(blk, j), id, v, nv))
        }
      }
    }.toDF("cell", "blo", "bhi", "vec_id", "v", "nv")
    keyed
      .repartition(spark.sparkContext.defaultParallelism,
        col("cell"), col("blo"), col("bhi"))
      .sortWithinPartitions("cell", "blo", "bhi")
      .as[(Long, Int, Int, Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[T] {
          private var out: Iterator[T] = Iterator.empty
          private def nextGroup(): Unit = {
            if (!buf.hasNext) return
            val key = (buf.head._1, buf.head._2, buf.head._3)
            val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
            while (buf.hasNext &&
                buf.head._1 == key._1 && buf.head._2 == key._2 &&
                buf.head._3 == key._3) {
              val r = buf.next()
              rows += ((r._4, r._5.toArray, r._6))
            }
            out = f(rows)
          }
          def hasNext: Boolean = {
            while (!out.hasNext && buf.hasNext) nextGroup()
            out.hasNext
          }
          def next(): T = { hasNext; out.next() }
        }
      }
  }

  /** The [[mapCells]] group-size census (one row per streamed group): the
    * instrument behind the hot-cell cap — at `maxCellRows <= 0` it reads
    * raw per-(cell·probe) occupancy (the skew [[cellBalance]] gauges), with
    * a cap it proves every task-level group is bounded. ScaleSpec pins the
    * bound on an adversarial all-dupes fixture. */
  def cellGroupCensus(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, broadcastAssign: Boolean = false,
      maxCellRows: Int = defaultMaxCellRows): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    mapCells(emb, centroids, nProbe, broadcastAssign, maxCellRows)(rows =>
      Iterator.single(rows.length)).toDF("group_rows")
  }

  def knnGraphBlocked(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, k: Int = 4, broadcastAssign: Boolean = false,
      maxCellRows: Int = defaultMaxCellRows,
      supers: Seq[KMeans.Centroid] = Nil,
      checkpointAssigned: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // split-safe: a's per-group top-k is a superset of its per-cell top-k
    // restricted to that group (smaller candidate pool → rank only
    // improves), so the union over block-pairs still contains every
    // global top-k neighbor; dropDuplicates + the window cut finish it
    val cand = mapCells(emb, centroids, nProbe, broadcastAssign,
        maxCellRows, supers, checkpointAssigned) { rows =>
      val m = rows.length
      val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var ai = 0
      while (ai < m) {
        val (aId, av, an) = rows(ai)
        // k best of this cell's candidates for aId, (c DESC, b_id ASC)
        val best = new Array[(Long, Double)](k)
        var nBest = 0
        var bi = 0
        while (bi < m) {
          if (bi != ai) {
            val (bId, bv, bn) = rows(bi)
            var s = 0.0
            var d = 0
            val n = math.min(av.length, bv.length)
            while (d < n) { s += av(d) * bv(d); d += 1 }
            val c = s / (an * bn)
            // insertion into the small sorted-by-(c desc, id asc) array
            var pos = nBest
            while (pos > 0 && {
              val (pId, pc) = best(pos - 1)
              c > pc || (c == pc && bId < pId)
            }) pos -= 1
            if (pos < k) {
              val last = math.min(nBest, k - 1)
              var q = last
              while (q > pos) { best(q) = best(q - 1); q -= 1 }
              best(pos) = (bId, c)
              if (nBest < k) nBest += 1
            }
          }
          bi += 1
        }
        var q = 0
        while (q < nBest) { res += ((aId, best(q)._1, best(q)._2)); q += 1 }
        ai += 1
      }
      res.iterator
    }.toDF("a_id", "b_id", "c")
      .dropDuplicates("a_id", "b_id")
    val w = Window.partitionBy("a_id").orderBy(desc("c"), col("b_id"))
    val directed = cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .localCheckpoint(eager = true)
    val transpose = directed.select(col("b_id").as("ta"), col("a_id").as("tb"),
      col("rnk").as("rnk_ba"))
    directed.join(transpose,
        col("a_id") === col("ta") && col("b_id") === col("tb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(col("c") * 1e6).cast("long").as("cos_e6"),
        col("rnk").cast("long").as("rnk_ab"),
        col("rnk_ba").cast("long").as("rnk_ba"))
  }

  /** Triangle census over a canonical (a < b) undirected edge list: every
    * triangle enumerated exactly once as a < b < c via two equi-joins
    * (path a→b→c, then the closing a→c edge), per-node triangle counts and
    * the local clustering coefficient in exact ppm integers. Factored out
    * of [[triangleCensus]] so the core is unit-testable on a hand-built
    * graph.
    */
  def trianglesFromEdges(edges: DataFrame): DataFrame = {
    // checkpointed: e feeds FOUR joins (e1/e2/e3 + deg) — with a memoized
    // literal edge list this is free; in the >memoMaxRows live fallback it
    // stops the whole knnGraph build re-executing per consumer (the
    // invariant triangleCensus documented before the shared-edge refactor)
    val e = edges.select(col("a_id"), col("b_id")).localCheckpoint()
    val p = e.as("e1").join(e.as("e2"), col("e1.b_id") === col("e2.a_id"))
      .select(col("e1.a_id").as("a"), col("e1.b_id").as("b"),
        col("e2.b_id").as("c"))
    val tri = p.join(e.as("e3"),
        col("a") === col("e3.a_id") && col("c") === col("e3.b_id"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("tri"))
    val deg = e.select(explode(array(col("a_id"), col("b_id"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          expr("(coalesce(tri, CAST(0 AS BIGINT)) * 2000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** Bounded-round k-core peel over a canonical (a < b) undirected edge
    * list — the dense-community extractor graph-curation pipelines run on
    * the mutual-kNN graph (a k-core survivor sits in a region where every
    * member has ≥ `k` mutual neighbors that themselves survive — the
    * signature of a duplicate clique or a tight semantic cluster, where a
    * pendant chain or a star center does not). Each round computes
    * degrees (one explode + groupBy with map-side partial aggregation),
    * drops every edge touching a sub-`k` node (two shuffled anti-joins —
    * the drop set is NOT broadcast: round one can shed a large fraction
    * of the graph), and localCheckpoints the shrinking edge list so
    * lineage never compounds across rounds. Rounds are CAPPED at
    * `maxRounds` with the SAME cap on both engines — the oracle unrolls
    * exactly `maxRounds` peel layers, so even a fixture that has not
    * converged at the cap hash-matches; past the fixpoint the peel is
    * idempotent, so extra unrolled layers are no-ops. The peel count to
    * fixpoint is bounded by the graph's degeneracy ordering depth, ~10
    * for mutual-kNN graphs at any corpus size (each round removes the
    * entire current fringe, not one node — the parallel peel of
    * Matula–Beck), so the cap is a convergence guarantee, not a
    * truncation. Output: `(vec_id, core_deg)` degrees over the final
    * edge set — at fixpoint every survivor has core_deg ≥ k.
    */
  def kCoreFromEdges(edges: DataFrame, k: Int,
      maxRounds: Int = 12): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a_id"), col("b_id"))).as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    var e = edges.select(col("a_id"), col("b_id")).localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // checkpointed: the drop set feeds BOTH anti-joins — without it each
      // join would recompute the degree aggregation from the edge scan
      val drop = degrees(e).filter(col("deg") < k).select("vec_id")
        .localCheckpoint()
      if (drop.isEmpty) converged = true
      else e = e
        .join(drop.withColumnRenamed("vec_id", "a_id"), Seq("a_id"), "left_anti")
        .join(drop.withColumnRenamed("vec_id", "b_id"), Seq("b_id"), "left_anti")
        .localCheckpoint()
      round += 1
    }
    degrees(e).select(col("vec_id"), col("deg").as("core_deg"))
  }

  /** Synchronous label propagation with clamped seeds over a canonical
    * (a < b) undirected edge list — the semi-supervised labeler a
    * training-data pipeline runs to spread a small audited label set
    * (domain, topic, quality tier) across an unlabeled corpus along the
    * kNN structure. `nodes` carries `(vec_id, seed_lab)` with seed_lab
    * null for the unlabeled; each of the `rounds` synchronous updates
    * recomputes every NON-seed node's label as the majority vote over its
    * neighbors' previous-round labels (count desc, then smallest label —
    * a total order, so ties are deterministic), keeps the previous label
    * when no neighbor is labeled yet, and leaves seeds clamped. Per
    * round: one join of the adjacency against the labeled frontier, one
    * (node, label) count with map-side partial aggregation, one grouped
    * `min_by` election, and a checkpointed relabel join — every step
    * shuffle-parallel on the node key, the adjacency checkpointed ONCE
    * and reused across rounds. Unlabeled nodes come out as −1.
    */
  def labelPropagate(edges: DataFrame, nodes: DataFrame,
      rounds: Int = 4): DataFrame = {
    val adj = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint()
    // checkpointed once: the seed relation feeds every round's clamped
    // relabel — without it each round re-reads the source scan
    val seeds = nodes
      .select(col("vec_id"), col("seed_lab").cast("long").as("seed_lab"))
      .localCheckpoint()
    var labels = seeds.select(col("vec_id"), col("seed_lab").as("lab"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = adj.join(labels.filter(col("lab").isNotNull)
          .select(col("vec_id").as("dst"), col("lab")), "dst")
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("cnt"))
      val winner = votes.groupBy("src").agg(
        min_by(col("lab"),
          struct((-col("cnt")).as("nc"), col("lab"))).as("new_lab"))
      labels = seeds
        .join(winner.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left_outer")
        .join(labels.select(col("vec_id"), col("lab").as("prev_lab")),
          Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("seed_lab"), col("new_lab"), col("prev_lab")).as("lab"))
        .localCheckpoint()
    }
    labels.select(col("vec_id"), coalesce(col("lab"), lit(-1L)).as("label"))
  }

  /** Triangle counting + local clustering coefficients over the mutual
    * k-NN graph — the cohesion signal that separates tight semantic
    * clusters (high coefficient: neighbors also know each other — dup-like
    * regions SemDeDup should collapse) from hub-like diversity. Scale: the
    * mutual k-NN graph is DEGREE-BOUNDED by k, so the path join emits at
    * most n·k² rows and the whole census is linear in n — the reason
    * triangle counting on k-NN graphs scales where general-graph triangle
    * counting needs degree-ordering tricks. The edge list is checkpointed
    * once (consumed by three joins under different keys).
    */
  def triangleCensus(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, k: Int = 4): DataFrame = {
    val edges = knnGraph(emb, centroids, nProbe, k)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = true)
    trianglesFromEdges(edges)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick k results balancing RELEVANCE to the query against
    * DIVERSITY from what's already picked —
    * `argmax_c rel(c) − λ·max_{s∈S} cos(c, s)` — the de-duplicating
    * retrieval step and the diversity-aware data-selection policy (pick
    * spread-out exemplars, not k copies of the best neighborhood).
    *
    * Shape: one TakeOrdered pass prunes the corpus to a `poolSize`
    * candidate pool; the greedy loop is then k driver rounds, each ONE
    * scan of the pool with the selected vectors riding as literals — the
    * k-means++-seeding discipline (k·dim driver state, constant plans).
    * Scores are plain IEEE ops over the shared cosine form, so the
    * unrolled-CTE oracle replays every round's argmax hash-exactly
    * (ties broken by vec_id).
    */
  def mmrSelect(emb: DataFrame, queryId: Long = 0L, poolSize: Int = 20,
      k: Int = 5, lambda: Double = 0.5): DataFrame = {
    import graft.plans.native
    val spark = emb.sparkSession
    val e = emb2v(emb)
    val qv = e.filter(col("vec_id") === queryId).head().getSeq[Double](1)
    def cosTo(lit: Seq[Double]) =
      native.dot(col("v"), typedlit(lit)) /
        (sqrt(native.dot(col("v"), col("v"))) *
          sqrt(native.dot(typedlit(lit), typedlit(lit))))
    val pool = e.filter(col("vec_id") =!= queryId)
      .withColumn("rel", cosTo(qv))
      .orderBy(desc("rel"), col("vec_id"))
      .limit(poolSize)
      .cache()
    try {
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      // Spark's round(x * 1e6)::long (HALF_UP, as DuckDB's round); NaN → 0
      def e6(x: Double): Long = KMeans.fxEncode(x * 1e6, ansi = false)
      (1 to k).foreach { r =>
        val base = pool.filter(!col("vec_id").isin(selected.map(_._1).toSeq: _*))
        val scored =
          if (selected.isEmpty) base.withColumn("score", col("rel"))
          else {
            val sims = selected.map(s => cosTo(s._2)).toSeq
            val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
            base.withColumn("score", col("rel") - lit(lambda) * maxSim)
          }
        val top = scored.orderBy(desc("score"), col("vec_id")).limit(1).head()
        selected += ((top.getAs[Long]("vec_id"), top.getSeq[Double](1)))
        out += ((r.toLong, top.getAs[Long]("vec_id"),
          e6(top.getAs[Double]("rel")), e6(top.getAs[Double]("score"))))
      }
      import spark.implicits._
      out.toSeq.toDF("rnk", "vec_id", "rel_e6", "score_e6")
    } finally pool.unpersist()
  }

  /** Integer fixed-point PageRank over the [[knnGraph]] mutual k-NN edges —
    * the centrality signal that picks REPRESENTATIVE documents per semantic
    * neighborhood (high rank = endorsed by many well-connected neighbors),
    * the selection-side complement to SemDeDup's redundancy removal.
    *
    * Exactness discipline: ranks live in ppm units (start 1 000 000) and
    * every iteration is pure integer floor arithmetic —
    * `r'(v) = 150000 + Σ_{u∼v} (r(u)·85) div (100·deg(u))` — so the
    * bounded-iteration loop replays exactly in ANSI SQL (the same
    * unrolled-CTE discipline as the BPE oracle); no float accumulation
    * order to pin. Isolated nodes keep the 0.15 base; the floor-division
    * mass leak is deliberate (this is a deterministic ranking diagnostic,
    * not a probability distribution).
    *
    * Scale shape: each iteration is ONE equi-join (edges ⋈ ranks on the
    * source endpoint) + ONE grouped sum, both hash-partitioned on node id —
    * the Pregel shape, same as label propagation; localCheckpoint keeps
    * per-iteration plans constant-size. Edges are k·n-bounded by the k-NN
    * construction, so an iteration is O(k·n) rows end to end.
    */
  def graphRank(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, k: Int = 4, iters: Int = 5): DataFrame =
    graphRankFromEdges(emb, knnGraph(emb, centroids, nProbe, k), iters)

  /** The PageRank core of [[graphRank]] over a canonical `a_id < b_id`
    * undirected edge list — factored out (the [[bfsFromEdges]] split) so a
    * shared/memoized edge list can feed it directly.
    */
  def graphRankFromEdges(emb: DataFrame, edges: DataFrame,
      iters: Int = 5): DataFrame = {
    val e = edges.select(col("a_id").as("s"), col("b_id").as("t"))
    val sym = e.unionAll(e.select(col("t").as("s"), col("s").as("t")))
      .localCheckpoint(eager = true)
    val deg = sym.groupBy("s").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("s", "id")
    val nodes = emb.select(col("vec_id").as("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
      .localCheckpoint(eager = true)
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(ranks.select(col("id").as("s"), col("deg"), col("rank")), "s")
        .select(col("t").as("id"),
          expr("rank * 85 div (100 * deg)").as("c"))
      ranks = nodes
        .join(contrib.groupBy("id").agg(sum("c").as("sc")), Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit(150000L) + coalesce(col("sc"), lit(0L))).as("rank"))
        .localCheckpoint(eager = true)
    }
    ranks.select(col("id").as("vec_id"), col("deg"),
      col("rank").as("rank_ppm"))
  }

  /** Multi-source BFS hop distances over the [[knnGraph]] mutual k-NN
    * edges — the reachability probe over the semantic-neighborhood graph:
    * "how many hops from the seed exemplars does each vector sit?" feeds
    * diversity-aware selection (near-seed = redundant with what's already
    * picked, far/unreached = novel) and diffusion-style label spreading.
    *
    * FRONTIER BFS, not min-hop relaxation: round h joins only the hop-h−1
    * frontier against the edge list and anti-joins the settled set, so
    * per-round work is O(|frontier|·k), not O(n·k) — the property that
    * matters when the graph is 100 TB-scale and the seed neighborhood is
    * tiny. Each round is one equi-join + one anti-join, both
    * hash-partitioned on node id (Pregel shape, like [[graphRank]]);
    * localCheckpoint keeps per-round plans constant-size. Unreached
    * vectors are absent from the output by design (their hop is +∞, not a
    * row) — the consumer left-joins and treats null as "novel".
    */
  def bfsHops(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, k: Int = 4, sources: Seq[Long] = Seq(0L, 1L, 2L, 3L),
      maxHops: Int = 4): DataFrame =
    bfsFromEdges(knnGraph(emb, centroids, nProbe, k), sources, maxHops)

  /** The BFS core of [[bfsHops]] over a canonical `a_id < b_id` undirected
    * edge list — factored out so the frontier/settled mechanics are
    * unit-testable on a hand-built graph.
    */
  def bfsFromEdges(edges: DataFrame, sources: Seq[Long],
      maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("a_id").as("s"), col("b_id").as("t"))
    val sym = e.unionAll(e.select(col("t").as("s"), col("s").as("t")))
      .localCheckpoint(eager = true)
    // the seed set is driver-held by contract (a handful of exemplar ids —
    // the same k-sized-state discipline as centroids/codebooks); distinct
    // so duplicate exemplar ids can't emit duplicate hop-0 rows
    var dist = sources.distinct.toDF("id").withColumn("hop", lit(0L))
      .localCheckpoint(eager = true)
    var frontier = dist
    var h = 1
    // stop as soon as the frontier empties — the settled set can only be
    // re-derived after that, so later rounds would be pure no-op joins
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.select(col("id").as("s")).join(sym, "s")
        .select(col("t").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .localCheckpoint(eager = true)
      dist = dist.unionAll(next).localCheckpoint(eager = true)
      frontier = next
      h += 1
    }
    dist.select(col("id").as("vec_id"), col("hop"))
  }

  /** Embedding OOD / novelty score — the distribution-shift filter a
    * training pipeline runs on incoming data: each vector's squared
    * distance to its nearest coarse cell, z-scored against THAT CELL's
    * distance distribution (a global threshold would flag whole sparse
    * cells; per-cell normalization flags what's unusual *for its
    * neighborhood*). High z = far from everything the corpus already
    * covers → novel or junk, route to review/curation.
    *
    * Exactness: distances land in e6 fixed point (d2 ≤ ~4 for unit-norm
    * embeddings, so d2_e6 ≤ 4e6 and the squared sums hold int64 headroom
    * through ~5e5 rows per cell — repartition the census per cell beyond
    * that); per-cell moments are exact integer sums off ONE pass over the
    * assignment; z is one fixed double formula on top ([[Events.trend]]
    * recipe). Scale: assignment is the zero-shuffle literal-centroid fold,
    * the census is one k-row aggregate, and the join back broadcasts it.
    */
  def oodScore(emb: DataFrame, centroids: Seq[KMeans.Centroid]): DataFrame = {
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val a = Par.widenBy(emb2v(emb), col("vec_id")).select(col("vec_id"),
      nearestId(col("v"), ids, cs).as("cell"),
      round(nearestSqDist(col("v"), cs) * 1e6).cast("long").as("d2_e6"))
    val st = a.groupBy("cell").agg(count(lit(1)).as("cell_n"),
      sum("d2_e6").as("s1"), sum(col("d2_e6") * col("d2_e6")).as("s2"))
    def d(c: String) = col(c).cast("double")
    val mean = d("s1") / d("cell_n")
    val varc = d("s2") / d("cell_n") - mean * mean
    a.join(broadcast(st), "cell")
      .select(col("vec_id"), col("cell"), col("d2_e6"), col("cell_n"),
        when(varc > 0, round((d("d2_e6") - mean) / sqrt(varc) * 1e6)
          .cast("long")).as("z_e6"))
  }

  /** Hard-negative mining for contrastive embedding training: for every
    * anchor vector, the `k` highest-cosine candidates with a DIFFERENT
    * ground-truth label — the "looks similar, isn't" pairs that carry the
    * gradient signal in triplet/InfoNCE training. Candidates come from the
    * same nProbe-cell blocking as [[knnGraph]] (the hardest negatives are by
    * definition nearby, so cell blocking loses little), ranked per anchor by
    * exact cosine.
    *
    * Scale shape: identical to [[knnGraph]] minus the transpose join — cell
    * equi-join candidates, per-anchor top-k window, never an all-pairs
    * product; the label filter rides inside the join condition so same-label
    * pairs are never materialized.
    */
  def hardNegatives(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nProbe: Int = 2, k: Int = 3): DataFrame = {
    import graft.plans.native
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val e = Par.widenBy(emb, col("vec_id")) // assign + pair re-rank (r18)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
      .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
    val cellArr = slice(
      array_sort(zip_with(typedlit(cs), typedlit(ids),
        (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid")))),
      1, nProbe)
    val indexed = e
      .select(col("vec_id"), col("v"), col("nv"), col("label"),
        explode(cellArr).as("x"))
      .select(col("vec_id"), col("v"), col("nv"), col("label"),
        col("x.cid").as("cell"))
    val a = indexed.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nv").as("na"), col("label").as("label_a"))
    val b = indexed.select(col("cell").as("cell_b"), col("vec_id").as("n_id"),
      col("v").as("vb"), col("nv").as("nb"), col("label").as("label_n"))
    val cand = a.join(b, col("cell") === col("cell_b") &&
        col("label_a") =!= col("label_n"))
      .select(col("a_id"), col("label_a"), col("n_id"), col("label_n"),
        (native.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("c"))
      .dropDuplicates("a_id", "n_id")
    val w = Window.partitionBy("a_id").orderBy(desc("c"), col("n_id"))
    cand.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("a_id"), col("label_a"), col("n_id"), col("label_n"),
        col("rnk"), round(col("c") * 1e6).cast("long").as("cos_e6"))
  }

  /** L2-normalized copy of the embedding relation (`vec_id`, unit-length
    * `embedding: array<double>`). Cosine ANN over IVF cells is geometrically
    * sound only on the unit sphere — there `d² = 2 − 2·cos`, so the
    * L2-argmin cell assignment and the cosine neighborhoods agree. Feed this
    * (and a fit over it) to [[ivfTopK]] for cosine workloads; raw vectors
    * make the coarse cells quantize magnitude instead of direction. Zero
    * vectors map to the zero vector. Per-row, no shuffle.
    */
  def normalize(emb: DataFrame): DataFrame = {
    val n = sqrt(graft.plans.native.dot(col("v"), col("v")))
    emb2v(emb).select(col("vec_id"),
      transform(col("v"), x => when(n > 0, x / n).otherwise(0.0)).as("embedding"))
  }

  /** Volume-derived coarse-cell count for the IVF/blocking family:
    * `max(floorCells, ⌊√n / 4⌋)`. A CONSTANT cell count is the classic
    * IVF scale-killer — cell population is n/nCells, so within-cell
    * candidate equi-joins grow quadratically in n; growing nCells with √n
    * keeps cell population ~4√n and the probe cost ~n^1.5 / nCells·nProbe —
    * sub-quadratic at any corpus size (the FAISS nlist ≈ c·√n rule). The
    * floor pins the HISTORICAL 16 cells at every oracle/bench fixture
    * (n ≤ 2000 ⇒ √n/4 ≤ 11 < 16), so all hash pins and floors survive;
    * the formula engages at the scale smokes (n = 20k ⇒ 35 cells,
    * n = 200k ⇒ 111 cells) and beyond. Build and probe sides derive the
    * count from the same data, so they always agree on the cell geometry.
    */
  def autoCells(n: Long, floorCells: Int = 16): Int =
    math.max(floorCells, (math.sqrt(n.toDouble) / 4.0).toInt)

  /** TWO-LEVEL coarse assignment — the recorded lever for the assignment
    * cost term ([[autoCellsPairwise]]'s scaladoc): a flat argmin over c
    * cells costs n·c distance folds; routing through √c-ish SUPER-cells
    * costs n·(nSuper + |children|) ≈ n·2√c. Super-centroids are the first
    * `nSuper` centroids in id order; every centroid maps (driver-side, k×
    * nSuper dots — tiny by contract) to its nearest super, and a vector is
    * assigned by nearest super THEN nearest centroid among that super's
    * children. Approximate by construction — the globally nearest centroid
    * may live under a different super — so the operator emits BOTH picks
    * per vector plus the agreement flag: it is its own accuracy
    * instrument (`sim_cells_twolevel`), hash-checked end to end. The same
    * (d, id) lexicographic tie order as every other assignment in the
    * engine; the FAISS-IMI-shaped next step past ~10⁴ flat cells.
    *
    * MEASURED (round 15, sf0.01, the FIXED first-16 centroids, nSuper=4):
    * 50.6% agreement with the flat argmin — and the trained-supers sweep
    * (SimilaritySpec, sf0.001) shows training does NOT rescue it on this
    * corpus: the synthetic embeddings are near-uniform, so every
    * hierarchy configuration lands in the same ~43–52% band. The lesson
    * the instrument delivers: two-level agreement is a property of the
    * data's cluster structure first and the router second — it climbs
    * with cluster separation on real corpora and no training regime can
    * manufacture separation that is not there. Do not deploy the
    * two-level path without reading this table on your own corpus.
    *
    * RESOLVED (round 16, the planted-cluster fixture the adjudication
    * called for — [[graft.ScaleSmoke.plantedEmbeddings]], 4 super-clusters
    * × 8 children): true hierarchy routes 4000/4000 (100%), arbitrary
    * prefix supers 3969/4000 (99.2%), and the routed knnGraphBlocked build
    * is EDGE-IDENTICAL to the flat broadcast build (SimilaritySpec pins
    * all three). The ~50% sf-fixture band was the fixture, not the router.
    * DECISION: the lever is wired as the opt-in `supers` param of
    * [[mapCells]]/[[knnGraphBlocked]] — deploy when `sim_cells_twolevel`
    * reads high on the target corpus; keep flat assignment on
    * near-uniform data where routing trades recall for nothing.
    */
  def assignTwoLevel(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nSuper: Int): DataFrame = {
    require(nSuper >= 1 && nSuper <= centroids.length,
      s"nSuper $nSuper out of range for ${centroids.length} centroids")
    assignTwoLevel(emb, centroids, centroids.sortBy(_.j).take(nSuper))
  }

  /** [[assignTwoLevel]] with an EXPLICIT super set — the production form:
    * supers from a coarse fit over the corpus (`KMeans.fitBounded`
    * composes), not an arbitrary prefix of the fine centroids. MEASURED
    * on sf0.001 (SimilaritySpec): on the near-uniform synthetic corpus
    * EVERY configuration lands at ~43–52% agreement (arb fine + prefix
    * supers 52.2%, arb fine + trained supers 43.2%, trained fine +
    * trained supers 48.0%) — there is no cluster structure for any
    * hierarchy to exploit, and training either level cannot manufacture
    * it. The honest reading the instrument exists to deliver: two-level
    * routing accuracy is a property of the DATA's cluster structure
    * first and the router second; read `sim_cells_twolevel` on your own
    * corpus before buying the assignment speedup.
    */
  def assignTwoLevel(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      supers: Seq[KMeans.Centroid]): DataFrame = {
    val sorted = centroids.sortBy(_.j)
    // duplicate-coordinate supers collapsed pick-preservingly (see
    // dedupSupers) so the when-fold below never looks up a dropped twin
    val ss = dedupSupers(supers)
    // nearest super per centroid, (d, sid) tie order — the exact fold the
    // column expressions run, so the mirror's argmin CTE reproduces it;
    // shared with the mapCells routed assignment (superChildren) so the
    // instrument and the wired lever can never disagree on ownership
    val children = superChildren(centroids, ss)
    def argmin(cs: Seq[KMeans.Centroid]): Column =
      element_at(array_sort(zip_with(
        typedlit(cs.map(_.c)), typedlit(cs.map(_.j)),
        (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid")))), 1)
        .getField("cid")
    val superPick = element_at(array_sort(zip_with(
      typedlit(ss.map(_.c)), typedlit(ss.map(_.j)),
      (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid")))), 1)
      .getField("cid")
    // nSuper-way CASE: each branch is the argmin over that super's children
    val cellTwo = ss.foldLeft(lit(-1L)) { (acc, s) =>
      when(col("super_cell") === s.j,
        argmin(children(s.j))).otherwise(acc)
    }
    emb2v(emb)
      .withColumn("super_cell", superPick)
      .withColumn("cell_two", cellTwo)
      .withColumn("cell_flat", argmin(sorted))
      .select(col("vec_id"), col("cell_flat"), col("cell_two"),
        col("super_cell"),
        when(col("cell_flat") === col("cell_two"), 1L).otherwise(0L)
          .as("agree"))
  }

  /** Cell-count policy for PAIRWISE operators ([[knnGraphBlocked]],
    * [[Dedup.embeddingCosineBlockedLocal]], SemDeDup's pair stage): a
    * FIXED target cell population instead of [[autoCells]]'s √n scaling.
    * With √n cells the per-cell pair work is (√n·4)²·nProbe² — total
    * n^1.5, measured 35× wall at 100× (SCALE.md). With n/targetCell cells
    * the pair work per cell is constant and the TOTAL pair FLOPs are
    * linear in n; the trade is the coarse ASSIGNMENT (n·nCells dots),
    * which the [[mapCells]] broadcast path keeps off the plan but still
    * pays in FLOPs — past ~10⁴ cells a two-level quantizer (assign to √c
    * super-cells, then within) is the standard next step, wired round 16
    * as [[mapCells]]'s opt-in `supers` routing (planted-cluster evidence
    * in [[assignTwoLevel]]'s scaladoc). Recall shrinks
    * with cell size; `dedup_semantic_probe` / `sim_recall_curve` are the
    * instruments that re-price nProbe after a policy change.
    */
  def autoCellsPairwise(n: Long, targetCell: Int = 2000,
      floorCells: Int = 16): Int =
    math.max(floorCells, (n / targetCell).toInt)

  /** Deterministic fixed coarse centroids for the oracle: the vectors with
    * vec_id < nCells, cell id = vec_id + 1 in vec_id order.
    */
  def fixedCentroids(emb: DataFrame, nCells: Int): Seq[KMeans.Centroid] = {
    emb2v(emb).filter(col("vec_id") < nCells).orderBy("vec_id").collect().map { r =>
      KMeans.Centroid(r.getLong(0) + 1, r.getSeq[Double](1))
    }.toSeq
  }

  // ----------------------------------------------------- PCA (first component)

  /** First principal component of the embedding cloud — the
    * variance-structure diagnostic (anisotropy check, whitening input,
    * "is there a dominant direction" signal) every embedding pipeline
    * inspects: per dimension, the mean and the PC1 loading, plus the
    * explained-variance ratio riding on every row.
    *
    * Shape: ONE scan accumulates the exact sufficient statistics (n, Σx,
    * Σxxᵀ) via per-partition d + d² accumulators merged on the driver —
    * the [[graft.operators.KMeans.LloydKernel]] discipline, ≤ P·d²
    * doubles collected, points never leave their partition. The 64×64
    * covariance then power-iterates ON THE DRIVER (deterministic fixed
    * start e₁, fixed 100 iterations — d²-sized state by contract, like
    * centroids/codebooks). Sign convention: the largest-|loading|
    * dimension carries a positive loading. Rows-only (the eigenvector is
    * an iterative float fit); direction parity vs MLlib PCA is pinned in
    * SimilaritySpec.
    */
  def pca1(emb: DataFrame, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = dim
    val parts = org.apache.spark.GraftJobShim.run(emb2v(emb).select(col("v")).queryExecution.toRdd,
      "Similarity.pca1") { (_, it) =>
      var n = 0L
      val s = new Array[Double](d)
      val ss = new Array[Double](d * d)
      while (it.hasNext) {
        val arr = it.next().getArray(0)
        n += 1
        var i = 0
        while (i < d) {
          val xi = arr.getDouble(i)
          s(i) += xi
          var j = 0
          while (j < d) { ss(i * d + j) += xi * arr.getDouble(j); j += 1 }
          i += 1
        }
      }
      (n, s, ss)
    }
    val n = parts.map(_._1).sum.toDouble
    val s = new Array[Double](d)
    val ss = new Array[Double](d * d)
    parts.foreach { case (_, ps, pss) =>
      var i = 0
      while (i < d) { s(i) += ps(i); i += 1 }
      var k = 0
      while (k < d * d) { ss(k) += pss(k); k += 1 }
    }
    val mean = s.map(_ / n)
    val cov = Array.tabulate(d, d)((i, j) => ss(i * d + j) / n - mean(i) * mean(j))
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    var lambda = 0.0
    (0 until 100).foreach { _ =>
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      lambda = norm
      v = w.map(_ / norm)
    }
    val flip = if (v(v.map(math.abs).zipWithIndex.maxBy(_._1)._2) < 0) -1.0 else 1.0
    val pc = v.map(_ * flip)
    val totVar = (0 until d).map(i => cov(i)(i)).sum
    val evr = lambda / totVar
    // half-AWAY-FROM-ZERO, matching Spark SQL round() and DuckDB round()
    // (Scala math.round is half-up toward +inf: -2.5 -> -2, which would
    // diverge from the oracle on a negative loading landing on .5e-6)
    def rnd(x: Double): Long = if (x >= 0) math.round(x) else -math.round(-x)
    pc.zipWithIndex.map { case (l, i) =>
      (i.toLong + 1, rnd(mean(i) * 1e6), rnd(l * 1e6), rnd(evr * 1e6))
    }.toSeq.toDF("dim", "mean_e6", "pc1_e6", "evr_e6")
  }

  /** Two-component PCA whitening — the embedding-space preprocessing a
    * SemDeDup-style semantic-dedup or an embedding-drift monitor runs
    * before cosine comparisons: every vector is projected on the top two
    * principal directions and each coordinate rescaled by `1/√λ`, so the
    * projected cloud is unit-variance per component.
    *
    * One exact-sufficient-stats scan (n, Σx, Σxxᵀ) combined with
    * `treeAggregate(depth = 2)` — the driver receives ONE `(d + d²)`-double
    * payload, not one per partition (at the 10⁵-partition tier of a 100 TB
    * corpus the per-partition collect [[pca1]] uses for its 64-row output
    * would be a multi-GB driver sink; the tree combine keeps it at ~33 KB
    * regardless of partition count). Then a driver-local `iters`-round
    * power iteration for PC1, exact rank-one deflation
    * (cov₂ = cov − λ₁v₁v₁ᵀ — flip-invariant, so the mirrored sign rule
    * cannot desynchronize the second chain), and the SAME iteration over
    * cov₂ for PC2 — both chains start at the deterministic e₁ and apply
    * [[pca1]]'s dominant-component sign flip, so the DuckDB mirror
    * ([[graft.OracleSql.embWhiten]]) replays the arithmetic verbatim. The
    * projection itself is a zero-shuffle per-row map over broadcast
    * literal `(m, v₁, v₂, λ)` — embarrassingly parallel at any scale.
    *
    * Outputs are e4 fixed point: whitened coordinates are O(1) by
    * construction (unit variance), and engine-order double drift through
    * the contractive iteration is ≲1e-10 — five orders under the 5e-5
    * rounding half-spacing (the [[pca1]] rounding-alignment argument, with
    * a wider margin because every VECTOR lands a rounded cell here, not
    * just the 64 loadings).
    */
  def whiten2(emb: DataFrame, dim: Int = 64, iters: Int = 100): DataFrame = {
    val d = dim
    val rdd = emb2v(emb).select(col("v")).queryExecution.toRdd
    val (n0, s, ss) = rdd.treeAggregate(
      (0L, new Array[Double](d), new Array[Double](d * d)))(
      seqOp = { case ((n, ps, pss), row) =>
        val arr = row.getArray(0)
        var i = 0
        while (i < d) {
          val xi = arr.getDouble(i)
          ps(i) += xi
          var j = 0
          while (j < d) { pss(i * d + j) += xi * arr.getDouble(j); j += 1 }
          i += 1
        }
        (n + 1, ps, pss)
      },
      combOp = { case ((n1, s1, ss1), (n2, s2, ss2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        var k = 0
        while (k < d * d) { ss1(k) += ss2(k); k += 1 }
        (n1 + n2, s1, ss1)
      },
      depth = 2)
    require(n0 > 0, "whiten2 needs a non-empty embedding table")
    val n = n0.toDouble
    val mean = s.map(_ / n)
    val cov = Array.tabulate(d, d)((i, j) => ss(i * d + j) / n - mean(i) * mean(j))

    // pca1's chain verbatim: e1 start, lambda = last iterate's pre-norm,
    // dominant-|component| sign flip (first index on ties, like the
    // oracle's ORDER BY abs(v) DESC, d LIMIT 1)
    def powerIter(m: Array[Array[Double]]): (Array[Double], Double) = {
      var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
      var lambda = 0.0
      (0 until iters).foreach { _ =>
        val w = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
        val norm = math.sqrt(w.map(x => x * x).sum)
        lambda = norm
        v = w.map(_ / norm)
      }
      val flip = if (v(v.map(math.abs).zipWithIndex.maxBy(_._1)._2) < 0) -1.0 else 1.0
      (v.map(_ * flip), lambda)
    }
    val (v1, l1) = powerIter(cov)
    val cov2 = Array.tabulate(d, d)((i, j) => cov(i)(j) - l1 * v1(i) * v1(j))
    val (v2, l2) = powerIter(cov2)

    def proj(v: Array[Double], lam: Double): Column = {
      val w = (1 to d).map(k =>
        (element_at(col("v"), k) - lit(mean(k - 1))) * lit(v(k - 1)))
        .reduce(_ + _) / lit(math.sqrt(lam))
      round(w * lit(1e4)).cast("long") // half-away-from-zero == DuckDB round
    }
    emb2v(emb).select(col("vec_id"),
      proj(v1, l1).as("w1_e4"), proj(v2, l2).as("w2_e4"))
  }

  // --------------------------------------------- scalar quantization (SQ8)

  /** Per-dimension `[min, max]` quantizer bounds for [[sq8TopK]]: one
    * posexplode scan + a `dim`-key groupBy, collected as the fixed
    * quantizer — `dim`-sized driver state by contract, the
    * [[fixedCentroids]] discipline.
    */
  def sq8Bounds(emb: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = emb2v(emb)
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("d").collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** SQ8 encode: per dimension, `round((x − mn_d)·255 / (mx_d − mn_d))`
    * (0 for a constant dimension) — one byte per dimension, a 4× memory /
    * scan-bandwidth cut vs float32. Per-row, zero shuffle.
    */
  def sq8Codes(emb: DataFrame, mn: Seq[Double], mx: Seq[Double]): DataFrame =
    emb2v(emb).select(col("vec_id"), sq8CodeCol(mn, mx).as("codes"))

  /** The SQ8 encode expression over the bound `v` column (shared by
    * [[sq8Codes]] and [[ivfSq8TopK]]'s one-pass cell+code index build). */
  private def sq8CodeCol(mn: Seq[Double], mx: Seq[Double]): Column = {
    val mnA = array(mn.map(lit): _*)
    val mxA = array(mx.map(lit): _*)
    transform(col("v"), (x, i) => {
      val lo = element_at(mnA, i + 1)
      val hi = element_at(mxA, i + 1)
      when(hi > lo, round((x - lo) * 255 / (hi - lo)).cast("long"))
        .otherwise(0L)
    })
  }

  /** IVF + SQ8 composed — FAISS's IVF-SQ index shape, completing the
    * compressed-index matrix next to [[ivfPqTopK]]: ONE per-row pass stores
    * `(cell, 64 byte-codes)` per vector; probes rank only the `nProbe`
    * nearest cells' codes by the exact-integer symmetric SQ8 distance.
    * Cell ranking happens in the same driver pass that collects the
    * contract-tiny query set (the [[ivfPqTopK]] discipline — identical
    * sqDist fold + (d, cid) tie order, so the oracle's relational
    * row_number replay agrees), and the candidate stage is the cell
    * equi-join that scales.
    */
  def ivfSq8TopK(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      nQueries: Int = 5, nProbe: Int = 2, k: Int = 10): DataFrame = {
    val (mn, mx) = sq8Bounds(emb)
    // the (cell, codes) index: one per-row pass, no shuffle — what persists
    // at 100 TB (the durable form is [[buildIvfSq8Index]]).
    // localCheckpoint = the same materialization boundary ivfPqTopK needs
    // (probe LocalRelation expressions must not cross into the index side).
    val indexed = ivfSq8Cells(emb, centroids, mn, mx)
      .localCheckpoint(eager = true)
    ivfSq8Search(indexed, emb, centroids, mn, mx, nQueries, nProbe, k)
  }

  /** The SQ8 index relation: coarse cell + byte codes in one per-row pass. */
  private def ivfSq8Cells(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      mn: Seq[Double], mx: Seq[Double]): DataFrame =
    emb2v(emb).select(col("vec_id"),
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)).as("cell"),
      sq8CodeCol(mn, mx).as("codes"))

  /** BUILD the IVF-SQ8 index once: (cell, vec_id, codes) persisted as a
    * table BUCKETED BY CELL — [[buildIvfIndex]]'s build/probe split over
    * the byte codes. Probe batches then equi-join co-located cell buckets
    * with no index-side Exchange and zero query-time assignment/encoding.
    */
  def buildIvfSq8Index(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      mn: Seq[Double], mx: Seq[Double], table: String, buckets: Int = 8,
      path: Option[String] = None): Unit =
    graft.sources.Sinks.writeBucketed(
      ivfSq8Cells(emb, centroids, mn, mx), table, buckets, Seq("cell"), path)

  /** Probe a persisted [[buildIvfSq8Index]] table: identical results to
    * [[ivfSq8TopK]] (codes are exact integers — the parquet roundtrip is
    * lossless). */
  def ivfSq8TopKIndexed(emb: DataFrame, table: String,
      centroids: Seq[KMeans.Centroid], mn: Seq[Double], mx: Seq[Double],
      nQueries: Int = 5, nProbe: Int = 2, k: Int = 10): DataFrame =
    ivfSq8Search(emb.sparkSession.table(table), emb, centroids, mn, mx,
      nQueries, nProbe, k)

  /** The shared IVF-SQ8 probe: cells ranked in the same driver pass that
    * collects the contract-tiny query codes (identical sqDist fold +
    * (d, cid) tie order as [[ivfPqTopK]]). */
  private def ivfSq8Search(indexed: DataFrame, emb: DataFrame,
      centroids: Seq[KMeans.Centroid], mn: Seq[Double], mx: Seq[Double],
      nQueries: Int, nProbe: Int, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    def sqd(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val probeRows = emb2v(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v"), sq8CodeCol(mn, mx).as("qc"))
      .collect().flatMap { r =>
        val (qid, qv, qc) = (r.getLong(0), r.getSeq[Double](1), r.getSeq[Long](2))
        ids.zip(cs).map { case (j, c) => (sqd(c, qv), j) }
          .sorted.take(nProbe)
          .map { case (_, cell) => (qid, cell, qc) }
      }
    val probes = probeRows.toSeq.toDF("q_id", "cell", "qc")
    val cand = probes.join(indexed, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        // the codegen'd kernel — bit-identical to the HOF fold (PlansSpec)
        graft.plans.native.code_sq_dist(col("qc"), col("codes")).as("sq_dist"))
    val w = Window.partitionBy("q_id").orderBy(col("sq_dist"), col("n_id"))
    cand.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("sq_dist"))
  }

  /** Scalar-quantized (SQ8) top-k search — the OTHER standard compressed
    * vector-store format next to PQ: every dimension quantized to one byte
    * against per-dimension corpus bounds, distances computed SYMMETRICALLY
    * in code space as exact integer `Σ(Δcode)²` (SIMD/codegen-friendly; no
    * float in the hot loop, so the DuckDB oracle hash-matches with zero
    * tolerance). The scan here is the brute measurement baseline over the
    * compressed codes — the broadcast-cross-join-the-tiny-query-side shape
    * of [[bruteForceTopK]] but over 64 B/vector instead of 512 B; the cell
    * path composes exactly like PQ's (store `(cell, codes)`, probe via the
    * [[ivfTopK]] equi-join).
    */
  def sq8TopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    sq8TopKWith(emb, nQueries, k, (qc, nc) =>
      aggregate(zip_with(qc, nc, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))

  /** [[sq8TopK]] with the distance evaluated by the NATIVE codegen'd
    * `code_sq_dist` kernel instead of the interpreted HOF chain — one
    * fused allocation-free loop inside whole-stage codegen, bit-identical
    * values (exact int64 either way; parity pinned in PlansSpec), same
    * oracle.
    */
  def sq8TopKNative(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    sq8TopKWith(emb, nQueries, k, graft.plans.native.code_sq_dist)

  private def sq8TopKWith(emb: DataFrame, nQueries: Int, k: Int,
      dist: (Column, Column) => Column): DataFrame = {
    val (mn, mx) = sq8Bounds(emb)
    val c = sq8Codes(emb, mn, mx)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("codes").as("qc"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        dist(col("qc"), col("codes")).as("sq_dist"))
    val w = Window.partitionBy("q_id").orderBy(col("sq_dist"), col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("sq_dist"))
  }

  // --------------------------------------------------- product quantization

  /** Product-quantization codebook: `m` subspaces × `k` sub-centroids, where
    * sub-centroid `t` of subspace `s` is the s-th slice of seed vector
    * `vec_id = t` — the [[fixedCentroids]] convention, so the DuckDB oracle
    * re-derives the whole codebook from the data. Production swaps the seeds
    * for per-subspace `KMeans.fit` centroids; every shape downstream is
    * unchanged. k-row collect — sample-by-contract, like [[fixedCentroids]].
    */
  def pqCodebook(emb: DataFrame, m: Int = 8, k: Int = 16): Seq[Seq[Seq[Double]]] = {
    val rows = emb2v(emb).filter(col("vec_id") < k).orderBy("vec_id")
      .select(col("v")).collect().map(_.getSeq[Double](0))
    require(rows.length == k, s"need $k seed vectors, got ${rows.length}")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    (0 until m).map(s => rows.toSeq.map(r => r.slice(s * sub, (s + 1) * sub).toSeq))
  }

  /** TRAINED PQ codebook — the production path: one k-means fit per
    * subspace over that subspace's slices ([[graft.operators.KMeans.fitAuto]]
    * — distributed Lloyd at scale, the bit-identical driver-local twin at
    * these test sizes). Sub-centroid order follows centroid id so codes are
    * deterministic. Same shapes as [[pqCodebook]] downstream; the seed
    * variant stays as the oracle-replayable form.
    */
  def pqCodebookFitted(emb: DataFrame, m: Int = 8, k: Int = 16,
      dim: Int = 64, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    val e = emb2v(emb)
    (0 until m).map { s =>
      val yh = e.select(col("vec_id").as("i"),
        slice(col("v"), s * sub + 1, sub).as("Y"))
      KMeans.fitAuto(yh, k, sub, seed = seed + s).centroids
        .sortBy(_.j).map(_.c.toSeq).toSeq
    }
  }

  /** ORACLE-REPLAYABLE trained PQ codebook: per subspace, deterministic
    * first-k seeds ([[graft.operators.KMeans.seedFirstK]] — j = vec_id+1)
    * refined by `iters` fixed-point Lloyd steps — the km_fit2_exact
    * discipline per subspace, so the whole training unrolls into chained
    * assign/re-average CTEs and `emb_pq_fitted` hash-matches a DuckDB
    * oracle (the [[pqCodebookFitted]] k-means‖ form stays as the
    * deeper-convergence alternative, spec-pinned). Lloyd monotonically
    * cuts quantization error, so fitted-beats-seed still holds (pinned in
    * SimilaritySpec for both forms).
    */
  def pqCodebookFitted2(emb: DataFrame, m: Int = 8, k: Int = 16,
      dim: Int = 64, iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    val e = emb2v(emb)
    // ALL m subspaces train in the SAME pass: per iteration, one explode
    // over the m (subspace, code, slice) structs + one (s, code)-keyed
    // grouped aggregate of per-dim fixed-point sums — 1 job per iteration
    // instead of m·(assign + re-average) jobs, identical values (long sums
    // merge in any order; the mean is the same sum/1e4/n double chain and
    // the code argmin the same sqDist fold the per-subspace form runs)
    var cb: Seq[Seq[Seq[Double]]] = pqCodebook(emb, m, k)
    for (_ <- 0 until iters) {
      val subStructs = (0 until m).map { s =>
        val sv = slice(col("v"), s * sub + 1, sub)
        struct(lit(s).as("s"),
          graft.plans.native.nearestIdNative(sv, (0L until k.toLong).toSeq,
            cb(s)).as("code"),
          sv.as("sv"))
      }
      val sums = (1 to sub).map(d =>
        sum(round(element_at(col("sv"), d) * 1e4).cast("long")).as(s"s$d"))
      val rows = e.select(explode(array(subStructs: _*)).as("x"))
        .select(col("x.s").as("s"), col("x.code").as("code"), col("x.sv").as("sv"))
        .groupBy("s", "code")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      // pqEncode's code = seq position and the oracle's code = seed id − 1
      // only agree while no cluster ever empties — loud, not silently wrong
      require(rows.length == m * k,
        s"Lloyd emptied a cluster (${rows.length}/${m * k} survive)")
      val byKey = rows.map(r => ((r.getInt(0), r.getLong(1)), r)).toMap
      cb = (0 until m).map(s => (0 until k).map { c =>
        val r = byKey((s, c.toLong))
        val n = r.getLong(2)
        (0 until sub).map(d => r.getLong(3 + d).toDouble / 1e4 / n).toSeq
      }.toSeq)
    }
    cb
  }

  /** Total PQ quantization error (e6 fixed point): Σ over vectors of
    * Σₛ min-distance to subspace s's codebook — the training objective, used
    * to pin that the fitted codebook beats the seed codebook.
    */
  def pqError(emb: DataFrame, codebook: Seq[Seq[Seq[Double]]]): Long = {
    val m = codebook.length
    val sub = codebook.head.head.length
    val err = (0 until m).map(s =>
      nearestSqDist(slice(col("v"), s * sub + 1, sub), codebook(s)))
      .reduce(_ + _)
    emb2v(emb).select(sum(round(err * 1e6).cast("long")).as("e"))
      .head().getLong(0)
  }

  /** PQ encode — the vector-compression step that makes 100 TB ANN feasible:
    * each vector becomes `m` sub-codes (argmin sub-centroid per subspace,
    * ties → lowest code, the [[graft.functions.VectorOps.nearestId]] fold)
    * plus the packed radix-k word. At dim=64/m=8/k=16 that is 4 bytes per
    * vector against 512 raw — the 128× scan-size cut. Codebook rides as
    * literals: zero shuffle, zero joins. The per-row argmin is
    * `nearestIdNative`'s `zip_with`/`aggregate` fold, which Spark evaluates
    * interpreted, row by row (see `nearestIdCols`).
    */
  def pqEncode(emb: DataFrame, codebook: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebook.length
    val k = codebook.head.length
    val sub = codebook.head.head.length
    // the native sq_dist inside the interpreted HOF argmin fold —
    // bit-identical to VectorOps.nearestId (the km_assign_native parity)
    val codes = (0 until m).map { s =>
      graft.plans.native.nearestIdNative(slice(col("v"), s * sub + 1, sub),
        (0L until k.toLong).toSeq, codebook(s)).as(s"c$s")
    }
    val factors = Seq.iterate(1L, m)(_ * k)
    Par.widenBy(emb2v(emb), col("vec_id")) // m argmin folds per row (r18)
      .select(col("vec_id") +: codes: _*)
      .withColumn("packed",
        (0 until m).map(s => col(s"c$s") * factors(s)).reduce(_ + _))
  }

  /** Per-query ADC lookup table as a (q_id, qv, lut) relation: lut(s)(j) =
    * sqdist(query slice s, codebook(s)(j)), accumulated in the identical
    * element order as the sqDist fold (bit-parity pinned in
    * SimilaritySpec). Driver-side by contract — queries are a handful, the
    * k-sized-state discipline of the centroid literals.
    */
  private def adcLutRows(emb: DataFrame, codebook: Seq[Seq[Seq[Double]]],
      nQueries: Int): Array[(Long, Seq[Double], Seq[Seq[Double]])] = {
    val m = codebook.length
    val sub = codebook.head.head.length
    emb2v(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v")).collect()
      .map { r =>
        val qv = r.getSeq[Double](1)
        val lut: Seq[Seq[Double]] = (0 until m).map { s =>
          codebook(s).map { c =>
            var acc = 0.0
            var d = 0
            while (d < sub) {
              val diff = qv(s * sub + d) - c(d)
              acc += diff * diff
              d += 1
            }
            acc
          }
        }
        (r.getLong(0), qv, lut)
      }
  }

  private def adcLutDf(emb: DataFrame, codebook: Seq[Seq[Seq[Double]]],
      nQueries: Int): DataFrame = {
    val qLut = adcLutRows(emb, codebook, nQueries)
      .map { case (qid, qv, lut) => org.apache.spark.sql.Row(qid, qv, lut) }
    import org.apache.spark.sql.types._
    val lutSchema = StructType(Seq(
      StructField("q_id", LongType),
      StructField("qv", ArrayType(DoubleType)),
      StructField("lut", ArrayType(ArrayType(DoubleType)))))
    emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(qLut: _*), lutSchema)
  }

  /** PQ asymmetric-distance (ADC) top-k: approximate squared distance from
    * a RAW query to an ENCODED vector = Σₛ sqdist(query slice s, the coded
    * sub-centroid) — summed left-to-right per row so the oracle replays the
    * exact double sequence. The scan side is the codes relation (4 bytes a
    * vector), not the raw vectors: the deliberate exhaustive-scan-over-
    * compressed-codes design (IVF cells bolt on in front exactly as in
    * [[ivfTopK]] when even the code scan needs pruning). The query side
    * broadcasts ([[bruteForceTopK]]'s declared-baseline shape).
    *
    * Uses the textbook ADC LOOKUP TABLE: each query's m×k partial distances
    * are computed ONCE (driver-side — queries are a handful by contract,
    * the same k-sized-state discipline as centroid literals) with the exact
    * left-fold order [[graft.functions.VectorOps.sqDist]] evaluates, so the
    * per-row work drops from m·sub fused multiply-adds to m array lookups
    * and the values are bit-identical to the inline form (pinned in
    * SimilaritySpec).
    */
  def pqAdcTopK(emb: DataFrame, codebook: Seq[Seq[Seq[Double]]],
      nQueries: Int = 5, kNbrs: Int = 10): DataFrame = {
    val m = codebook.length
    val codes = pqEncode(emb, codebook)
    val q = adcLutDf(emb, codebook, nQueries).select("q_id", "lut")
    val adc = (0 until m).map { s =>
      element_at(element_at(col("lut"), s + 1), (col(s"c$s") + 1).cast("int"))
    }.reduce(_ + _)
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), adc.as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= kNbrs)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("adc") * 1e6).cast("long").as("adc_e6"))
  }

  /** IVF-PQ — the composition every scaladoc here promises ("IVF cells
    * bolt on in front when even the code scan needs pruning"), actually
    * composed: the index side is ONE zero-shuffle pass assigning each
    * vector its coarse cell AND its m sub-codes (cell + 4 bytes a vector —
    * what a 100 TB vector store persists); queries probe their nProbe
    * nearest cells and rank ONLY the probed cells' codes by ADC lookup.
    * Per query that touches ~nProbe/nCells of the compressed codes — the
    * two approximations (cell pruning, PQ quantization) compose, and the
    * exact re-rank of [[pqRerankTopK]] bolts on downstream unchanged.
    * ADC values are bit-identical to [[pqAdcTopK]] for every surviving
    * pair (same LUT, same fold), so the DuckDB oracle replays the whole
    * plan.
    */
  def ivfPqTopK(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      codebook: Seq[Seq[Seq[Double]]], nQueries: Int = 5, nProbe: Int = 2,
      kNbrs: Int = 10): DataFrame = {
    // materialization boundary = the index persistence step (a vector store
    // materializes (cell, codes) once and serves probes from it; the durable
    // form is [[buildIvfPqIndex]]). It is also load-bearing here: with the
    // projection left lazy, Spark's constraint inference inlines the cell
    // alias (an expression over v) into a predicate it then pushes to the
    // probes LocalRelation, where ConvertToLocalRelation fails binding v —
    // an optimizer bug the boundary sidesteps. localCheckpoint, not
    // cache(): its MEMORY_AND_DISK blocks are freed by the ContextCleaner
    // once this plan is dropped, where a CacheManager entry would
    // accumulate across invocations.
    val indexed = ivfPqCells(emb, centroids, codebook)
      .localCheckpoint(eager = true)
    ivfPqSearch(indexed, emb, centroids, codebook, nQueries, nProbe, kNbrs)
  }

  /** The (cell, codes) index relation: coarse cell + m sub-codes in ONE
    * per-row pass (no joins, no shuffle) — cell + 4 bytes a vector, what a
    * 100 TB vector store persists.
    */
  private def ivfPqCells(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      codebook: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebook.length
    val k = codebook.head.length
    val sub = codebook.head.head.length
    val codeCols = (0 until m).map { s =>
      nearestId(slice(col("v"), s * sub + 1, sub),
        (0L until k.toLong).toSeq, codebook(s)).as(s"c$s")
    }
    emb2v(emb).select(col("vec_id") +:
      nearestId(col("v"), centroids.map(_.j), centroids.map(_.c)).as("cell") +:
      codeCols: _*)
  }

  /** BUILD the IVF-PQ index once: (cell, vec_id, c0..c(m-1)) persisted as a
    * table BUCKETED BY CELL — [[buildIvfIndex]]'s build/probe split carrying
    * the compressed codes instead of the raw vectors. The one all-rows
    * shuffle happens at write time; probe batches then equi-join co-located
    * cell buckets with NO index-side Exchange (asserted in SimilaritySpec)
    * and the index re-reads across sessions without re-assigning or
    * re-encoding a single vector.
    */
  def buildIvfPqIndex(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      codebook: Seq[Seq[Seq[Double]]], table: String, buckets: Int = 8,
      path: Option[String] = None): Unit =
    graft.sources.Sinks.writeBucketed(
      ivfPqCells(emb, centroids, codebook), table, buckets, Seq("cell"), path)

  /** Probe a persisted [[buildIvfPqIndex]] table: identical results to
    * [[ivfPqTopK]] (codes are exact integers, so the parquet roundtrip is
    * lossless), zero assignment/encoding work at query time.
    */
  def ivfPqTopKIndexed(emb: DataFrame, table: String,
      centroids: Seq[KMeans.Centroid], codebook: Seq[Seq[Seq[Double]]],
      nQueries: Int = 5, nProbe: Int = 2, kNbrs: Int = 10): DataFrame =
    ivfPqSearch(emb.sparkSession.table(table), emb, centroids, codebook,
      nQueries, nProbe, kNbrs)

  /** The shared IVF-PQ probe: nProbe cells + the ADC LUT are picked in the
    * SAME driver pass (queries are a handful by contract) — the exact
    * sqDist fold + (d, cid) tie order, so the oracle's relational
    * row_number replay agrees; the probes relation ships as nQueries·
    * nProbe literal rows, sidestepping a Spark binding bug that crossed
    * the local-relation probe expressions with the index side's.
    */
  private def ivfPqSearch(indexed: DataFrame, emb: DataFrame,
      centroids: Seq[KMeans.Centroid], codebook: Seq[Seq[Seq[Double]]],
      nQueries: Int, nProbe: Int, kNbrs: Int): DataFrame = {
    val m = codebook.length
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    def sqd(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val diff = a(i) - b(i); acc += diff * diff; i += 1 }
      acc
    }
    val probeRows = adcLutRows(emb, codebook, nQueries).flatMap {
      case (qid, qv, lut) =>
        ids.zip(cs).map { case (j, c) => (sqd(c, qv), j) }
          .sortBy { case (d, j) => (d, j) }.take(nProbe)
          .map { case (_, j) => org.apache.spark.sql.Row(qid, j, lut) }
    }
    import org.apache.spark.sql.types._
    val probeSchema = StructType(Seq(
      StructField("q_id", LongType),
      StructField("cell", LongType),
      StructField("lut", ArrayType(ArrayType(DoubleType)))))
    val probes = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    // candidates: equi-join on cell against the COMPRESSED codes only
    val adc = (0 until m).map { s =>
      element_at(element_at(col("lut"), s + 1), (col(s"c$s") + 1).cast("int"))
    }.reduce(_ + _)
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    probes.join(indexed, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id") // two shared cells -> identical rows
      .select(col("q_id"), col("vec_id").as("n_id"), adc.as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= kNbrs)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("adc") * 1e6).cast("long").as("adc_e6"))
  }

  /** Two-stage PQ retrieval — the production ANN query shape: the cheap ADC
    * scan over 4-byte codes nominates a `shortlist`-sized candidate set per
    * query, then ONLY those candidates' raw vectors are fetched (equi-join on
    * vec_id — at 100 TB that is shortlist·q rows of raw vectors read, not the
    * corpus) and re-ranked by exact cosine. Recall loss is confined to the
    * nomination stage; the reported ordering is exact over the shortlist.
    * The ADC stage reuses [[pqAdcTopK]] verbatim (its crossJoin(broadcast)
    * over codes is that declared baseline's shape — IVF cells bolt on in
    * front when even the code scan needs pruning).
    */
  def pqRerankTopK(emb: DataFrame, codebook: Seq[Seq[Seq[Double]]],
      nQueries: Int = 5, shortlist: Int = 50, kNbrs: Int = 10): DataFrame = {
    import graft.plans.native
    val short = pqAdcTopK(emb, codebook, nQueries, shortlist)
      .select(col("q_id"), col("n_id"))
    val e = emb2v(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(desc("c"), col("n_id"))
    short
      .join(e.select(col("vec_id").as("n_id"), col("v").as("nv")), "n_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"),
        (native.dot(col("qv"), col("nv")) /
          (sqrt(native.dot(col("qv"), col("qv"))) *
            sqrt(native.dot(col("nv"), col("nv"))))).as("c"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= kNbrs)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("c") * 1e6).cast("long").as("cos_e6"))
  }

  /** k-center coreset selection by farthest-point traversal (Gonzalez 1985
    * — the greedy 2-approximation): seed at `vec_id` 0, then `k−1` rounds
    * of "add the point farthest from the chosen set" (squared L2, ties by
    * lowest id). The diversity-first data-SELECTION rule next to MMR's
    * redundancy penalty — the k picks maximize coverage, and each pick's
    * distance-at-selection (`cover_d2_e6`) is the corpus' covering radius
    * as the coreset grows (the gauge a "how many exemplars do I need"
    * decision reads).
    *
    * Scale shape: the min-distance column updates INCREMENTALLY — each
    * round is one scan computing `least(d2_so_far, sq_dist(v, new_center))`
    * plus a TakeOrdered(1) argmax (no global sort), exactly the k-means++
    * scalable-seeding pattern. Driver state is the k chosen vectors
    * (k-sized by contract). The working relation persists per round and
    * the previous round unpersists, so round r never re-runs rounds 1..r−1.
    * Every selection is deterministic (double compares, id tie-break), so
    * the DuckDB oracle replays the whole traversal as unrolled CTEs.
    *
    * Contract: the input must contain `vec_id` 0 (the deterministic seed —
    * required, with a clear error otherwise). Fewer than `k` vectors
    * truncate the traversal to the available points, matching the oracle's
    * empty trailing CTEs row for row.
    */
  def kcenter(emb: DataFrame, k: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import graft.plans.native
    val spark = emb.sparkSession
    val e = emb2v(emb)
    val seedRows = e.filter(col("vec_id") === 0L).select("v").limit(1).collect()
    require(seedRows.nonEmpty,
      "kcenter seeds at vec_id 0 by contract; the input has no such row")
    val seed = seedRows.head.getSeq[Double](0)
    val picks = scala.collection.mutable.ArrayBuffer((1L, 0L, 0.0))
    var cur = e.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), col("v"),
        native.sq_dist(col("v"), typedlit(seed)).as("d2"))
      .persist()
    var round_ = 2
    var exhausted = false
    while (round_ <= k && !exhausted) {
      val topRows = cur.orderBy(desc("d2"), col("vec_id")).limit(1)
        .select(col("vec_id"), col("d2"), col("v")).collect()
      if (topRows.isEmpty) {
        // fewer than k points: stop with the picks so far — the same
        // truncation the unrolled oracle produces from its empty CTEs
        exhausted = true
      } else {
        val top = topRows.head
        val (vid, d2) = (top.getLong(0), top.getDouble(1))
        picks += ((picks.size + 1L, vid, d2))
        val cv = top.getSeq[Double](2)
        val next = cur.filter(col("vec_id") =!= vid)
          .select(col("vec_id"), col("v"),
            least(col("d2"), native.sq_dist(col("v"), typedlit(cv))).as("d2"))
          .persist()
        next.count() // materialize before dropping the parent
        cur.unpersist()
        cur = next
        round_ += 1
      }
    }
    cur.unpersist()
    import spark.implicits._
    picks.toSeq.toDF("rnk", "vec_id", "d2")
      .select(col("rnk"), col("vec_id"),
        round(col("d2") * 1e6).cast("long").as("cover_d2_e6"))
  }
}
