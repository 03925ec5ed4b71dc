package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TRAINABLE quality filter — the fasttext-style classifier step of a
  * training-data pipeline (heuristic gates bootstrap weak labels, a model
  * generalizes them) — as a FIXED-ITERATION, FIXED-POINT gradient descent
  * whose entire training run replays in ANSI SQL, so the trained scores
  * hash-match a DuckDB oracle (the km_fit2_exact discipline applied to
  * model training; the previous MLlib-LBFGS form was rows-only because
  * float tree-reductions aren't bit-reproducible).
  *
  * Model: linear scorer over integer per-mille features with the HARD
  * sigmoid `σ̂(z) = clamp(½ + z/4, 0, 1)` — every operation is integer or
  * exact-rational, so Spark, the driver's BigInt updates, and the oracle's
  * HUGEINT CTE chain produce bit-identical weights:
  *  - features (per-mille, exactly mirrorable): stopword density, digit
  *    density, capped length share; bias rides as a constant 1000;
  *  - weak label: the [[TextAnalysis.qualityScore]] keep rule in pure
  *    integer form (`punct·5 < n_chars` instead of the double ratio, so
  *    the boundary can never flip on a rounding);
  *  - per-row margin `z_num = Σ Wᵢ·fᵢ` with weights Wᵢ in 1e-12 units;
  *    `p_e6 = clamp(500000 + z_num div 4·10⁶, 0, 10⁶)` — truncating
  *    division agrees across Scala BigInt `/`, Spark `div`, DuckDB `//`;
  *  - gradient `gᵢ = Σ (p_e6 − y·10⁶)·fᵢ` accumulated in DECIMAL(38,0)
  *    (HUGEINT in the oracle) — an INTEGER sum, immune to float order;
  *  - update `Wᵢ ← Wᵢ − (gᵢ·10⁶·lrNum) / (n·lrDen)`, truncating.
  *
  * Distributed shape: feature extraction is the per-row zero-shuffle
  * census; each iteration is ONE map-side-combined aggregate collecting 4
  * integers to the driver (the centroid-literal discipline — model state
  * is 4 longs, never data). Construction-eager like the k-means fits: the
  * `iters` training aggregates run when the query is built.
  */
object QualityModel {

  /** (doc_id, y, f1, f2, f3) integer feature relation — every expression
    * has an exact DuckDB mirror (see OracleSql.docQualityLr).
    */
  private[graft] def features(docs: DataFrame, minTokens: Int,
      maxTokens: Int): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val nChars = length(col("text")).cast("long")
    val punct =
      (nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long")
    val digits =
      (nChars - length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
    val dt = array_distinct(split(col("text"), " "))
    val stops = TextAnalysis.Stopwords.map { case (_, ws) =>
      size(array_intersect(dt, typedlit(ws))).cast("long")
    }.reduce(_ + _)
    docs.select(col("doc_id"),
        (nTok >= minTokens && nTok <= maxTokens && punct * 5 < nChars)
          .cast("long").as("y"),
        stops.as("st"), digits.as("dg"), nChars.as("nc"), nTok.as("nt"))
      .select(col("doc_id"), col("y"),
        expr("(st * 1000) div nt").as("f1"),
        expr("(dg * 1000) div greatest(nc, 1)").as("f2"),
        expr(s"(least(nt, $maxTokens) * 1000) div $maxTokens").as("f3"))
  }

  /** `p_e6` SQL over (f1, f2, f3) for weight literals `w` — shared by the
    * per-iteration gradient pass and the final scoring projection.
    */
  private def pSql(w: Seq[BigInt]): String = {
    // L suffix: a bare literal parses as INT32 and ANSI mode overflows the
    // products; the lr bound keeps every weight far inside int64
    val z = s"(${w(0)}L * 1000 + ${w(1)}L * f1 + ${w(2)}L * f2 + ${w(3)}L * f3)"
    s"greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT), 500000 + $z div 4000000))"
  }

  /** Train `iters` fixed-point GD steps and score every doc with the final
    * weights: (doc_id, label, pred, p1_e6). `pred = p1_e6 > 500000` — the
    * strict compare is deliberate: truncation parks small |z| exactly AT
    * 500000, and both engines make the identical call there.
    */
  def trainScore(docs: DataFrame, iters: Int = 20, lrNum: Long = 3L,
      lrDen: Long = 10000000L, minTokens: Int = 5, maxTokens: Int = 5000,
      localMaxRows: Long = 2000000L): DataFrame = {
    val feats = features(docs, minTokens, maxTokens).cache()
    try {
      val n = BigInt(feats.count())
      require(n > 0, "quality-filter training needs at least one document")
      var w = Seq.fill(4)(BigInt(0))
      if (localMaxRows > 0 && n <= localMaxRows) {
        // DRIVER-LOCAL GD TWIN under `localMaxRows` (r19, the
        // gated k-means fit's discipline applied to the training loop): the
        // distributed loop below pays one aggregate JOB plus one fresh
        // Catalyst plan + codegen compile PER ITERATION — profiled as the
        // bulk of doc_quality_lr's wall at bench scale (45 jobs, ~0.15 s of
        // scheduling/planning per step for microseconds of arithmetic over
        // 4 collected integers). Below the bound the integer feature rows
        // are collected ONCE and the identical fixed-point arithmetic runs
        // on the driver: int64 margin/clamp with truncating division
        // (Scala Long `/` ≡ Spark BIGINT `div` — both truncate toward
        // zero), gradient sums in int64 (bounded by n·1e9 ≤ 2e15 under the
        // 2M-row bound, far inside int64 — the DECIMAL(38,0) distributed
        // accumulator exists for UNBOUNDED n), and the exact BigInt weight
        // update. Weights are bit-identical by construction (TextEventsSpec
        // pins local ≡ distributed on the fixture corpus); the final
        // scoring projection below is the same distributed plan either
        // way. Past the bound — real scale — the distributed loop runs
        // unchanged.
        val rows = feats.select(col("y"), col("f1"), col("f2"), col("f3"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        for (_ <- 0 until iters) {
          // the SQL path embeds weights as int64 literals (`${w}L`), so the
          // long narrowing here lives in the same no-overflow envelope
          require(w.forall(_.isValidLong), s"weights left int64: $w")
          val w0 = w(0).toLong; val w1 = w(1).toLong
          val w2 = w(2).toLong; val w3 = w(3).toLong
          var g0 = 0L; var g1 = 0L; var g2 = 0L; var g3 = 0L
          var i = 0
          while (i < rows.length) {
            val (y, f1, f2, f3) = rows(i)
            val z = w0 * 1000L + w1 * f1 + w2 * f2 + w3 * f3
            val p = math.max(0L, math.min(1000000L, 500000L + z / 4000000L))
            val d = p - y * 1000000L
            g0 += d * 1000L; g1 += d * f1; g2 += d * f2; g3 += d * f3
            i += 1
          }
          w = Seq(g0, g1, g2, g3).zip(w).map { case (gi, wi) =>
            wi - (BigInt(gi) * 1000000 * lrNum) / (n * lrDen)
          }
        }
      } else {
        for (_ <- 0 until iters) {
          def g(f: String) =
            sum(expr(s"(${pSql(w)} - y * 1000000) * $f").cast("decimal(38,0)"))
          val row = feats.agg(g("1000"), g("f1"), g("f2"), g("f3")).head()
          val gs = (0 until 4).map(i => BigInt(row.getDecimal(i).toBigInteger))
          w = w.zip(gs).map { case (wi, gi) =>
            wi - (gi * 1000000 * lrNum) / (n * lrDen)
          }
        }
      }
      feats.select(col("doc_id"), col("y").as("label"),
        expr(s"CAST(CASE WHEN ${pSql(w)} > 500000 THEN 1 ELSE 0 END AS BIGINT)")
          .as("pred"),
        expr(pSql(w)).as("p1_e6"))
    } finally feats.unpersist()
  }
}
