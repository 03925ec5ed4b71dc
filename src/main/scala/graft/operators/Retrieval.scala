package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid retrieval — the composition a real RAG data pipeline runs:
  * sparse lexical ranking (the [[TextAnalysis.bm25]] Okapi scorer) and
  * dense vector ranking (the [[Similarity.ivfTopK]] ANN search) fused per
  * query with reciprocal-rank fusion (RRF, Cormack et al. 2009:
  * `score = Σ_lists 1/(rrfK + rank)`), in exact integer fixed point
  * (`1e6 div (rrfK + rank)`) so the fused ranking hash-matches an ANSI
  * oracle.
  *
  * Query identity bridges the two modalities through the fixture's
  * row alignment: query q is BOTH document `doc_id = q` (whose top-TFIDF
  * terms form the lexical query, the standard pseudo-query construction)
  * and embedding `vec_id = q` (the dense query vector).
  *
  * Scale shape: one corpus (doc, token) tf groupBy + one vocabulary df
  * groupBy (both map-side combined); the per-query term lists are
  * nQueries×nTerms rows and BROADCAST, so sparse scoring is a broadcast
  * equi-join on token — candidates are only docs containing a query term.
  * The dense side is the IVF cell equi-join. The fusion itself is a
  * (q_id, doc) full outer join between two k-row-per-query lists —
  * kList·nQueries rows a side, trivially partitioned by q_id. Per-query
  * rank windows sort candidate lists bounded by the posting lists of 3
  * terms (sparse) / k (dense), never the corpus.
  */
object Retrieval {

  /** RRF fusion of BM25-over-query-doc-terms and IVF top-k. One row per
    * (query, fused-top-`kOut` doc): fused `rrf_e6`, final `rnk`, and the
    * per-list ranks (`rnk_sparse` / `rnk_dense`, null when the doc appears
    * in only one list). The query doc itself is excluded from both lists
    * (the dense side already excludes `vec_id = q_id`).
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame,
      centroids: Seq[KMeans.Centroid], nQueries: Int = 5, nTerms: Int = 3,
      kList: Int = 10, kOut: Int = 10, rrfK: Int = 60,
      nProbe: Int = 2, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // persisted: the tf relation feeds TWO consumers (pseudo-query term
    // selection, sparse scoring join) — the same rule as text_bm25: one
    // corpus explode, not two
    val tf = graft.TransientCaches.register(TextAnalysis.tfRelation(docs).persist())
    val dense = Similarity.ivfTopK(emb, centroids, nQueries, nProbe, kList)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rnk").as("rnk_dense"))
    hybridRrfFromParts(tf, dense, nQueries, nTerms, kList, kOut, rrfK, k1, b)
  }

  /** [[hybridRrf]] over PRE-BUILT parts — the fully indexed RAG probe: the
    * sparse half reads an already-materialized [[TextAnalysis.tfRelation]]
    * (the `ensureTfIndex` table — no corpus tokenize at query time, and
    * `df`, `n_docs` and `total_len` are read off the index rows) and the
    * dense half is ANY (q_id, doc_id, rnk_dense) ranking (e.g. the
    * persisted-IVF `ivfTopKIndexed` probe) — CONTRACT: its q_id domain must
    * equal the pseudo-query domain `[0, nQueries)` (the sparse half
    * hard-codes pseudo-queries to `doc_id < nQueries`; a dense ranking
    * built with a different query set would otherwise silently surface
    * dense-only rows through the full_outer fusion join). Enforced in the
    * row path with `raise_error` — no eager validation scan at plan
    * construction, a mismatched dense half fails loudly at execution.
    * Same fusion, same oracle as the direct form.
    */
  def hybridRrfIndexed(tf: DataFrame, dense: DataFrame, nQueries: Int = 5,
      nTerms: Int = 3, kList: Int = 10, kOut: Int = 10, rrfK: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val denseChecked = dense.select(
      when(col("q_id") < 0 || col("q_id") >= nQueries,
        raise_error(concat(
          lit(s"hybridRrfIndexed: dense q_id outside [0, $nQueries): "),
          col("q_id").cast("string"))))
        .otherwise(col("q_id")).as("q_id"),
      col("doc_id"), col("rnk_dense"))
    hybridRrfFromParts(tf, denseChecked, nQueries, nTerms, kList, kOut,
      rrfK, k1, b)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio-lite / RM1 shape):
    * run BM25 with each query's initial top-TFIDF pseudo-query terms, treat
    * the top `nFb` results as relevant, harvest the top `nExp` NEW terms
    * from those feedback docs (by summed tf, the RM1 statistic; terms
    * already in the query are excluded), and re-run BM25 with the expanded
    * term set — the classical recall lever of lexical retrieval, two full
    * scoring rounds of the SAME [[TextAnalysis.bm25TermE6]] Okapi kernel.
    *
    * Everything is integer fixed point (per-term e6 rounding before the
    * per-doc sum, deterministic tie orders at every rank cut), so the
    * two-round composition stays hash-exact against the ANSI oracle.
    *
    * Scale shape: the corpus pays ONE [[TextAnalysis.tfRelation]]
    * (persisted — four consumers: initial terms, round-1 scoring, feedback
    * term harvest, round-2 scoring); both scoring rounds are broadcast
    * token equi-joins bounded by posting lists; the feedback relations are
    * nQueries·nFb and nQueries·nExp rows — driver-free, broadcast by size.
    */
  def prfBm25(docs: DataFrame, nQueries: Int = 5, nTerms: Int = 3,
      nFb: Int = 3, nExp: Int = 2, kOut: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    prfBm25FromTf(
      graft.TransientCaches.register(TextAnalysis.tfRelation(docs).persist()),
      nQueries, nTerms, nFb, nExp, kOut, k1, b)

  /** [[prfBm25]] over an ALREADY-MATERIALIZED [[TextAnalysis.tfRelation]]
    * — the probe half of the build/probe split: with the persisted
    * token-bucketed TF index (`ensureTfIndex`), BOTH scoring rounds and the
    * feedback-term harvest read pre-aggregated index rows, `df`, `n_docs`
    * and `total_len` included, so the corpus is never tokenized and no
    * corpus statistic is rolled up at query time. Same expansion, same
    * oracle as the direct form.
    */
  def prfBm25FromTf(tf: DataFrame, nQueries: Int = 5, nTerms: Int = 3,
      nFb: Int = 3, nExp: Int = 2, kOut: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the tf input is deliberately NOT persisted here: the direct caller
    // persists its freshly-computed relation (its consumers would re-run
    // the corpus tokenize), but the INDEXED caller hands in the bucketed
    // index table, and the scan-audit follow-up MEASURED that
    // materializing it costs more than its bucketed re-scans
    // (2.72 s → 2.94 s at sf0.1) — the round-12 "never cache corpus-scale
    // projections" counter-case again.
    // qterms is deliberately NOT persisted either: its tf-read + window
    // subtree does re-run per consumer, but materializing it MEASURED
    // slower at sf0.1 (the persist barrier costs more than the tiny
    // recomputes) — the same verdict as the tf-input persist trial
    val qterms = pseudoQueryTerms(tf, nQueries, nTerms)
    def score(q: DataFrame): DataFrame = {
      val termE6 = TextAnalysis.bm25TermE6(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_len"), k1, b)
      tf.join(broadcast(q), "token")
        .filter(col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id"), termE6.as("term_e6"))
        .groupBy("q_id", "doc_id").agg(sum("term_e6").as("score_e6"))
    }
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("score_e6"), asc("doc_id"))
    val fb = score(qterms)
      .withColumn("rnk", row_number().over(ws))
      .filter(col("rnk") <= nFb)
      .select("q_id", "doc_id")
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("fb_tf"), asc("token"))
    val expTerms = tf.join(broadcast(fb), "doc_id")
      .groupBy("q_id", "token").agg(sum("tf").as("fb_tf"))
      .join(qterms, Seq("q_id", "token"), "left_anti")
      .withColumn("ernk", row_number().over(we))
      .filter(col("ernk") <= nExp)
      .select(col("q_id"), col("token"))
    score(qterms.unionByName(expTerms))
      .withColumn("rnk", row_number().over(ws).cast("long"))
      .filter(col("rnk") <= kOut)
      .select(col("q_id"), col("doc_id"), col("rnk"), col("score_e6"))
  }

  /** The pseudo-queries `(q_id, token)`: each query doc's (`doc_id <
    * nQueries`) top-nTerms TFIDF terms — the [[TextAnalysis.tfidf]] score
    * and tie order exactly, off the tf relation's `df` and `n_docs`.
    */
  private def pseudoQueryTerms(tf: DataFrame, nQueries: Int,
      nTerms: Int): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score_e6"), asc("token"))
    tf.filter(col("doc_id") < nQueries)
      .withColumn("score_e6",
        round(col("tf") * col("n_docs") * 1000000.0 / col("df")).cast("long"))
      .withColumn("trnk", row_number().over(wq))
      .filter(col("trnk") <= nTerms)
      .select(col("doc_id").as("q_id"), col("token"))
  }

  private def hybridRrfFromParts(tf: DataFrame, dense: DataFrame,
      nQueries: Int, nTerms: Int, kList: Int, kOut: Int, rrfK: Int,
      k1: Double, b: Double): DataFrame = {
    val qterms = pseudoQueryTerms(tf, nQueries, nTerms)
    // Okapi BM25 of every corpus doc against each query's term set — the
    // SHARED TextAnalysis.bm25TermE6 definition, per q_id
    val termE6 = TextAnalysis.bm25TermE6(col("tf"), col("df"), col("dl"),
      col("n_docs"), col("total_len"), k1, b)
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("score_e6"), asc("doc_id"))
    val sparse = tf.join(broadcast(qterms), "token")
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"), termE6.as("term_e6"))
      .groupBy("q_id", "doc_id").agg(sum("term_e6").as("score_e6"))
      .withColumn("rnk_sparse", row_number().over(ws).cast("long"))
      .filter(col("rnk_sparse") <= kList)
      .select(col("q_id"), col("doc_id"), col("rnk_sparse"))
    val fused = sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr(s"1000000 div ($rrfK + rnk_sparse)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + rnk_dense)"), lit(0L)))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("rrf_e6"), asc("doc_id"))
    fused.withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= kOut)
      .select(col("q_id"), col("doc_id"), col("rnk"), col("rrf_e6"),
        col("rnk_sparse"), col("rnk_dense"))
  }
}
