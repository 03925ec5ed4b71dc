package graft

import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, Similarity}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("hybridRrf: both-list docs outrank single-list docs; ranks and " +
      "RRF arithmetic are exact; the query doc is excluded") {
    // 10 docs. Query q = 0. Doc 0's distinctive terms are "zebra yak xray"
    // (rare -> top TFIDF). Docs 1-3 contain those terms (sparse hits);
    // docs 4-6 are filler prose; every doc also gets unique padding so
    // lengths differ.
    val docs = (0 to 9).map { i =>
      val text = i match {
        case 0 => "zebra yak xray zebra yak xray common words here"
        case 1 => "zebra yak xray plus other one filler pad1"
        case 2 => "zebra yak words plus other two filler pad2"
        case 3 => "zebra words words plus other three filler pad3"
        case _ => s"common words only number $i filler pad$i extra"
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    // embeddings: 4-dim. vec 0 = query. vecs 2, 5, 7 close to the query
    // direction (dense hits, 5 and 7 NOT sparse hits); others orthogonal.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 0.0, 0.0, 1.0)),
      (5L, Seq(0.8, 0.0, 0.2, 0.0)),
      (6L, Seq(0.0, 0.7, 0.7, 0.0)),
      (7L, Seq(0.95, 0.05, 0.0, 0.0)),
      (8L, Seq(0.0, 0.5, 0.0, 0.5)),
      (9L, Seq(0.1, 0.0, 0.0, 0.9))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.fixedCentroids(emb, 2)
    val out = Retrieval.hybridRrf(docs, emb, cents, nQueries = 1, nTerms = 3,
        kList = 5, kOut = 10, rrfK = 60, nProbe = 2)
      .collect().map(r => (r.getLong(1),
        (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))))
      .toMap
    // the query doc never retrieves itself
    assert(!out.contains(0L))
    // doc 2 is in BOTH lists (sparse: has zebra+yak; dense: cos 0.99) —
    // its fused score must beat every single-list doc, making it rank 1
    val (rnk2, rrf2, s2, d2) = out(2L)
    assert(s2.nonEmpty && d2.nonEmpty, s"doc 2 must appear in both lists: $out")
    assert(rnk2 == 1L, s"both-list doc 2 must lead: $out")
    // RRF arithmetic is the exact integer formula over the member ranks
    out.values.foreach { case (_, rrf, s, d) =>
      val expected = s.map(r => 1000000L / (60 + r)).getOrElse(0L) +
        d.map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(rrf == expected, s"rrf mismatch: $out")
    }
    // a dense-only doc (7: cos 0.998, no query terms) and a sparse-only
    // doc (1: all three terms, orthogonal embedding) both surface
    assert(out.contains(7L) && out(7L)._4.nonEmpty && out(7L)._3.isEmpty)
    assert(out.contains(1L) && out(1L)._3.nonEmpty)
    // final ranking is (rrf desc, doc_id) dense-ranked 1..n with no gaps
    val ranks = out.values.map(_._1).toSeq.sorted
    assert(ranks == (1L to ranks.size))
  }

  test("hybridRrf: results are invariant to input partitioning") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(emb, 16)
    def run(dp: Int, ep: Int) =
      Retrieval.hybridRrf(docs.repartition(dp), emb.repartition(ep), cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(run(2, 3) == run(7, 1))
  }

  test("hybridRrfIndexed fuses identically to the direct form") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = Similarity.fixedCentroids(emb, 16)
    val direct = Retrieval.hybridRrf(docs, emb, cents)
      .collect().map(_.toSeq).toSet
    // the index layout's one source of truth — the same builder
    // ensureTfIndex materializes
    val tf = graft.operators.TextAnalysis.tfRelation(docs)
    val dense = Similarity.ivfTopK(emb, cents)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rnk").as("rnk_dense"))
    val indexed = Retrieval.hybridRrfIndexed(tf, dense)
      .collect().map(_.toSeq).toSet
    assert(indexed == direct)
  }

  test("retrieval_hybrid_indexed scans the TF index twice") {
    // the index rows carry df, n_docs and total_len: the probe reads the
    // index once for the pseudo-query terms and once for the scoring join
    val q = SparkEntry.queries("retrieval_hybrid_indexed")(spark, sf("0.001"))
    val tfScans = Explain.scanCounts(q).filter(_._1.startsWith("graft_tf_idx")).values
    assert(tfScans.toSeq == Seq(2), s"TF index scans: ${Explain.scanCounts(q)}")
  }

  test("prfBm25: expansion surfaces a doc round 1 cannot reach; the " +
      "harvested term is the top NEW feedback term; ranks are gapless") {
    // query doc 0's terms are {apple, banana}. Doc 3 contains ONLY cherry —
    // invisible to round 1 — but the feedback docs (1, 2: the apple hits)
    // carry cherry as their top non-query term, so round 2 must reach it.
    // Doc 4 shares no terms with either query and must never surface.
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple banana cherry pad1"),
      (2L, "apple cherry cherry pad2"),
      (3L, "cherry cherry cherry pad3"),
      (4L, "date egg fig pad4")
    ).toDF("doc_id", "text")
    val out = Retrieval.prfBm25(docs, nQueries = 1, nTerms = 2, nFb = 2,
        nExp = 1, kOut = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out.contains(3L), s"PRF must surface the cherry-only doc: $out")
    assert(!out.contains(4L), s"doc 4 shares no query/feedback term: $out")
    assert(!out.contains(0L), "the query doc never retrieves itself")
    val ranks = out.values.toSeq.sorted
    assert(ranks == (1L to ranks.size), s"gapless ranks expected: $out")
  }

  test("prfBm25FromTf expands identically to the direct form") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val direct = Retrieval.prfBm25(docs).collect().map(_.toSeq).toSet
    // the index layout's one source of truth — the same builder
    // ensureTfIndex materializes
    val tf = graft.operators.TextAnalysis.tfRelation(docs)
    val indexed = Retrieval.prfBm25FromTf(tf).collect().map(_.toSeq).toSet
    assert(indexed == direct)
  }

  test("prfBm25: results are invariant to input partitioning") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    def run(p: Int) = Retrieval.prfBm25(docs.repartition(p))
      .collect().map(_.toSeq).toSet
    assert(run(2) == run(7))
  }

  test("hybridRrfIndexed: out-of-domain dense q_id fails loudly, not silently") {
    // the sparse half hard-codes pseudo-queries to doc_id < nQueries; a
    // dense ranking from a DIFFERENT query set must raise, not slip
    // dense-only rows through the full_outer fusion join
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val tf = graft.operators.TextAnalysis.tfRelation(docs)
    val badDense = Seq((7L, 3L, 1L), (8L, 4L, 2L))
      .toDF("q_id", "doc_id", "rnk_dense") // q_id ∉ [0, 5)
    val e = intercept[Exception] {
      Retrieval.hybridRrfIndexed(tf, badDense, nQueries = 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("dense q_id outside")),
      s"expected the domain-contract raise, got: $e")
  }
}
