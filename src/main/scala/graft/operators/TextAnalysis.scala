package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Dedup.{tokens, tokenId}

/** Text analysis for training-data pipelines: token statistics, language ID,
  * quality scoring, document fingerprinting. All per-row Catalyst expressions
  * — embarrassingly parallel, no shuffle except final output.
  */
object TextAnalysis {

  /** Public common stopwords per language (tiny lists — the heuristic's
    * discriminative power, not completeness, is the point).
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist", "von", "mit", "den", "nicht"),
    "es" -> Seq("el", "la", "de", "y", "en", "es", "que", "los", "por", "una"),
    "fr" -> Seq("le", "la", "de", "et", "un", "en", "est", "que", "les", "des"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "个", "人", "这"))

  private def distinctToks: Column = array_distinct(tokens(col("text")))

  private def stopHits(lang: String): Column =
    size(array_intersect(distinctToks,
      typedlit(Stopwords.find(_._1 == lang).get._2)))

  /** Per-doc token statistics. `avg_tok_len` is an int/int divide —
    * bit-identical across engines.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    Par.widenBy(docs, col("doc_id")).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"),
      (aggregate(transform(tokens(col("text")), t => length(t)),
        lit(0), (acc, v) => acc + v) / size(tokens(col("text")))).as("avg_tok_len"))

  /** Stopword-hit language ID. Guess = language with the most DISTINCT
    * stopword hits; ties resolve in [[Stopwords]] declaration order (en
    * first) — a fixed CASE chain both engines evaluate identically.
    * Emits the ground-truth `lang` and a hit flag for accuracy rollups.
    */
  def langId(docs: DataFrame): DataFrame = {
    val scores = Stopwords.map { case (l, _) => l -> stopHits(l) }
    val guess = scores.foldRight(lit("und")) { case ((l, s), els) =>
      val isMax = scores.filter(_._1 != l).map(_._2)
        .foldLeft(s > lit(0))((acc, o) => acc && s >= o)
      when(isMax, lit(l)).otherwise(els)
    }
    docs.select(col("doc_id"), col("lang"), guess.as("guess"))
      .withColumn("hit", (col("guess") === col("lang")).cast("long"))
  }

  /** Tiny character-trigram profiles (Cavnar–Trenkle-style) for the
    * char-level language ID. Latin-script languages only: CJK needs char
    * unigrams, which the word-level [[Stopwords]] path already covers.
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", "ion", "hat"),
    "de" -> Seq("der", "sch", "und", "ein", "ich"),
    "es" -> Seq("que", "los", "ado", "nte", "cio"),
    "fr" -> Seq("les", "des", "eur", "ait", "oir"))

  /** Character-trigram language ID — the char-level n-gram twin of the
    * word-level [[langId]]: the doc's DISTINCT lowercase char trigrams
    * (windows span word boundaries) are intersected with each language's
    * profile; guess = most hits, declaration-order tie-break, `und` when
    * nothing scores. Per-row HOFs only — zero shuffle.
    */
  def langIdNgram(docs0: DataFrame): DataFrame = {
    // keyed spread (r19 advice): every caller carries doc_id, and the
    // round-robin form pays the SPARK-23207 pre-sort of the full text rows
    // Par's own scaladoc warns about — widenBy is the documented-safe form
    val docs = Par.widenBy(docs0, col("doc_id")) // compute-dense trigram kernel
    // native kernel: the HOF form (array_distinct over per-window substring
    // lambdas) is CodegenFallback and was the bench's top cost; the fused
    // expression computes identical values (PlansSpec parity test)
    val grams = graft.plans.native.char_trigrams(col("text"))
    val withG = docs.select(col("doc_id"), col("lang"), grams.as("gs"))
    val scores = TrigramProfiles.map { case (l, ps) =>
      l -> size(array_intersect(col("gs"), typedlit(ps))) }
    val guess = scores.foldRight(lit("und")) { case ((l, s), els) =>
      val isMax = scores.filter(_._1 != l).map(_._2)
        .foldLeft(s > lit(0))((acc, o) => acc && s >= o)
      when(isMax, lit(l)).otherwise(els)
    }
    withG.select(col("doc_id"), col("lang"), guess.as("guess"))
      .withColumn("hit", (col("guess") === col("lang")).cast("long"))
  }

  /** Quality signals: length, punctuation density, stopword ratio, digit
    * ratio, plus a boolean keep-flag — the standard cheap pre-filter before
    * expensive dedup/training steps.
    */
  /** The [[qualityScore]] keep rule as a bare column — shared with
    * [[corpusDatasheet]] so the datasheet's pass-rate column can never
    * drift from the gate it reports on.
    */
  private[operators] def qualityKeep(minTokens: Int = 5,
      maxTokens: Int = 5000): Column = {
    val nTok = size(tokens(col("text")))
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    (nTok >= minTokens && nTok <= maxTokens && (punct / nChars) < 0.2)
      .cast("long")
  }

  def qualityScore(docs: DataFrame,
      minTokens: Int = 5, maxTokens: Int = 5000): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val digits = nChars - length(regexp_replace(col("text"), "[0-9]", ""))
    val stops = Stopwords.map(s => stopHits(s._1)).reduce(_ + _)
    docs.select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      (punct / nChars).as("punct_ratio"),
      (digits / nChars).as("digit_ratio"),
      (stops / nTok).as("stop_ratio"),
      qualityKeep(minTokens, maxTokens).as("keep"))
  }

  /** Fixed-size overlapping token chunks — the standard pre-tokenization
    * split for long-document training pipelines. Chunk `c` covers tokens
    * `[c·stride, c·stride + chunkSize)`; the tail chunk may be short. One
    * narrow explode per doc (ceil(n/stride) rows), no shuffle — chunking
    * stays embarrassingly parallel at any scale.
    */
  def chunk(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0, s"chunkSize=$chunkSize stride=$stride must be positive")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as("start"))
      .filter(col("start") < size(col("toks")))
      .select(col("doc_id"), (col("start") / stride).cast("long").as("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(chunkSize)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("ctoks")).as("chunk_text"))
  }

  /** Corpus-level top-k tokens by frequency (vocabulary head) — ties broken
    * by token text so the cut is deterministic. Shape at scale: map-side
    * partial counts, one shuffle on token, then a k-row TakeOrdered — no
    * global sort of the vocabulary.
    */
  def topkTokens(docs: DataFrame, k: Int = 50): DataFrame =
    Par.widenBy(docs, col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(k)

  /** TF-IDF keyword extraction: the top `k` terms per document ranked by
    * tf · (N/df) — the log-free rational form, so the score stays in exactly
    * mirrorable arithmetic (`ln` is not guaranteed bit-identical across
    * engines; the ranking it induces for fixed N is the same since x ↦ ln x
    * is monotone). `score_e6 = round(tf·N·1e6/df)`: integer product exact in
    * double (≤2^53 by construction), one correctly-rounded division, fixed-
    * point round — both engines land the identical BIGINT.
    *
    * Shape: the classic two-shuffle TF-IDF — the [[tfRelation]] (one
    * groupBy (doc, token) for tf, one groupBy token for df, joined on token;
    * partial aggregation keeps both map-side combined), then a per-doc
    * top-k window. No collect, no driver state — at 100 TB the vocabulary
    * join is a plain hash join keyed on token.
    */
  def tfidf(docs: DataFrame, k: Int = 3): DataFrame =
    tfidfFromTf(tfRelation(docs), k)

  /** The TF inverted-index RELATION `(doc_id, dl, token, tf, df, n_docs,
    * total_len)` — the ONE definition of the index layout, used by the
    * `ensureTfIndex` builder, the direct scorers and the probe-parity specs,
    * so the stored shape and what the tests verify can never drift apart.
    *
    * Besides the per-(doc, token) count `tf` and the doc length `dl`, every
    * row carries the corpus statistics the scorers need, so a probe of the
    * stored index derives none of them per query: `df` (`count(1)` of the
    * token's rows) and the corpus scalars `n_docs`/`total_len` (count and
    * length sum of the distinct `(doc_id, dl)` pairs). Contract: `text`
    * must be non-null (a NULL text yields no token rows, which would
    * silently drop the doc from `n_docs`/`total_len` — coalesce upstream if
    * a corpus can carry NULLs; the fixture cannot). A non-null text always
    * owns ≥1 token row: whitespace split of even an empty text yields one
    * token.
    */
  def tfRelation(docs: DataFrame): DataFrame = {
    // Par.widenBy (r18): tokenize + explode + the (doc, token) partial
    // aggregate all run in the scan stage; byte-starved single-file scans
    // serialize the whole TF build. Keyed spread — no pre-sort of text.
    // persisted: tf feeds three consumers (the rows, the df rollup, the
    // scalar fold), each pruned to other columns, so Spark reuses no
    // exchange among them and each would tokenize the corpus again
    val tf = graft.TransientCaches.register(Par.widenBy(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
      .persist())
    // the scalar rides in as a one-row broadcast — the scalar-subquery plan
    val scal = tf.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    tf.join(tf.groupBy("token").agg(count(lit(1)).as("df")), "token")
      .crossJoin(broadcast(scal))
      .select("doc_id", "dl", "token", "tf", "df", "n_docs", "total_len")
  }

  /** [[tfidf]] over an ALREADY-MATERIALIZED [[tfRelation]] — the probe half
    * of the build/probe split (`ensureTfIndex`): the corpus tokenize +
    * explode + (doc, token) groupBy and the df and N rollups happened ONCE
    * at index-build time; a probe reads `tf`, `df` and `n_docs` off the
    * index rows and pays only the per-doc top-k window.
    */
  def tfidfFromTf(tf: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score_e6"), asc("token"))
    tf.withColumn("score_e6",
        round(col("tf") * col("n_docs") * 1000000.0 / col("df")).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"),
        col("score_e6"))
  }

  /** BM25 document retrieval against a data-derived query: the `nTerms` most
    * frequent corpus tokens (ties → token text) form the query, every doc is
    * scored with the Okapi BM25 shape, and the `k` best docs come back
    * ranked. One documented departure from the textbook: the IDF factor is
    * the log-free rational `(N − df + ½)/(df + ½)` — `ln` is not guaranteed
    * bit-identical across engines (same reasoning as [[tfidf]]'s score), and
    * with ln dropped per-term the saturation shape `tf·(k1+1)/(tf + k1·(1 −
    * b + b·dl/avgdl))` is untouched. Every per-term score is rounded to e6
    * fixed point and the per-doc total is an INTEGER sum, so partial-
    * aggregation order can't flake the hash.
    *
    * avgdl rides as the exact integer pair (total_len, n_docs) — the `b·dl·
    * N/total_len` product stays well under 2^53 here; at extreme corpus
    * sizes pre-divide into an e6 fixed-point avgdl instead.
    *
    * Scale shape: tf is the [[tfRelation]]; the query-term relation is
    * nTerms rows and broadcast; the final cut is a TakeOrdered over per-doc
    * scores (never a global sort), with the rank assigned among the k
    * survivors only.
    */
  def bm25(docs: DataFrame, nTerms: Int = 3, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // persisted: the tf relation feeds the query-term selection AND the
    // scoring join — one corpus explode instead of two
    bm25FromTf(graft.TransientCaches.register(tfRelation(docs).persist()),
      nTerms, k, k1, b)

  /** [[bm25]] over an ALREADY-MATERIALIZED [[tfRelation]] — the probe half
    * of the build/probe split (`ensureTfIndex`): no corpus tokenize/explode
    * at query time, and `df`, `n_docs` and `total_len` are read off the
    * index rows.
    */
  def bm25FromTf(tf: DataFrame, nTerms: Int = 3, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val q = bm25TopTerms(tf, nTerms).select("token")
    val termE6 = bm25TermE6(col("tf"), col("df"), col("dl"),
      col("n_docs"), col("total_len"), k1, b)
    val scored = tf.join(broadcast(q), "token")
      .select(col("doc_id"), col("dl"), termE6.as("term_e6"))
      .groupBy("doc_id", "dl")
      .agg(sum("term_e6").as("score_e6"), count(lit(1)).as("n_hit"))
      .orderBy(desc("score_e6"), asc("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score_e6"), asc("doc_id"))
    // rank over the k survivors only — the window sees k rows, not the corpus
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("doc_id"), col("dl"), col("n_hit"), col("score_e6"))
  }

  /** Offline FIT of the [[bm25]] query artifacts from a [[tfRelation]] —
    * the (token, df) query terms and the (n_docs, total_len) corpus scalars,
    * read off one index row — for the streaming scorer's fit/apply split
    * (`bm25ScoreStream`). Both collects are k-sized by contract: `nTerms`
    * rows and one scalar row.
    */
  def bm25Fit(tf: DataFrame,
      nTerms: Int = 3): (Seq[(String, Long)], Long, Long) = {
    val terms = bm25TopTerms(tf, nTerms).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val s = tf.select("n_docs", "total_len").head()
    (terms, s.getLong(0), s.getLong(1))
  }

  /** The Okapi per-term score in e6 fixed point — ONE definition shared by
    * the batch scorer and the streaming ingest scorer (every input is a
    * Column: batch passes the index's scalar columns, the stream passes
    * literals — the identical expression tree, so scores are bit-identical).
    */
  private[graft] def bm25TermE6(tf: Column, df: Column, dl: Column,
      nDocs: Column, totalLen: Column, k1: Double, b: Double): Column = round(
    ((nDocs - df + 0.5) / (df + 0.5)) *
      (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * dl * nDocs / totalLen)) *
      1e6).cast("long")

  /** The (Σtf desc, token) top-term selection shared by the batch scorer
    * and [[bm25Fit]] — one definition of the query's tie order; `df` is the
    * [[tfRelation]] column (every row of a token carries the same value).
    */
  private[graft] def bm25TopTerms(tf: DataFrame, nTerms: Int): DataFrame =
    tf.groupBy("token")
      .agg(sum("tf").as("cnt"), max("df").as("df"))
      .orderBy(desc("cnt"), asc("token")).limit(nTerms)
      .select(col("token"), col("df"))

  /** k-anonymity generalization-lattice search — the governance pass a
    * corpus owner runs before releasing doc-level metadata (the
    * [[Dedup.forgetPropagate]] sibling): quasi-identifiers
    * (lang, source, length bucket) are generalized level by level
    * (coarser length buckets, then source wildcarded, then lang) until
    * the release meets k-anonymity with at most `maxSuppressedPct`% of
    * rows suppressed (the Samarati rule: suppress classes smaller than
    * `k`, climb the lattice while suppression exceeds the budget; the
    * chosen level is the LOWEST acceptable one — least generalization).
    * Each level is one groupBy census collapsed to one stats row, so
    * the per-level relation reaching the driver is 4 rows total — the
    * census discipline: climbing the lattice costs |levels| shuffled
    * aggregations over the corpus, never a per-row sort or a collect.
    * Output one row per level (class count, smallest class, suppressed
    * rows) with the chosen level flagged; `chosen` is 0 everywhere if
    * even the coarsest level fails the budget (k larger than the corpus).
    */
  def kAnonLattice(docs: DataFrame, k: Int = 5,
      maxSuppressedPct: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val levels: Seq[(Column, Column, Column)] = Seq(
      (col("lang"), col("source"), expr("CAST(n_chars AS BIGINT) div 256")),
      (col("lang"), col("source"), expr("CAST(n_chars AS BIGINT) div 1024")),
      (col("lang"), lit("*"), expr("CAST(n_chars AS BIGINT) div 1024")),
      (lit("*"), lit("*"), expr("CAST(n_chars AS BIGINT) div 4096")))
    val stats = levels.zipWithIndex.map { case ((l, s, bkt), i) =>
      docs.groupBy(l.as("ql"), s.as("qs"), bkt.as("qb"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_classes"),
          coalesce(min("c"), lit(0L)).as("min_class"),
          coalesce(sum(when(col("c") < k, col("c")).otherwise(0L)), lit(0L))
            .as("suppressed_rows"),
          coalesce(sum("c"), lit(0L)).as("n_rows"))
        .select(lit(i.toLong).as("level"), col("n_classes"),
          col("min_class"), col("suppressed_rows"), col("n_rows"))
    }.reduce(_.unionAll(_))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val chosen = stats
      .find(s => s._4 * 100L <= s._5 * maxSuppressedPct).map(_._1)
      .getOrElse(-1L)
    spark.createDataset(stats.toSeq.map(s =>
        (s._1, s._2, s._3, s._4, if (s._1 == chosen) 1L else 0L)))
      .toDF("level", "n_classes", "min_class", "suppressed_rows", "chosen")
  }

  /** Deterministic stratified sample: exactly ⌈n_stratum·num/den⌉ docs per
    * language, chosen by a per-doc LCG hash so the draw is a pure function
    * of the data (reruns, partitionings, and the DuckDB oracle all agree).
    * Integer-domain everywhere: the keep rule `rn·den ≤ cnt·num + den − 1`
    * is ⌈cnt·num/den⌉ without float division.
    *
    * Scale note: the per-stratum window is a sort within each language's
    * partitions — exact per-stratum counts cost one shuffle on the stratum
    * key. When approximate fractions suffice at 100 TB, drop the window and
    * keep `hash % den < num` directly (no sort, no shuffle).
    */
  def stratifiedSample(docs: DataFrame, num: Int = 1, den: Int = 5): DataFrame = {
    require(num > 0 && den >= num, s"need 0 < num <= den, got $num/$den")
    val h = (col("doc_id") * 1103515245L + 12345L) % 2147483647L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(h.asc, col("doc_id").asc)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
      .filter(col("rn") * den <= col("cnt") * num + (den - 1))
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  /** Systematic probability-proportional-to-size (PPS) sampling: walk the
    * doc_id-ordered cumulative weight line (weight = n_chars) and select
    * every document whose weight interval contains a multiple of
    * `step = total div nTarget` — the textbook systematic PPS design, with
    * deterministic offset 0 so the draw is reproducible and oracle-exact.
    * `n_hits` counts the multiples inside the interval (a document heavier
    * than step is drawn multiple times — its Horvitz-Thompson weight), and
    * Σ n_hits = total div step EXACTLY (pinned in spec): the sample size
    * never drifts with data layout.
    *
    * Scale: the running sum is the SAME two-level prefix as the k-means++
    * draw (KMeans.seedNextInverseCdf) — per-bucket local windows in
    * parallel plus ≤P driver-collected bucket offsets — never a
    * single-partition global window; integer weights make
    * `offset(bucket) + local_prefix` bit-identical to the sequential sum.
    */
  def ppsSample(docs: DataFrame, nTarget: Int): DataFrame = {
    require(nTarget > 0, s"need nTarget > 0, got $nTarget")
    val spark = docs.sparkSession
    val wdf = docs.select(col("doc_id"), col("n_chars").as("w"))
    val head = wdf.agg(sum("w"), min("doc_id"), max("doc_id")).head()
    if (head.isNullAt(0))
      return wdf.select(col("doc_id"), col("w"), col("w").as("cum"),
        col("w").as("n_hits")).limit(0)
    val (total, minI, maxI) = (head.getLong(0), head.getLong(1), head.getLong(2))
    val step = math.max(1L, total / nTarget)
    val nBuckets = math.max(1, spark.sparkContext.defaultParallelism)
    val width = math.max(1L, (maxI - minI) / nBuckets + 1)
    val bucketed = wdf.withColumn("b",
      expr(s"CAST((doc_id - $minI) div $width AS INT)"))
    val bucketSums = bucketed.groupBy("b").agg(sum("w").as("bw"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = bucketSums.map(_._1)
      .zip(bucketSums.map(_._2).scanLeft(0L)(_ + _)).toMap
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed
      .withColumn("cum",
        element_at(typedlit(offsets), col("b")) + sum("w").over(localW))
      .withColumn("n_hits", expr(s"cum div $step - (cum - w) div $step"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("w"), col("cum"), col("n_hits"))
  }

  /** Pareto frontier (skyline) over two data-selection objectives:
    * QUALITY up (integer stopword density per mille — the cheap natural-
    * language signal) and COST down (n_chars). A document survives iff no
    * other document is at least as good on both axes and strictly better
    * on one — the non-dominated set a multi-objective selection policy
    * actually chooses from, instead of a single hand-tuned weighting.
    *
    * 2-D skylines don't need a pairwise dominance join: group to one row
    * per quality level (min cost), take the running min of cost over
    * strictly higher levels, and a doc is on the frontier iff it matches
    * its level minimum and beats every higher level's. The only ordered
    * pass runs over DISTINCT SCORE LEVELS (≤ 1001 values by construction
    * — per-mille), not over documents, so the window is bounded metadata
    * scale and the doc-side work is one groupBy + a broadcast join back.
    */
  def paretoFrontier(docs: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    val stops = Stopwords.map(s => stopHits(s._1)).reduce(_ + _)
    val base = docs.select(col("doc_id"), col("n_chars"),
      floor((stops * 1000) / nTok).cast("long").as("score"))
    val lvl = base.groupBy("score").agg(min("n_chars").as("lvl_min"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val lvl2 = lvl.withColumn("min_higher", min("lvl_min").over(w))
    base.join(broadcast(lvl2), Seq("score"))
      .filter(col("n_chars") === col("lvl_min") &&
        (col("min_higher").isNull || col("n_chars") < col("min_higher")))
      .select(col("doc_id"), col("score"), col("n_chars"))
  }

  /** Out-of-vocabulary census: share of each document's tokens outside
    * the corpus' own top-`vocabSize` vocabulary — the coverage/fertility
    * signal that drives tokenizer and vocab-size choices. Fully
    * relational: the vocabulary is a TakeOrdered head (count DESC, token),
    * OOV tokens are a broadcast LEFT ANTI join against it (no driver-side
    * token set), and the rate is integer ppm. At 100 TB the vocab is the
    * only small side and it broadcasts; the token explode is the same
    * postings shape every text operator here shuffles.
    */
  def oovCensus(docs: DataFrame, vocabSize: Int = 200): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token")).limit(vocabSize)
      .select("token")
    val oov = toks.join(broadcast(vocab), Seq("token"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(oov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        expr("(coalesce(n_oov, CAST(0 AS BIGINT)) * 1000000) div n_tokens")
          .as("oov_ppm"))
  }

  /** Length-decile quality calibration: documents cut into ten
    * equal-count buckets by (n_chars, doc_id) — `ntile` over a total
    * order, deterministic — with each decile's exact integer quality
    * profile (stopword-density per-mille, the [[paretoFrontier]] metric).
    * The table answers "does quality drift with length?" before any
    * length-based gate is tuned. The decile cut is the range-partitioned
    * [[Ranking.globalNtile]] over the (n_chars, doc_id) total order —
    * value-identical to the window `ntile(10)` (which the oracle still
    * runs) but never a single-partition window: rows move through ONE
    * range shuffle and every task sees only its own slice.
    */
  def lengthDecileProfile(docs: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    val stops = Stopwords.map(s => stopHits(s._1)).reduce(_ + _)
    val base = docs.select(col("doc_id"), col("n_chars"),
      floor((stops * 1000) / nTok).cast("long").as("score"))
    Ranking.globalNtile(base, Seq(col("n_chars"), col("doc_id")), 10, "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        sum("score").as("sum_score"))
      .select(col("decile"), col("n"), col("min_chars"), col("max_chars"),
        expr("sum_score div n").as("mean_score_pm"))
  }

  /** Token counts under BOTH tokenization conventions a data pipeline
    * budgets with: whitespace tokens and a BPE-ish pre-tokenization count —
    * letter runs, digit runs, and single non-alphanumeric marks (the GPT-2
    * pre-tokenizer's shape, restricted to the regex subset Java and RE2
    * share so the oracle replays it exactly). Per-row, zero shuffle.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("n_bpe_tokens"))

  /** T5-style span-corruption planning census — the denoising-pretrain
    * target generator's bookkeeping: deterministic seed positions from a
    * transparent LCG over (doc_id, position) at `ratePct`%, each seed
    * opening a `spanLen`-token mask, overlapping spans merging. Per doc:
    * token count, masked-token count, merged-span count, masked share in
    * ppm. A position is masked iff a seed fired in `[p−spanLen+1, p]` —
    * a CLOSED FORM per position (no sequential scan state), so the whole
    * plan is per-row array HOFs: zero shuffle, linear in tokens, and the
    * LCG replays exactly in ANSI SQL (the [[stratifiedSample]] oracle
    * discipline). Hash stays in int64: the (doc, pos) mix is reduced mod
    * 2^31−1 BEFORE the LCG multiply.
    */
  def spanCorruption(docs: DataFrame, ratePct: Int = 15,
      spanLen: Int = 3): DataFrame = {
    val toks = tokens(col("text"))
    def seed(p: Column): Column =
      (p >= 1) &&
        ((col("doc_id") * 1000003L + p) % 2147483647L * 1103515245L +
          12345L) % 2147483647L % 100L < ratePct
    def maskedAt(p: Column): Column =
      (0 until spanLen).map(d => seed(p - d)).reduce(_ || _)
    val m = transform(sequence(lit(1), greatest(size(toks), lit(1))),
      p => struct(maskedAt(p).as("m"),
        (maskedAt(p) && !maskedAt(p - 1)).as("s")))
    docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        m.as("m"))
      .select(col("doc_id"), col("n_tokens"),
        aggregate(col("m"), lit(0L),
          (acc, x) => acc + x.getField("m").cast("long")).as("n_masked"),
        aggregate(col("m"), lit(0L),
          (acc, x) => acc + x.getField("s").cast("long")).as("n_spans"))
      .withColumn("mask_ppm",
        expr("n_masked * 1000000 div greatest(n_tokens, 1)"))
  }

  /** Gopher-style repetition quality signals, per doc — the filters that
    * catch boilerplate/degenerate generations in a training corpus:
    * token count, distinct-token count, the most-frequent token's count,
    * repeated 2-gram instances (total 2-gram slots minus distinct 2-grams,
    * using the same `greatest(len−1, 1)` slot count as the shingler so
    * sub-2-token docs read 0), and the distinct/total ratio in exact e6
    * fixed point. ENTIRELY per-row: the top-token count is the longest run
    * in the doc's SORTED token array (one fold), not a corpus-wide
    * wordcount — zero shuffle at any scale, and all outputs are integers so
    * the oracle hash-matches.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // longest run over sorted tokens == the most frequent token's count
    val topRun = topTokenRun(toks)
    Par.widenBy(docs, col("doc_id")).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      topRun.as("top_tok_cnt"),
      (greatest(size(toks) - 1, lit(1)).cast("long") -
        size(graft.plans.native.word_shingles(col("text"), 2)).cast("long"))
        .as("rep_2gram"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_tok_cnt"), col("rep_2gram"),
        round(lit(1e6) * col("n_distinct") / col("n_tokens")).cast("long")
          .as("distinct_ratio_e6"))
  }

  /** Order-sensitive rolling-hash fingerprint over token ids:
    * h = (h·131 + id) mod 1e9+7, left fold. Two docs share a fingerprint iff
    * (modulo collisions) their token sequences are identical — the cheap
    * content-identity key for shuffle-narrow exact dedup at scale.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.plans.native.poly_fold(graft.plans.native.token_ids(col("text")),
        131L, 1000000007L).as("fp"))

  /** Overlapping context-window chunking — split every document into
    * fixed-size token windows with stride overlap (the RAG / long-context
    * pre-processing step: `chunkToks`-token chunks, consecutive chunks
    * sharing `chunkToks − stride` tokens so no span is ever cut without a
    * copy that contains it whole). Chunk i covers tokens
    * `[i·stride + 1, i·stride + chunkToks]` (1-based, last chunk may be
    * short); a doc of ≤ `chunkToks` tokens yields exactly one chunk.
    *
    * Scale shape: one projection + a bounded explode (`1 +
    * ceil((n−chunkToks)/stride)` rows per doc — output is O(total tokens /
    * stride), linear in corpus size); no shuffle, no window — the plan is a
    * single codegen'd map stage that partitions like the input.
    */
  def chunkOverlap(docs: DataFrame, chunkToks: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkToks >= 1 && stride >= 1 && stride <= chunkToks,
      s"bad chunkToks=$chunkToks stride=$stride")
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("nc", when(col("n") <= chunkToks, 1L)
        .otherwise(lit(1L) +
          expr(s"(n - $chunkToks + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("n"), col("tk"),
        explode(sequence(lit(0L), col("nc") - 1)).as("ci"))
      .select(col("doc_id"),
        (col("ci") + 1L).as("chunk_id"),
        (col("ci") * stride + 1L).as("start_tok"),
        least(lit(chunkToks.toLong), col("n") - col("ci") * stride)
          .as("chunk_toks"),
        array_join(slice(col("tk"), (col("ci") * stride + 1L).cast("int"),
          lit(chunkToks)), " ").as("chunk_text"))
  }

  /** Zipf rank-frequency fit over the corpus unigram distribution — the
    * corpus-health gauge (natural text follows freq ∝ rank^s with
    * s ≈ −1; template/boilerplate corpora and synthetic word salad bend
    * the curve): least squares of `ln freq` on `ln rank` over the top
    * `topN` tokens, with the fit quality r². One row:
    * (vocab, total_tokens, slope_e6, intercept_e6, r2_e6).
    *
    * Scale shape: ONE map-side-combined groupBy(token) + a TakeOrdered
    * top-`topN` — k-sized driver state (the gap-statistic discipline); the
    * regression folds the k rows driver-side in rank order, op-for-op the
    * oracle SQL's ordered list_reduce folds, and outputs are e6-rounded so
    * sub-ulp ln() differences between engines cannot move a cell. Rounding
    * is half-AWAY-from-zero (BigDecimal HALF_UP — DuckDB `round()`), not
    * Scala `math.round`'s half-up: the slope is negative, exactly the case
    * the embPca rounding-convention lesson covers.
    */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"need topN >= 2, got $topN")
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = Par.widenBy(docs, col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val tot = tf.agg(count(lit(1)).as("vocab"), sum("freq").as("total")).head()
    val top = tf.orderBy(desc("freq"), asc("token")).limit(topN)
      .select("freq").collect().map(_.getLong(0))
    val n = top.length.toDouble
    // left folds in rank order — the oracle's list_reduce order exactly
    val xs = top.indices.map(ix => math.log((ix + 1).toDouble))
    val ys = top.indices.map(ix => math.log(top(ix).toDouble))
    val sx = xs.foldLeft(0.0)(_ + _)
    val sy = ys.foldLeft(0.0)(_ + _)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    val sxx = xs.map(x => x * x).foldLeft(0.0)(_ + _)
    val syy = ys.map(y => y * y).foldLeft(0.0)(_ + _)
    val cov = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    val slope = cov / vx
    val intercept = (sy - slope * sx) / n
    val r2 = cov * cov / (vx * vy)
    def rndE6(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    Seq((tot.getLong(0), tot.getLong(1), rndE6(slope),
      rndE6(intercept), rndE6(r2)))
      .toDF("vocab", "total_tokens", "slope_e6", "intercept_e6", "r2_e6")
  }

  /** Sequence packing — assign docs to fixed token-budget training batches
    * (the concat-and-chunk fill every pretraining pipeline runs so examples
    * waste no context): within each language, docs in deterministic doc_id
    * order fill batches by prefix sum; a doc's batch is its preceding token
    * count `div` the budget. Contiguous fill — an over-budget doc straddles
    * a boundary rather than opening a gap. ONE shuffle (the per-lang
    * window); at larger scale the partition key extends to (lang, shard)
    * and the same plan holds.
    */
  /** `size(tokens(text))` as a long — THE token count every pipeline stage
    * shares ([[qualityScore]]'s `n_tokens`, [[packBatches]]' and
    * [[mixCorpus]]'s `n_tok` are all this one expression), exposed so a
    * pipeline can compute it once and feed the `FromCounts` variants.
    */
  def tokenCount(text: Column): Column =
    size(tokens(text)).cast("long")

  def packBatches(docs: DataFrame, budget: Int = 256): DataFrame =
    packBatchesFromCounts(
      docs.select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok")),
      budget)

  /** [[packBatches]] over an ALREADY-TOKEN-COUNTED `(doc_id, lang, n_tok)`
    * relation (r19): a pipeline that has token counts in hand — e.g. the
    * quality gate already computed `size(tokens(text))` per doc — must not
    * pay a second corpus tokenize just to pack batches. Same window, same
    * output, same oracle; the count column must be the SAME `tokens`
    * expression ([[qualityScore]]'s `n_tokens` qualifies by construction).
    */
  def packBatchesFromCounts(counted: DataFrame, budget: Int = 256): DataFrame =
    counted.select(col("doc_id"), col("lang"), col("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Long.MinValue, 0)))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr(s"(cum - n_tok) div $budget").as("batch_id"))

  /** Balanced output sharding — the writer-side step that splits a corpus
    * into `nShards` files of near-equal token mass (so no trainer reads a
    * straggler shard): docs rank by (tokens desc, doc_id) and take
    * `rank % nShards` — the round-robin LPT approximation, whose imbalance
    * is bounded by one max-size doc (pinned in TextEventsSpec). The rank
    * is the range-partitioned [[Ranking.globalRank]] (same total order as
    * the window `row_number` the oracle runs — identical values, one range
    * shuffle, no single-partition window).
    */
  def shardBalanced(docs: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    Ranking.globalRank(
        docs.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok")),
        Seq(desc("n_tok"), col("doc_id")), "rnk")
      .select(col("doc_id"), col("n_tok"),
        ((col("rnk") - 1) % nShards).cast("long").as("shard"))
  }

  /** Length-bucketed batching with a padding-waste census — the dynamic
    * batching step fine-tuning/serving pipelines run so a batch pads every
    * sequence only to its own bucket's max, not the global one: docs land
    * in power-of-two length buckets (bitlen of n_tok — the [[unigramLm]]
    * exact integer log2), fill `batchSize`-doc batches in deterministic
    * (n_tok, doc_id) order within their bucket, and every batch reports
    * its exact padding overhead `pad_ppm = (batch·max − Σtok)·1e6 div
    * (batch·max)`. Sorting within the bucket makes neighbors similar in
    * length, which is what drives waste toward zero.
    *
    * Shape: one shuffle (the per-bucket window), then a (bucket, batch)
    * groupBy with map-side combine; at larger scale the window key extends
    * to (bucket, shard) exactly like [[packBatches]]'s and the plan holds.
    */
  def lengthBucketBatches(docs: DataFrame, batchSize: Int = 8): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("n_tok", "doc_id")
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("bucket", length(conv(col("n_tok"), 10, 2)).cast("long"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("batch_ix", expr(s"(rnk - 1) div $batchSize"))
      .groupBy("bucket", "batch_ix")
      .agg(count(lit(1)).as("n_docs"), max("n_tok").as("max_tok"),
        sum("n_tok").as("sum_tok"))
      .withColumn("pad_ppm",
        when(col("max_tok") === 0, 0L).otherwise(
          expr("(n_docs * max_tok - sum_tok) * 1000000 div (n_docs * max_tok)")))
  }

  /** Corpus mixing — the pretraining-mix step that weights data sources:
    * each source contributes docs in deterministic `doc_id` order until its
    * token budget fills. `budgets` is a (source, budget) relation — tiny by
    * nature (one row per source), so it broadcasts; sources absent from it
    * contribute nothing (inner join). Contiguous fill like [[packBatches]]:
    * the doc that crosses the budget boundary is KEPT (its preceding tokens
    * are under budget), docs after it are dropped — so every budgeted
    * source lands within one doc of its target. ONE shuffle (the per-source
    * window); at larger scale the window key extends to (source, shard)
    * with per-shard budget splits and the same plan holds.
    */
  def mixCorpus(docs: DataFrame, budgets: DataFrame): DataFrame =
    mixCorpusFromCounts(
      docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok")),
      budgets)

  /** [[mixCorpus]] over an ALREADY-TOKEN-COUNTED `(doc_id, source, n_tok)`
    * relation (r19) — the [[packBatchesFromCounts]] twin, same contract:
    * the count column must be the same `tokens` expression the direct form
    * computes. Same fill, same output, same oracle.
    */
  def mixCorpusFromCounts(counted: DataFrame, budgets: DataFrame): DataFrame =
    counted.select(col("doc_id"), col("source"), col("n_tok"))
      .join(broadcast(budgets), "source")
      .withColumn("cum", sum(col("n_tok")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(Long.MinValue, 0)))
      .filter(col("cum") - col("n_tok") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum"))

  /** UniMax-style epoch allocation (Chung et al. 2023): split a total
    * training-token `budget` across sources by greedy waterfilling — walk
    * sources ASCENDING by token mass, give each `min(tokens · maxEpochs,
    * remaining_budget div remaining_sources)` tokens, subtract, continue.
    * Small sources hit the repetition cap (`maxEpochs` epochs) and their
    * unused share flows to larger sources; big sources absorb the fair
    * share at under one epoch. The standard answer to "how many times may
    * each source repeat in the mix" — doc-level budgets then come from
    * [[mixCorpus]] with these allocations.
    *
    * Everything is INTEGER arithmetic over the per-source token sums
    * (floor division, `least`, exact ppm at the end), so the DuckDB oracle
    * (the same walk as a recursive CTE over the ranked sources) is
    * hash-exact. The waterfill itself is a driver loop over the collected
    * per-source rows — source cardinality is k-sized state by nature (a
    * corpus has dozens of sources, not millions); the only distributed
    * work is the one groupBy(source) token-mass aggregation.
    */
  def epochAllocation(docs: DataFrame, budget: Long,
      maxEpochs: Int = 4): DataFrame = {
    require(budget >= 0 && maxEpochs >= 1, s"bad budget=$budget maxEpochs=$maxEpochs")
    val spark = docs.sparkSession
    import spark.implicits._
    val perSource = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("tokens"))
      .orderBy("tokens", "source").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var bRem = budget
    var nRem = perSource.length.toLong
    val rows = perSource.map { case (src, t) =>
      val a = math.min(t * maxEpochs, bRem / nRem)
      bRem -= a
      nRem -= 1
      (src, t, a, a * 1000000L / t)
    }
    rows.toSeq.toDF("source", "tokens", "alloc_tokens", "epochs_ppm")
  }

  /** Per-domain corpus rollup — the domain-level quality/spam filter input
    * every web-scale pipeline computes before doc-level scoring: host from
    * the URL, registered domain as the trailing labels, then doc counts and
    * token mass per domain. Expects (doc_id, url, text); regexes are
    * group-capture only (no alternation) so Java and RE2 agree. One shuffle
    * on the domain key; domains are few, counts pre-aggregate map-side.
    */
  def domainStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_extract(col("url"), "://([A-Za-z0-9.-]+)", 1).as("host"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("domain",
        regexp_extract(col("host"),
          "([A-Za-z0-9-]+\\.[A-Za-z0-9-]+\\.[A-Za-z]+)$", 1))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))

  /** Line relation over multi-line documents: one row per (doc_id, pos,
    * line), `pos` 1-based in document order. The unit for paragraph-level
    * dedup and boilerplate removal; one narrow explode, no shuffle.
    */
  def docLines(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col(textCol), "\n")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("line"))

  private def reassemble(lines: DataFrame, keep: Column): DataFrame =
    lines.groupBy("doc_id").agg(
      count(lit(1)).cast("long").as("n_lines"),
      sum(keep.cast("long")).as("n_kept"),
      array_join(transform(array_sort(collect_list(
        when(keep, struct(col("pos"), col("line"))))),
        x => x.getField("line")), "\n").as("clean_text"))

  /** Line-level boilerplate removal (the CCNet-style pass that strips
    * headers/footers/nav text repeated across a web crawl): a line whose
    * corpus-wide occurrence count exceeds `maxDf` is dropped from every doc;
    * survivors are reassembled in original order. Shape at scale: line
    * frequencies by groupBy (map-side combined — hot boilerplate lines
    * pre-aggregate per partition, no skewed window), one equi-join back on
    * the line key, one groupBy doc to reassemble. When the hot set is known
    * small, the join side can shrink to `df > maxDf` lines and broadcast.
    */
  def removeBoilerplate(docs: DataFrame, maxDf: Int = 10,
      textCol: String = "text"): DataFrame = {
    val lines = docLines(docs, textCol)
    val freq = lines.groupBy("line").agg(count(lit(1)).as("df"))
    reassemble(lines.join(freq, "line"), col("df") <= maxDf)
  }

  /** The broadcast-hot-set twin of [[removeBoilerplate]]: only lines OVER
    * the cap (the hot set — bounded by n/maxDf distinct values, tiny by
    * construction) travel to the join, as a broadcast left-outer mark. The
    * full line relation then never shuffles on the line key at all — one
    * doc-key shuffle total. Value-identical to the join form (PropertySpec
    * pins it); pick this shape when the corpus is huge and the cap is high.
    */
  def removeBoilerplateBroadcastHot(docs: DataFrame, maxDf: Int = 10,
      textCol: String = "text"): DataFrame = {
    val lines = docLines(docs, textCol)
    val hot = lines.groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("line"), lit(1).as("_hot"))
    reassemble(lines.join(broadcast(hot), Seq("line"), "left_outer"),
      col("_hot").isNull)
  }

  /** Corpus-wide paragraph dedup (CCNet's sharded-hash pass): every line
    * keeps only its FIRST occurrence — the (doc_id, pos)-least copy — and
    * later copies are dropped from their docs. First occurrence is a
    * `min(struct(doc_id, pos))` groupBy on the line key (map-side combined,
    * skew-safe — no per-line window sort), then one equi-join back and a
    * per-doc reassembly. At 100 TB the line key becomes a 64-bit content
    * hash and the same two-shuffle plan holds.
    */
  def dedupParagraphs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = docLines(docs, textCol)
    val first = lines.groupBy("line")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    reassemble(lines.join(first, "line"),
      col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
  }

  /** Unigram language-model familiarity score — the cheap LM-quality signal
    * (the role KenLM perplexity plays in CCNet) in exact integer arithmetic:
    * each token scores `bitlen(corpus count)` = floor(log2 cnt)+1, an
    * integer log both engines compute exactly (binary digit count — no
    * floating log calls), and a doc reports the sum and the e6 fixed-point
    * mean. Rare/garbage tokens score low bits, common fluent tokens high —
    * low `avg_bits_e6` flags unnatural text. Shape: one token-key groupBy
    * for the vocab (map-side combined), one hash join back on token, one
    * doc-key groupBy — the TF-IDF plan's shape, no collect, no driver state.
    */
  def unigramLm(docs: DataFrame): DataFrame = {
    val tok = Par.widenBy(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    tok.join(vocab, "token")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_tokens"),
        sum(length(conv(col("cnt"), 10, 2))).cast("long").as("lm_bits"))
      .withColumn("avg_bits_e6",
        round(lit(1e6) * col("lm_bits") / col("n_tokens")).cast("long"))
  }

  /** Code-vs-prose detection — the filter that routes documents to the
    * right training mix (code into the code corpus, prose into the text
    * one, mixed flagged for review): per-mille densities of the
    * code-indicative characters `{ } ; = ( )` plus the underscore-word
    * signal, with an integer-threshold flag. Character counts come from
    * `length(x) − length(replace(x, c, ''))` — exact, regex-free, and
    * engine-identical, so the oracle hash-matches. Per-row, zero shuffle.
    */
  def codeDetect(docs: DataFrame, thrPm: Int = 15): DataFrame = {
    // literal single-char removal via translate (no regex semantics)
    def cntCh(c: String) =
      length(col("text")) - length(translate(col("text"), c, ""))
    val braces = cntCh("{") + cntCh("}")
    val semis = cntCh(";")
    val eqs = cntCh("=")
    val parens = cntCh("(") + cntCh(")")
    val unders = cntCh("_")
    docs.select(col("doc_id"), length(col("text")).as("n_chars"),
        braces.as("braces"), semis.as("semis"), eqs.as("eqs"),
        parens.as("parens"), unders.as("unders"))
      .withColumn("code_pm",
        expr("((braces * 3 + semis * 2 + eqs + parens + unders) * 1000)" +
          " div greatest(n_chars, 1)"))
      .withColumn("is_code", col("code_pm") >= thrPm)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("braces").cast("long").as("braces"),
        col("semis").cast("long").as("semis"),
        col("code_pm"), col("is_code"))
  }

  /** Vocabulary coverage (Zipf) curve — the tokenizer-sizing table: the
    * corpus vocabulary cut into ten equal-count deciles by frequency rank
    * (total (cnt desc, token) order — deterministic), each reporting its
    * token-type count, its occurrence mass, and the CUMULATIVE mass in
    * exact ppm. Answers "how much of the corpus does a vocab of the top
    * 10/20/…% cover" before committing to a vocab size. The decile cut is
    * [[Ranking.globalNtile]] over the VOCABULARY relation (types, not
    * occurrences — already orders of magnitude smaller than the corpus,
    * and range-partitioned rather than a single-partition window since a
    * web-scale vocabulary is itself unbounded); the decile rollup and its
    * cumulative window are 10 rows.
    */
  def vocabCurve(docs: DataFrame): DataFrame = {
    val counts = Par.widenBy(docs, col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val dec = Ranking.globalNtile(counts,
        Seq(col("cnt").desc, col("token")), 10, "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_types"), sum("cnt").as("mass"))
    val wd = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    dec
      .withColumn("cum_mass", sum("mass").over(wd))
      .withColumn("total", sum("mass").over(all))
      .select(col("decile"), col("n_types"), col("mass"), col("cum_mass"),
        expr("cum_mass * 1000000 div total").as("cum_ppm"))
  }

  /** CCNet-style familiarity buckets (Wenzek et al. 2020): documents cut
    * into head / middle / tail terciles of the [[unigramLm]] familiarity
    * score — the tri-level quality split web-corpus pipelines feed to
    * training-mix decisions (head = most LM-familiar; CCNet keeps head +
    * middle and drops or down-weights tail). The cut is
    * [[Ranking.globalNtile]](3) over the total (avg_bits_e6 desc, doc_id)
    * order — value-identical to the window ntile the oracle runs, but
    * range-partitioned instead of a single-partition window.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    Ranking.globalNtile(unigramLm(docs),
        Seq(col("avg_bits_e6").desc, col("doc_id")), 3, "bucket")
      .select(col("doc_id"), col("avg_bits_e6"), col("bucket"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail").as("tier"))
  }

  /** Pairwise source-distribution divergence — the data-mixture diagnostic
    * that tells a corpus builder which sources are interchangeable and
    * which add genuinely different text: for every source pair, a
    * chi-square-shaped distance over their token count distributions,
    * EXACT end to end: intermediates run 128-bit (DECIMAL(38,0) here,
    * HUGEINT in the oracle) so the squared cross terms never overflow,
    * and only the final `chi2_num` narrows to int64 (nulling, not
    * wrapping, if a pair's total ever exceeds it). Per shared token the
    * contribution is
    * `(cₐ·N_b − c_b·Nₐ)² div (cₐ + c_b)` (integer floor per term — a
    * deterministic sum, no float accumulation order anywhere); tokens
    * private to one side close in closed form, since
    * `(cₐ·N_b)² div cₐ = cₐ·N_b²` exactly, so their total is
    * `N_b²·(Nₐ − Σ_shared cₐ)` (and symmetrically). Raw chi² =
    * `chi2_num / (Nₐ·N_b)` — left as exact numerator + the two totals so
    * the caller (and the oracle) stay integer-only.
    *
    * Shape: one (source, token) count groupBy — map-side combined — then a
    * token equi-join of that reduced relation against itself (source_a <
    * source_b), one aggregate per pair. The join is on the VOCABULARY
    * relation, not the corpus: |sources|·|vocab| at worst.
    */
  def sourceChi2(docs: DataFrame): DataFrame = {
    // persisted: the (source, token) count relation is |S|×|vocab|-sized
    // and feeds the totals plus both pair sides — without the cache the
    // corpus explode+shuffle re-runs for every consumer
    val ct = Par.widenBy(docs, col("doc_id"))
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .persist()
    val tot = ct.groupBy("source").agg(sum("c").as("n"))
    val a = ct.join(tot, "source")
      .select(col("source").as("src_a"), col("token"),
        col("c").as("ca"), col("n").as("na"))
    val b = ct.join(tot, "source")
      .select(col("source").as("src_b"), col("token"),
        col("c").as("cb"), col("n").as("nb"))
    // the squared cross term overflows int64 once ca·nb reaches ~3e9 (a hot
    // token against a ~1e6-token source), so every intermediate runs in
    // DECIMAL(38,0) — 128-bit, exact, matching the oracle's HUGEINT — and
    // only the final chi2_num narrows back to int64
    val d = "(CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na)"
    val shared = a.join(b, Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(
        sum(expr(s"CAST(($d * $d) div (ca + cb) AS DECIMAL(38,0))"))
          .as("chi2_shared"),
        sum("ca").as("sa"), sum("cb").as("sb"),
        count(lit(1)).as("n_shared_tokens"))
    // every pair appears even with zero shared vocabulary (the maximally-
    // divergent case must not vanish from the report): the |S|² pair frame
    // is an inequality join over the |S|-row totals — driver-tiny by
    // contract, the km_validity precedent — left-joined to the shared sums
    val pairs = tot.select(col("source").as("src_a"), col("n").as("na"))
      .join(tot.select(col("source").as("src_b"), col("n").as("nb")),
        col("src_a") < col("src_b"))
    pairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        coalesce(col("n_shared_tokens"), lit(0L)).as("n_shared_tokens"),
        expr("CAST(coalesce(chi2_shared, CAST(0 AS DECIMAL(38,0)))" +
          " + CAST(nb AS DECIMAL(38,0)) * nb * (na - coalesce(sa, CAST(0 AS BIGINT)))" +
          " + CAST(na AS DECIMAL(38,0)) * na * (nb - coalesce(sb, CAST(0 AS BIGINT)))" +
          " AS BIGINT)").as("chi2_num"))
  }

  /** The fitted half of [[dsirScore]]: the `(token, cnt, cnt_t)` vocabulary
    * with corpus and target-domain counts — built once offline, then joined
    * to whatever needs scoring (the batch corpus here; arriving docs in
    * [[graft.streaming.StreamingOps.dsirStream]]).
    */
  def dsirVocab(docs: DataFrame): DataFrame = {
    // one scalar of driver state, the fixedCentroids discipline
    val tsrc = docs.agg(min("source")).head().getString(0)
    docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("source") === tsrc, 1L).otherwise(0L)).as("cnt_t"))
  }

  /** Per-token-occurrence DSIR weight off a [[dsirVocab]] row: the bitlen
    * likelihood ratio with add-one smoothing. Null counts (token absent
    * from the fitted vocabulary — only possible for out-of-corpus stream
    * docs) smooth to `bitlen(1) − bitlen(1) = 0`.
    */
  def dsirWeight: Column =
    (length(conv(coalesce(col("cnt_t"), lit(0L)) + 1, 10, 2)) -
      length(conv(coalesce(col("cnt"), lit(0L)) + 1, 10, 2))).cast("long")

  /** DSIR-style importance score for domain-targeted data selection (Xie et
    * al. 2023, arXiv:2302.03169): every document is scored by how much more
    * likely its tokens are under the TARGET domain's unigram LM than under
    * the whole corpus's — the log-likelihood ratio that importance
    * resampling then selects on. The target here is the lexicographically
    * first `source` (data-derived and oracle-replayable, the same
    * discipline as [[bm25]]'s top-term query; production passes any
    * held-out in-domain sample).
    *
    * Integer discipline: each token occurrence contributes
    * `bitlen(target cnt + 1) − bitlen(corpus cnt + 1)` — the [[unigramLm]]
    * exact floor(log2)+1 arithmetic with add-one smoothing, so unseen-in-
    * target tokens penalize instead of producing −∞. The corpus-size
    * normalizers are per-corpus constants that shift every doc equally and
    * drop out of the ranking, so they are omitted and the score stays an
    * exact integer.
    *
    * Shape: one vocabulary groupBy computes BOTH counts (the target count
    * as a conditional sum — no second scan), one join back on token, one
    * per-doc aggregate. Identical scale posture to [[unigramLm]].
    */
  def dsirScore(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("token"))
    tok.join(dsirVocab(docs), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(dsirWeight).cast("long").as("dsir_bits"))
      .withColumn("avg_bits_e6",
        round(lit(1e6) * col("dsir_bits") / col("n_tokens")).cast("long"))
  }

  /** Bigram language-model familiarity — the next-order LM-quality signal
    * above [[unigramLm]], sensitive to word ORDER (shuffled fluent tokens
    * keep their unigram score but lose their bigram one — the signature of
    * spun/generated spam): each adjacent token pair scores
    * `bitlen(corpus bigram count)`, docs report the sum and e6 mean over
    * their bigram count. Bigrams come from the codegen'd `word_grams`
    * kernel (n = 2) — no token-level window shuffle; then the same
    * vocab-groupBy + join-back + doc-groupBy plan as the unigram. Docs
    * shorter than two tokens carry zero bigrams and score 0 explicitly.
    */
  def bigramLm(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"),
      explode(graft.plans.native.word_grams(col("text"), 2)).as("bigram"))
    val vocab = bg.groupBy("bigram").agg(count(lit(1)).as("cnt"))
    val scored = bg.join(vocab, "bigram")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        sum(length(conv(col("cnt"), 10, 2))).cast("long").as("lm_bits"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_bits"), lit(0L)).as("lm_bits"))
      .withColumn("avg_bits_e6",
        when(col("n_bigrams") > 0,
          round(lit(1e6) * col("lm_bits") / col("n_bigrams")).cast("long"))
          .otherwise(0L))
  }

  /** Interpolated Kneser–Ney bigram probabilities (the standard n-gram LM
    * smoothing — Kneser & Ney 1995) for the `topN` most frequent bigrams,
    * in EXACT integer fixed point so the DuckDB oracle replays it
    * bit-for-bit. With discount D = 3/4 written as integer quarters:
    *
    *   P_KN(w2|w1)·1e6 = (4·c(w1,w2) − 3)·1e6 ÷ (4·c(w1·))
    *                   + 3·N1+(w1·)·N1+(·w2)·1e6 ÷ (4·c(w1·)·T)
    *
    * where c(w1·) is the context count, N1+(w1·) the distinct continuations
    * of w1 (the discount mass donors), N1+(·w2) the distinct contexts
    * preceding w2 (the continuation probability — KN's insight: "Francisco"
    * is frequent but follows only "San"), and T the total distinct bigram
    * types. Both ÷ are floor divisions applied in this order on both
    * engines. Plan shape: one corpus pass to bigram counts, then all
    * statistics derive from the |types|-sized count relation — the same
    * |vocab| ≪ |corpus| property that makes [[bpeTrain]] cheap; the type-
    * count scalar broadcasts.
    *
    * Int64 bounds (all terms exact below them, engines agree exactly):
    * the numerators need `4·nb·1e6` and `3·n1c·ncont·1e6` inside int64 —
    * safe while nb < 2.3e12 and n1c·ncont < 3e12; the denominator needs
    * `4·cw·T` < 9.2e18. A planetary-scale corpus (context counts ~1e12 ×
    * billions of bigram types) crosses the denominator bound first — there,
    * compute the two fractions in DECIMAL(38,0)/HUGEINT like [[sourceChi2]]
    * does; the fixture scales sit orders of magnitude inside the bounds.
    */
  def knBigramTop(docs: DataFrame, topN: Int = 50): DataFrame = {
    val bg = docs
      .select(explode(graft.plans.native.word_grams(col("text"), 2)).as("bigram"))
      .select(split(col("bigram"), " ").as("a"))
      .select(element_at(col("a"), 1).as("w1"), element_at(col("a"), 2).as("w2"))
    // persisted: ctx/cont/types ALL derive from this |bigram types|-sized
    // relation — without the cache each consumer re-runs the corpus
    // explode+shuffle (4 scans of the 100 TB side for one query)
    val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("nb"))
      .persist()
    val ctx = bgc.groupBy("w1").agg(sum("nb").cast("long").as("cw"),
      count(lit(1)).cast("long").as("n1c"))
    val cont = bgc.groupBy("w2").agg(count(lit(1)).cast("long").as("ncont"))
    val types = bgc.agg(count(lit(1)).cast("long").as("t_types"))
    bgc.join(ctx, "w1").join(cont, "w2")
      .crossJoin(org.apache.spark.sql.functions.broadcast(types))
      .withColumn("pkn_ppm",
        expr("((4*nb - 3) * 1000000) div (4*cw)" +
          " + (3 * n1c * ncont * 1000000) div (4 * cw * t_types)"))
      .orderBy(desc("nb"), asc("w1"), asc("w2")).limit(topN)
      .select(col("w1"), col("w2"), col("nb"), col("pkn_ppm"))
  }

  /** URL blocklist filtering — the first gate of a web-crawl pipeline:
    * drop docs whose registered domain is on the blocklist. The blocklist
    * is tiny by nature (domains, not URLs) → broadcast anti-join; the
    * host/domain parse is the [[domainStats]] regex pair, per-row. Output
    * keeps the parse columns so downstream domain-level scoring reuses
    * them without re-parsing.
    */
  def urlFilter(docs: DataFrame, blocklist: DataFrame): DataFrame = {
    val host = regexp_extract(col("url"), "://([A-Za-z0-9.-]+)", 1)
    val parsed = docs.select(col("doc_id"), col("url"),
        host.as("host"),
        regexp_extract(host,
          "([A-Za-z0-9-]+\\.[A-Za-z0-9-]+\\.[A-Za-z]+)$", 1).as("domain"))
    parsed.join(broadcast(blocklist), Seq("domain"), "left_anti")
  }

  // ------------------------------------------------------------ BPE training

  /** Word-frequency start state for BPE training: one row per distinct
    * word with its corpus frequency and its character-symbol sequence.
    * One token-key groupBy (map-side combined); every later iteration works
    * on this vocabulary-sized relation, never the corpus again — the
    * property that makes corpus-scale tokenizer training cheap: |vocab| ≪
    * |corpus| and pair statistics are exact because frequency rides along.
    */
  def bpeWords(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))

  /** Frequency-weighted adjacent-symbol pair counts over the current merge
    * state — the statistic each BPE iteration maximizes. Zip of the symbol
    * array against its own tail, one explode, one pair-key groupBy.
    */
  def bpePairCounts(words: DataFrame): DataFrame =
    words.select(col("freq"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("left"), b.as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum("freq").as("cnt"))

  /** Apply one merge to a symbol array: leftmost-first, non-overlapping —
    * the standard BPE apply — as a single left fold (carry = output so far +
    * one pending symbol; a (pending=left, next=right) hit emits the merged
    * symbol and clears the carry so overlaps can't double-merge).
    */
  def bpeApplyMerge(syms: Column, left: String, right: String): Column = {
    val folded = aggregate(syms,
      struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("prev")),
      (acc, s) => {
        val out = acc.getField("out"); val prev = acc.getField("prev")
        when(prev.isNull, struct(out.as("out"), s.as("prev")))
          .when(prev === left && s === right,
            struct(concat(out, array(lit(left + right))).as("out"),
              lit(null).cast("string").as("prev")))
          .otherwise(struct(concat(out, array(prev)).as("out"), s.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
    folded
  }

  /** One learned merge: (rank, left, right, weighted count). */
  final case class BpeMerge(merge_id: Long, left: String, right: String, cnt: Long)

  /** BPE tokenizer training — learn the first `nMerges` merges from the
    * corpus. Each iteration: distributed pair counts over the
    * vocabulary-sized word relation, a ONE-row argmax collect (ties break
    * (cnt desc, left, right) so training is deterministic), then the merge
    * applies as a per-row fold. Driver state is O(nMerges); the corpus is
    * read exactly once (bpeWords). The iterative loop is not
    * ANSI-expressible — the gate covers the pair statistic (text_bpe_pairs)
    * hash-exact and pins the learned merge sequence in TextEventsSpec.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 5): Seq[BpeMerge] = {
    var words = bpeWords(docs).cache()
    val out = Seq.newBuilder[BpeMerge]
    try {
      var i = 1
      var exhausted = false
      while (i <= nMerges && !exhausted) {
        val best = bpePairCounts(words)
          .orderBy(desc("cnt"), asc("left"), asc("right")).limit(1)
          .collect()
        if (best.isEmpty) exhausted = true  // no adjacent pairs left to merge
        else {
          val (l, r, c) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          out += BpeMerge(i.toLong, l, r, c)
          val next = words
            .withColumn("syms", bpeApplyMerge(col("syms"), l, r)).cache()
          next.count()        // materialize BEFORE evicting the parent —
          words.unpersist()   // else every iteration recomputes from the corpus
          words = next
          i += 1
        }
      }
      out.result()
    } finally words.unpersist()
  }

  /** Apply a learned merge sequence to the corpus vocabulary — the
    * train → apply split of tokenizer deployment: [[bpeTrain]]'s merges
    * fold over each word's symbol sequence in rank order (each application
    * is the [[bpeApplyMerge]] leftmost non-overlapping fold), yielding the
    * final segmentation per distinct word. Entirely per-row over the
    * vocabulary-sized relation — after the one [[bpeWords]] groupBy there
    * is no further shuffle, so applying a full merge table at 100 TB costs
    * one pass over |vocab|, not |corpus|.
    */
  def bpeSegment(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val words = merges.foldLeft(bpeWords(docs)) { (w, m) =>
      w.withColumn("syms", bpeApplyMerge(col("syms"), m.left, m.right))
    }
    words.select(col("word"), col("freq").cast("long").as("freq"),
      size(col("syms")).cast("long").as("n_syms"),
      concat_ws(" ", col("syms")).as("seg"))
  }

  /** PII patterns shared by the redactor and its tests. Deliberately
    * alternation-free and backtracking-trivial so Java regex (Spark) and RE2
    * (DuckDB oracle) agree on every match; each is the standard corpus-scrub
    * shape (email, international-ish phone, dotted-quad IP).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>")

  /** PII redaction — the scrub step every training corpus runs before
    * anything else sees the text. Counts each category then rewrites the
    * text with typed placeholders, email → phone → IP (placeholders contain
    * no digits or dots, so later passes can't re-match earlier rewrites).
    * ENTIRELY per-row — zero shuffle at any scale.
    *
    * The synthetic `documents` fixture contains no natural PII, so the query
    * wiring augments each row with contact strings derived from `doc_id`
    * (deterministic, oracle-reproducible) — every row then exercises all
    * three patterns end-to-end; literal-PII edge cases live in
    * TextEventsSpec.
    */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = PiiPatterns.zip(Seq("n_emails", "n_phones", "n_ips")).map {
      case ((pat, _), name) =>
        regexp_count(col(textCol), lit(pat)).cast("long").as(name)
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (pat, tag)) => regexp_replace(c, pat, tag)
    }
    docs.select(col("doc_id") +: counts :+ redacted.as("redacted"): _*)
  }

  /** N-gram novelty: per doc, the share of its distinct shingles this doc is
    * the FIRST to contribute (first = lowest doc_id over the whole corpus) —
    * the diversity/novelty signal a mix builder uses to demote documents that
    * only re-cover already-seen text. Two shuffles at any scale: min(doc_id)
    * per shingle (postings-sized, linear — never pairwise), then the per-doc
    * rollup. `novelty_ppm` stays in the exact integer domain. Docs shorter
    * than `n` tokens have no shingles and drop out (mirrored by the oracle).
    */
  def noveltyScore(docs: DataFrame, n: Int = 3): DataFrame = {
    val ex = Dedup.shingled(docs, n)
      .select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    val first = ex.groupBy("s").agg(min("doc_id").as("first_seen"))
    ex.join(first, "s")
      .groupBy("doc_id", "sz")
      .agg(sum(when(col("first_seen") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("sz").cast("long").as("n_shingles"),
        col("novel"), expr("novel * 1000000 div sz").as("novelty_ppm"))
  }

  /** Sentence segmentation stats: split on terminator runs (`[.!?]+`), trim,
    * drop empties. Per-row only — zero shuffle. All outputs exact integers.
    */
  def sentenceStats(docs: DataFrame): DataFrame = {
    val segs = filter(
      transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    Par.widenBy(docs, col("doc_id")).select(col("doc_id"),
      size(segs).cast("long").as("n_sentences"),
      aggregate(segs, lit(0L), (acc, s) => acc + length(s)).as("sent_chars"),
      coalesce(array_max(transform(segs, s => length(s))), lit(0))
        .cast("long").as("max_sent_chars"))
  }

  /** Flesch-style readability features — the classic prose-difficulty
    * quality signal (an ESL-heavy or boilerplate corpus reads very
    * differently from edited text): words, sentences (the [[sentenceStats]]
    * split rule), and syllables approximated as maximal vowel-run groups —
    * counted EXACTLY by collapsing each `[aeiouy]+` run to one marker char
    * and diffing lengths, a deterministic rewrite identical in Java and
    * RE2 regex dialects (alternation-free class, the qualityScore
    * discipline). The reading-ease score itself is the textbook
    * `206.835 − 1.015·(W/S) − 84.6·(Y/W)` over those exact integers,
    * reported at e2 fixed point (identical IEEE sequence both engines).
    * Per-row, zero shuffle.
    */
  def readability(docs: DataFrame): DataFrame = {
    val words = size(tokens(col("text")))
    val sents = greatest(size(filter(
      transform(split(col("text"), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)), lit(1))
    val collapsed = regexp_replace(lower(col("text")), "[aeiouy]+", "V")
    val sylls = length(collapsed) - length(translate(collapsed, "V", ""))
    val base = docs.select(col("doc_id"),
      words.cast("long").as("n_words"),
      sents.cast("long").as("n_sentences"),
      sylls.cast("long").as("n_syllables"))
    base.withColumn("flesch_e2",
      round((lit(206.835)
        - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
        - lit(84.6) * (col("n_syllables").cast("double") /
          greatest(col("n_words"), lit(1)))) * 100).cast("long"))
  }

  /** Language-balanced corpus: every language keeps the SAME number of docs
    * — the minimum per-language count — in deterministic doc_id order. The
    * cap is a window min over the per-language COUNTS relation (|langs|
    * rows, trivial at any scale), broadcast back onto the ranked docs; the
    * only full-data shuffle is the per-language row_number.
    */
  def balanceByLang(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val cap = counts.select(col("lang"),
      min(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()).as("cap"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    docs.withColumn("rnk", row_number().over(w).cast("long"))
      .join(broadcast(cap), "lang")
      .filter(col("rnk") <= col("cap"))
      .select(col("doc_id"), col("lang"), col("rnk"))
  }

  /** Per-source median length gate: keep docs at or above their source's
    * median token count — the relative-quality filter that adapts to each
    * source's own distribution instead of a global constant. Medians come
    * from one exact-percentile agg over (source) — |sources| rows, broadcast
    * back — so the data shuffles once for the agg and never for the gate.
    * The median of integer counts is x.0 or x.5, exact in a double, so the
    * `>=` compare and the d10 fixed point are engine-stable.
    */
  /** Corpus DATASHEET — the per-source summary table a dataset release
    * ships (Gebru et al. 2021 "Datasheets for Datasets", the quantitative
    * rows): for every source its doc and token mass, language spread, mean
    * doc length, the [[qualityScore]] gate's pass rate (the SAME shared
    * keep rule, so the report can't drift from the gate), and the exact-
    * duplicate rate (docs whose order-sensitive [[fingerprint]] content
    * hash occurs 2+ times corpus-wide — cross-source duplicates count for
    * every source holding a copy).
    *
    * Scale shape: ONE corpus scan computes every per-doc signal (token
    * count, keep flag, fingerprint) fused; the narrow per-doc relation
    * persists for its two consumers (the duplicate-fingerprint rollup and
    * the final per-source aggregate — the signature-relation precedent,
    * not a corpus-text cache). The dup rollup is a map-side-combined
    * groupBy(fp) whose >1 survivors equi-join back on fp — NOT forced
    * broadcast: a dup-heavy corpus makes that set corpus-scale, so the
    * plan stays a keyed join and AQE may downgrade to broadcast only when
    * the survivors measure small. All ratios are exact integer ppm/e2.
    */
  def corpusDatasheet(docs: DataFrame,
      minTokens: Int = 5, maxTokens: Int = 5000): DataFrame = {
    val perDoc = docs.select(
      col("source"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      qualityKeep(minTokens, maxTokens).as("keep"),
      graft.plans.native.poly_fold(
        graft.plans.native.token_ids(col("text")), 131L, 1000000007L)
        .as("fp"))
      .persist()
    val dupFp = perDoc.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L).select(col("fp"), lit(1L).as("is_dup"))
    perDoc.join(dupFp, Seq("fp"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("n_tok").as("n_tokens"),
        sum("keep").as("n_keep"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
        expr("n_tokens * 100 div n_docs").as("tokens_per_doc_e2"),
        expr("n_keep * 1000000 div n_docs").as("quality_keep_ppm"),
        expr("n_dup * 1000000 div n_docs").as("exact_dup_ppm"))
  }

  def qualityQuantileGate(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val med = t.groupBy("source")
      .agg(expr("percentile(n_tokens, 0.5)").as("med"))
    t.join(broadcast(med), "source")
      .filter(col("n_tokens") >= col("med"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("med") * 10).cast("long").as("med_d10"))
  }

  /** The most-frequent-token count, as the longest run in the doc's SORTED
    * token array — one per-row fold, zero shuffle (shared by
    * [[repetitionStats]] and [[gopherGate]]).
    */
  private[operators] def topTokenRun(toks: Column): Column =
    aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The fixed rule order of [[gopherGate]] (and its streaming twin). */
  val GopherRuleNames: Seq[String] = Seq("word_count", "mean_word_length",
    "required_stopwords", "distinct_ratio", "top_token_share",
    "repeated_2grams")

  /** The shared [[gopherGate]]/`gopherGateStream` threshold defaults — ONE
    * definition so the batch gate and its streaming twin can never drift
    * apart on a retune (both signatures reference these).
    */
  object GopherDefaults {
    val MinTokens = 20; val MaxTokens = 1000
    val MinMeanLen = 3; val MaxMeanLen = 10
    val MinStops = 2
    val MinDistinctPpm = 300000L
    val MaxTopPpm = 200000L
    val MaxRep2Ppm = 100000L
  }

  /** The six Gopher rule flags as PREFIX conjunctions (cᵢ ⇔ the doc passes
    * rules 1..i) — per-row folds over the token array, zero shuffle; shared
    * by [[gopherGate]] and the streaming twin so both aggregate the exact
    * same booleans.
    */
  private[graft] def gopherPrefixes(minTokens: Int, maxTokens: Int,
      minMeanLen: Int, maxMeanLen: Int, minStops: Int, minDistinctPpm: Long,
      maxTopPpm: Long, maxRep2Ppm: Long): Seq[Column] = {
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val sumChars = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stops = size(filter(toks, t => t.isin("the", "a"))).cast("long")
    val nd = size(array_distinct(toks)).cast("long")
    val top = topTokenRun(toks)
    val slots = greatest(n - 1L, lit(1L))
    val rep2 = slots -
      size(graft.plans.native.word_shingles(col("text"), 2)).cast("long")
    val g1 = n >= minTokens && n <= maxTokens
    val g2 = sumChars >= n * minMeanLen && sumChars <= n * maxMeanLen
    val g3 = stops >= minStops
    val g4 = nd * 1000000L >= n * minDistinctPpm
    val g5 = top * 1000000L <= n * maxTopPpm
    val g6 = rep2 * 1000000L <= slots * maxRep2Ppm
    Seq(g1, g2, g3, g4, g5, g6).scanLeft(lit(true))(_ && _).tail
  }

  /** The funnel unpivot shared by [[gopherGate]] and the streaming twin:
    * turn an aggregated row carrying `p0..p6` into the six
    * (rule_id, rule, n_in, n_drop, n_out) rows, keeping `carry` columns.
    */
  private[graft] def gopherFunnelRows(agged: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val stages = GopherRuleNames.zipWithIndex.map { case (nm, i) =>
      s"${i + 1}L, '$nm', p$i, p${i + 1}"
    }
    val unpivot = expr(
      s"stack(${GopherRuleNames.size}, ${stages.mkString(", ")}) " +
        "AS (rule_id, rule, n_in, n_out)")
    agged.select(carry.map(col) :+ unpivot: _*)
      .select(carry.map(col) ++ Seq(col("rule_id"), col("rule"), col("n_in"),
        (col("n_in") - col("n_out")).as("n_drop"), col("n_out")): _*)
  }

  /** Gopher-style quality gate as an ATTRITION FUNNEL (Rae et al. 2021,
    * arXiv:2112.11446 Table A1) — the artifact a corpus build actually
    * publishes: the rules applied in a fixed order, and for each rule how
    * many docs entered, dropped, and survived. Six rules over the Gopher
    * families (thresholds scaled to this corpus' length regime, noted
    * per rule):
    *
    *  1. word count within `[minTokens, maxTokens]` (Gopher: [50, 100k])
    *  2. mean word length within `[3, 10]` chars (Gopher verbatim)
    *  3. at least `minStops` occurrence hits on a tiny required-stopword
    *     list (Gopher: ≥2 of {the, be, to, of, and, that, have, with};
    *     here {the, a} — the fixture vocabulary's function words)
    *  4. distinct/total token ratio ≥ `minDistinctPpm` (the type-token
    *     floor behind Gopher's duplicate-line family)
    *  5. most-frequent-token share ≤ `maxTopPpm` (Gopher: top 2-gram
    *     fraction; unigram form here)
    *  6. repeated-2-gram instances / 2-gram slots ≤ `maxRep2Ppm`
    *
    * Every signal is a per-row fold over the token array (zero shuffle —
    * the gate pipelines with the scan at any corpus size) and every
    * comparison is integer cross-multiplication (no division), so the
    * oracle hash-matches exactly. The funnel itself is ONE aggregate of
    * prefix-conjunction counts unpivoted to six rows — no per-rule pass.
    */
  def gopherGate(docs: DataFrame,
      minTokens: Int = GopherDefaults.MinTokens,
      maxTokens: Int = GopherDefaults.MaxTokens,
      minMeanLen: Int = GopherDefaults.MinMeanLen,
      maxMeanLen: Int = GopherDefaults.MaxMeanLen,
      minStops: Int = GopherDefaults.MinStops,
      minDistinctPpm: Long = GopherDefaults.MinDistinctPpm,
      maxTopPpm: Long = GopherDefaults.MaxTopPpm,
      maxRep2Ppm: Long = GopherDefaults.MaxRep2Ppm): DataFrame = {
    // prefix conjunctions: pᵢ = |docs passing rules 1..i| — one aggregate
    val prefixes = gopherPrefixes(minTokens, maxTokens, minMeanLen,
      maxMeanLen, minStops, minDistinctPpm, maxTopPpm, maxRep2Ppm)
      .zipWithIndex.map { case (c, i) => sum(c.cast("long")).as(s"p${i + 1}") }
    gopherFunnelRows(docs.agg(count(lit(1)).as("p0"), prefixes: _*))
  }

  /** Overflow-free integer square root: `outCol = floor(sqrt(nCol))` for a
    * positive long column. `floor(sqrt(double))` is within ±1 of truth for
    * any int64; the correction step compares via integer DIVISION (`a² ≤ n
    * ⟺ a ≤ n div a` for positive `a`), so it never wraps int64 — exact for
    * every mass up to Long.MaxValue, where a squared-compare form would
    * wrap at isqrt ≈ 3.04e9. Requires `nCol ≥ 1`. Shared between
    * [[temperatureMix]] and PropertySpec's adversarial-mass check so the
    * test exercises THIS production expression, not a re-derivation.
    */
  private[graft] def withIsqrt(df: DataFrame, nCol: String,
      outCol: String): DataFrame =
    df.withColumn("__isqrt_s0",
        floor(sqrt(col(nCol).cast("double"))).cast("long"))
      .withColumn(outCol,
        when(col("__isqrt_s0") > expr(s"$nCol div __isqrt_s0"),
          col("__isqrt_s0") - 1L)
          .when(col("__isqrt_s0") + 1L <= expr(s"$nCol div (__isqrt_s0 + 1)"),
            col("__isqrt_s0") + 1L)
          .otherwise(col("__isqrt_s0")))
      .drop("__isqrt_s0")

  /** Temperature-scaled source mixing (the multilingual/multi-domain
    * sampling rule of Lample & Conneau 2019 §3.1, T = 2): source weights
    * ∝ n_s^(1/T) = isqrt(n_s), a fixed token `budget` allocated across
    * sources by the weights under LARGEST-REMAINDER rounding (Hamilton
    * apportionment: floor shares, then +1 to the `budget − Σ floor` largest
    * remainders, ties by source) — so Σ alloc == budget exactly.
    *
    * Everything is integer-exact: the isqrt is `floor(sqrt(double))` with a
    * ±1 correction step (double sqrt of an int64 is within 1 of truth, the
    * correction lands the true floor in both engines), shares are integer
    * `div`/`%`. Scale shape: ONE map-side-combined groupBy(source); the
    * remainder ranking windows over the |sources|-row aggregate — k-sized
    * by nature (a corpus has dozens of sources), the same bounded-input
    * contract as [[epochAllocation]].
    */
  def temperatureMix(docs: DataFrame, budget: Long = 100000L): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val perSource = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tok"))
    val weighted = withIsqrt(perSource, "n_tok", "w_sqrt")
    val tot = weighted.agg(sum("w_sqrt").as("w_total"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // |sources| rows — bounded single partition
    val wRem = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(desc("rem"), asc("source"))
    weighted.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$budget * w_sqrt div w_total"))
      .withColumn("rem", expr(s"($budget * w_sqrt) % w_total"))
      .withColumn("rnk", row_number().over(wRem))
      .withColumn("short", lit(budget) - sum("base").over(all))
      .select(col("source"), col("n_tok"), col("w_sqrt"),
        expr("w_sqrt * 1000000 div w_total").as("share_ppm"),
        (col("base") + when(col("rnk") <= col("short"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Curriculum bucketing — order docs easy→hard and cut the corpus into
    * `phases` equal-TOKEN training phases (curriculum learning, Bengio et
    * al. 2009, as data pipelines run it: a difficulty score, a total order,
    * contiguous token-budget phases). Difficulty here is the mean corpus
    * DOCUMENT FREQUENCY over the doc's token occurrences (common words →
    * easy), in exact ppm: `mean_df_e6 = 1e6·Σ_occ df(tok) div n_tok`.
    * int64 bound: the scaled numerator stays exact while 1e6·n_tok·max_df
    * < 2⁶³ (e.g. 10k-token docs against corpora under ~9×10⁸ docs); past
    * that, widen the Σ to DECIMAL(38,0) the way q_moments does.
    *
    * Scale shape: the classic two-shuffle tf/df pair (map-side combined;
    * the (doc,token) counts persist once and feed both the df rollup and
    * the score join — the one-explode rule), then [[Ranking.globalRank]]'s
    * range-partitioned total order, and the phase cut via a TWO-LEVEL
    * prefix sum over rank-range buckets (collected bucket sums are
    * `nBuckets` rows; the per-bucket window is partition-local) — no
    * single-partition window anywhere. `phase = (cum_prev · phases) div
    * total_tokens`: a doc straddling a boundary lands in the earlier phase,
    * like [[packBatches]]' contiguous fill.
    */
  def curriculum(docs: DataFrame, phases: Int = 4,
      nBuckets: Int = 32): DataFrame = {
    require(phases >= 1 && nBuckets >= 1,
      s"bad phases=$phases nBuckets=$nBuckets")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .persist()
    val dfr = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfr, "token")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tok"), sum(col("tf") * col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_tok"),
        expr("1000000 * sum_df div n_tok").as("mean_df_e6"))
    val (ranked, nRows) = Ranking.globalRankAndCount(scored,
      Seq(desc("mean_df_e6"), col("doc_id")), "rnk")
    val width = math.max(1L, nRows / nBuckets + 1)
    // persisted: the doc-level ranked relation feeds both the bucket-sum
    // collect and the final projection (aggregated, never corpus text)
    val bucketed = ranked
      .withColumn("b", ((col("rnk") - 1L) / width).cast("int")).persist()
    val sums = bucketed.groupBy("b").agg(sum("n_tok").as("bs"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = math.max(1L, sums.map(_._2).sum)
    val offsets = sums.map(_._1)
      .zip(sums.map(_._2).scanLeft(0L)(_ + _)).toMap
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy("rnk")
      .rowsBetween(Long.MinValue, 0)
    bucketed
      .withColumn("cum",
        element_at(typedlit(offsets), col("b")) + sum("n_tok").over(localW))
      .select(col("doc_id"), col("mean_df_e6"), col("n_tok"), col("rnk"),
        expr(s"(cum - n_tok) * $phases div $total").as("phase"))
  }
}
