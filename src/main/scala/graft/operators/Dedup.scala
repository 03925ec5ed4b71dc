package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._

/** Document deduplication for large-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Everything is Catalyst-native (built-ins + HOF lambdas, no UDF closures).
  *
  * ORACLE PARITY: similarity pipelines need a token hash computable
  * identically in Spark and the DuckDB oracle, so the hash here is a plain
  * polynomial left-fold over character codepoints (`h = (h*31 + code) % M`)
  * — arithmetic both engines evaluate bit-identically. In a production
  * deployment swap [[tokenId]] for `xxhash64(t)` (codegen'd, 64-bit, faster,
  * collision-safer); every downstream operator only sees long ids.
  *
  * SCALE: blocking keys (lang, LSH bands, SimHash prefixes) turn the O(n²)
  * pair space into shuffle-partitioned equi-joins — the only joins here are
  * hash joins on block keys, never a global cross join. At 100 TB the same
  * plans hold: band tables are (docs × bands) rows, self-joined on band key.
  */
object Dedup {

  // ------------------------------------------------------------ tokenizing

  /** Whitespace tokens (documents.text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Oracle-parity token id: polynomial fold over codepoints, mod 1e6+3.
    * DuckDB mirror: `list_reduce(list_prepend(0, list_transform(
    * string_split(t,''), c -> ascii(c))), (h,c) -> (h*31+c) % 1000003)`.
    */
  def tokenId(t: Column): Column =
    aggregate(transform(split(t, ""), ch => ascii(ch)),
      lit(0L), (h, c) => (h * 31 + c) % 1000003)

  /** Distinct word n-gram shingles as strings.
    *
    * IMPORTANT: pass a MATERIALIZED token column (see [[shingled]]), not
    * `tokens(col("text"))` directly — a raw split expression captured in the
    * slice lambda is re-evaluated per array element (O(tokens²) per doc).
    */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      k => concat_ws(" ", slice(toks, k, lit(n)))))

  /** (doc_id, lang, sh) via the native [[graft.plans.ShingleOps]] kernel —
    * one straight-line pass per row instead of the interpreted HOF chain
    * (value-identical; parity pinned in PlansSpec). The HOF forms above stay
    * as the executable spec the native expressions are tested against.
    */
  def shingled(docs: DataFrame, n: Int): DataFrame =
    // Par.widen: the shingle kernel (tokenize + n-gram assembly per row)
    // is the compute-dense head of every inverted-index path; a
    // byte-starved scan serializes it (r18). Identity at real scale.
    Par.widenBy(docs, col("doc_id")).select(col("doc_id"), col("lang"),
      graft.plans.native.word_shingles(col("text"), n).as("sh"))

  // ---------------------------------------------------------- exact dedup

  /** Exact dedup: one row per distinct text — keeper id (min) + duplicate
    * count. At 100 TB, group by `xxhash64(text)` instead of the full text to
    * keep shuffle rows narrow ([[exactByHash]]).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
      .select("doc_id", "n")

  /** Scale variant: narrow shuffle via 64-bit content hash. */
  def exactByHash(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
      .select("doc_id", "n")

  /** Normalize-then-exact dedup — the standard "fuzzy-exact" pass between
    * exact and MinHash: case-fold, strip everything but letters/digits/
    * spaces (unicode classes, so CJK survives), collapse runs of spaces,
    * trim, then group as in [[exact]]. Catches the trivial-variant
    * duplicates (case, punctuation, whitespace) that exact misses at zero
    * extra shuffle cost — same one groupBy, keys normalized per-row. The
    * regexes are alternation-free so Java (Spark) and RE2 (oracle) agree.
    */
  def exactNormalized(docs: DataFrame): DataFrame =
    docs.groupBy(normalizedKey.as("k"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
      .select("doc_id", "n")

  private def normalizedKey: org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^\\p{L}\\p{N} ]", ""), " +", " "))

  /** Scale twin of [[exactNormalized]]: shuffle the 64-bit hash of the
    * normalized key, not the key itself — same narrow-shuffle trade as
    * [[exactByHash]]. DedupSpec pins group-structure agreement.
    */
  def exactNormalizedByHash(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(normalizedKey).as("h"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
      .select("doc_id", "n")

  /** Canonical URL form for [[urlDedup]] — the CCNet/RefinedWeb first-stage
    * key: lowercase, strip scheme, strip a leading `www.`, strip query
    * string and fragment, strip one trailing slash. Applied in exactly this
    * order (query before trailing slash, so `/p/1/?x=y` → `/p/1`); the
    * DuckDB oracle applies the identical four anchored regexes.
    */
  def canonicalUrl(url: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(url), "^https?://", ""), "^www\\.", ""), "[?#].*$", ""), "/$", "")

  /** URL-level dedup — the cheapest and first dedup pass of a web-crawl
    * pipeline (before any content hashing): group by [[canonicalUrl]], keep
    * the smallest doc_id per canonical page, count the crawl variants
    * (scheme, `www.`, case, tracking params, trailing slash) that collapsed
    * onto it. One hash-shuffle on the canonical string; at 100 TB shuffle
    * `xxhash64(canon)` instead, as [[exactByHash]] does for content.
    */
  def urlDedup(urls: DataFrame): DataFrame =
    urls.select(col("doc_id"), canonicalUrl(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).cast("long").as("n_dups"),
        min("doc_id").cast("long").as("keep_id"))

  // --------------------------------------------------- n-gram Jaccard dedup

  /** Near-dup pairs by exact n-gram Jaccard within a blocking key (lang):
    * J(a,b) = |Sa ∩ Sb| / |Sa ∪ Sb| ≥ thrNum/thrDen (thrNum must be ≥ 1).
    * The threshold compare stays in exact integer domain; the reported `jac`
    * is an int/int divide — bit-identical across engines.
    *
    * Computed via the INVERTED-INDEX formulation: explode to (shingle, doc)
    * postings, self equi-join on (lang, shingle), count shared shingles per
    * pair. Candidate work is Σ_shingle df² — pairs sharing no shingle are
    * never materialized — instead of |block|² set intersections. (A pair
    * with zero shared shingles has J = 0 < thrNum/thrDen, so the outputs are
    * identical to the naive all-pairs form.) At 100 TB add a stop-shingle
    * df cap only if skew demands it — it changes semantics.
    */
  /** Blocked EDIT-DISTANCE record linkage: for every record, its nearest
    * other record by levenshtein over the name, within a candidate block.
    * Candidates come from an EQUI-join on the blocking key (the exact
    * first-`blockTokens`-words prefix) — never an all-pairs comparison —
    * refined by a cheap length band before the O(len²) distance runs, and
    * Spark's thresholded `levenshtein(l, r, max)` early-exits rows that
    * can't qualify. Because block partners share the prefix VERBATIM, the
    * distance runs on the post-prefix tails only (lev(P·x, P·y) = lev(x,
    * y)) — exactly the full-name value at a fraction of the DP cost.
    * Per-left winner = `row_number` over (distance, key) — deterministic.
    *
    * 100 TB notes: `blockTokens` is the recall/cost dial — measured on the
    * fixture, widening 1 → 2 tokens cut candidate pairs 8× with ZERO
    * change to any record's best match (close pairs differ by within-word
    * edits past the prefix); a skewed-hot block calls for one more token
    * or a length bucket in the JOIN key. This is the classic
    * dedupe/record-linkage blocking design (Fellegi-Sunter pipelines), the
    * string-space sibling of the minhash band join.
    */
  def fuzzyNearestName(recs: DataFrame, key: String, name: String,
      maxDist: Int = 5, lenBand: Int = 4, blockTokens: Int = 1): DataFrame = {
    // the block key is the exact first-`blockTokens`-words prefix; records
    // with fewer words than the block key produce no pairs (null key)
    val toks = split(col(name), " ")
    val pfx = concat_ws(" ",
      (0 until blockTokens).map(i => toks.getItem(i)): _*)
    val d = Par.widen(recs).select(col(key).as("k"), col(name).as("nm"),
      pfx.as("blk"),
      // identical-prefix invariance: lev(P·x, P·y) = lev(x, y), so the
      // refine compares only the post-prefix tails — the DP cost drops
      // quadratically with the shared prefix, values EXACTLY unchanged
      col(name).substr(length(pfx) + lit(1), length(col(name))).as("tail"),
      length(col(name)).as("ln"))
    val a = d.select(col("k").as("a"), col("blk"), col("tail").as("ta"),
      col("ln").as("la"))
    val b = d.select(col("k").as("b"), col("blk"), col("tail").as("tb"),
      col("ln").as("lb"))
    val cand = a.join(b, Seq("blk"))
      .filter(col("a") =!= col("b") && abs(col("la") - col("lb")) <= lenBand)
      .withColumn("lv", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("lv").between(0, maxDist))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("lv"), col("b"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("a").as(key), col("b").as("match_key"),
        col("lv").cast("long").as("dist"))
  }

  def ngramJaccard(docs: DataFrame, n: Int, thrNum: Int, thrDen: Int,
      dfCap: Int = 0): DataFrame = {
    require(thrNum >= 1, "inverted-index form requires a positive threshold")
    // persisted: both self-join sides (and the df-cap's hot-set pass) read
    // the postings — materialize the shingle explode once instead of
    // re-running the kernel per consumer
    val ex = ngramPostings(docs, n, dfCap).persist()
    val a = ex.select(col("doc_id").as("a_id"), col("sz").as("sza"),
      col("lang"), col("s"))
    val b = ex.select(col("doc_id").as("b_id"), col("sz").as("szb"),
      col("lang").as("lang_b"), col("s").as("s_b"))
    a.join(b, col("lang") === col("lang_b") && col("s") === col("s_b") &&
        col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "sza", "szb")
      .agg(count(lit(1)).cast("int").as("inter"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * thrDen >= col("uni") * thrNum)
      .select(col("a_id"), col("b_id"), (col("inter") / col("uni")).as("jac"))
  }

  /** Asymmetric containment near-dup pairs: C(a→b) = |Sa ∩ Sb| / |Sa| ≥
    * thrNum/thrDen, reported per direction (both orientations of a pair can
    * qualify). Jaccard's union denominator hides a small document copied
    * wholesale into a much larger one (J ≈ |Sa|/|Sb| → 0 as b grows);
    * containment normalizes by the contained side only — the quote/excerpt
    * detector of a curation pipeline. Same inverted-index equi-join shape as
    * [[ngramJaccard]] (candidate work Σ_shingle df², lang-blocked, optional
    * [[ngramPostings]] df cap), so the 100 TB posture is identical: pairs
    * sharing no shingle are never materialized, and a zero-overlap pair
    * cannot pass the positive threshold anyway.
    */
  def containment(docs: DataFrame, n: Int, thrNum: Int, thrDen: Int,
      dfCap: Int = 0): DataFrame = {
    require(thrNum >= 1, "inverted-index form requires a positive threshold")
    val ex = ngramPostings(docs, n, dfCap)
    val a = ex.select(col("doc_id").as("a_id"), col("sz").as("sza"),
      col("lang"), col("s"))
    val b = ex.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
      col("s").as("s_b"))
    a.join(b, col("lang") === col("lang_b") && col("s") === col("s_b") &&
        col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id", "sza")
      .agg(count(lit(1)).cast("int").as("inter"))
      .filter(col("inter") * thrDen >= col("sza") * thrNum)
      .select(col("a_id"), col("b_id"), (col("inter") / col("sza")).as("cont"))
  }

  // ------------------------------------------- duplicated-substring spans

  /** Positional gram postings (doc_id, pos, gram): every n-gram occurrence
    * with its 1-based start token position. Built by the codegen'd
    * [[graft.plans.ShingleExpressions]] `word_grams` kernel (one
    * straight-line pass per row — no HOF slice lambda, no token-level window
    * shuffle); a doc shorter than n tokens contributes nothing. Joining on
    * the gram STRING keeps the pipeline collision-free; at 100 TB shuffle
    * `xxhash64(gram)` instead to narrow the exchange (collisions only ever
    * ADD span coverage, they cannot drop a true duplicate).
    */
  private def gramPostings(docs: DataFrame, n: Int): DataFrame =
    Par.widenBy(docs, col("doc_id")).select(col("doc_id"), // gram kernel + posexplode (r18)
        posexplode(graft.plans.native.word_grams(col("text"), n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))

  /** Exact duplicated-substring spans (the token-granular form of
    * suffix-array training-data dedup — Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022): for each document, the
    * maximal token ranges covered by n-grams that also occur in at least
    * `minDocs` OTHER distinct documents. A shared run of m ≥ n tokens shows
    * up as m−n+1 overlapping duplicated grams, which merge back into ONE
    * [start, end] span via gaps-and-islands; the reported span boundaries
    * are exactly the duplicated region's.
    *
    * Distributed shape — everything is linear in the posting count, never
    * pairwise: one groupBy(gram) for the document frequencies, one hash
    * join back to the postings, one per-doc window for the merge. This is
    * why the inverted-index form (and not an actual suffix array, which is
    * sequential) is the 100 TB standard.
    *
    * Output: (doc_id, span_start, span_end, span_toks), token positions
    * 1-based inclusive.
    */
  def duplicatedSpans(docs: DataFrame, n: Int, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // deliberately NOT persisted although both the rollup and the hit join
    // read it: the positional postings are CORPUS-scale (one row per token
    // position), and caching that measured neutral-to-worse at sf0.1 —
    // the codegen'd word_grams re-explode is cheaper than materializing
    // the postings (same call as the funnel family; contrast ngramJaccard,
    // whose persisted relation is the df-capped DISTINCT-shingle postings)
    val g = gramPostings(docs, n)
    val dup = g.groupBy("gram")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("gram")
    val hits = g.join(dup, "gram")
      .select(col("doc_id"), col("pos"), (col("pos") + (n - 1)).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevMax = max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(col("pos") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L)
    hits.withColumn("grp", sum(brk).over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_toks"))
  }

  /** Per-document duplication profile over [[duplicatedSpans]]: span count,
    * duplicated token total, and the duplicated share in exact ppm — the
    * number a curation pipeline thresholds ("drop docs more than X%
    * copied"). Inner-joins back to the per-doc token counts, so only
    * documents with at least one span appear (their complement is trivially
    * dup_ppm = 0).
    */
  def spanStats(docs: DataFrame, n: Int, minDocs: Int = 2): DataFrame = {
    val nt = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    duplicatedSpans(docs, n, minDocs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_toks").as("dup_tokens"))
      .join(nt, "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
  }

  /** The corpus REWRITE over [[duplicatedSpans]] (the "remove duplicated
    * substrings" step of Lee et al. 2022, aggressive every-occurrence form):
    * drop each token position covered by a duplicated span and stitch the
    * survivors back together in order. Docs with no spans pass through
    * verbatim; a fully-duplicated doc yields an empty string.
    *
    * Distributed shape: the covered-position explode is bounded by the
    * TOTAL duplicated token count (not corpus size), the kill join is a
    * (doc_id, pos) equi-join, and the stitch is one per-doc aggregation of
    * (pos, token) structs — `array_sort` on the collected structs keeps the
    * rebuild deterministic without a per-token window.
    */
  def removeSpans(docs: DataFrame, n: Int, minDocs: Int = 2): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("token"))
    val covered = duplicatedSpans(docs, n, minDocs)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val stitched = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("token")))).as("kt"))
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(kt, x -> x.token)")).as("clean_text"),
        size(col("kt")).cast("long").as("kept_tokens"))
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(stitched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
    * algorithm): hash every k-token gram, slide a w-gram window over the
    * hash sequence and keep each window's MINIMUM. The selected
    * fingerprints are position-robust — any shared token run of length
    * ≥ w + k − 1 is GUARANTEED to contribute at least one common
    * fingerprint — while storing only ~2/(w+1) of the gram positions, the
    * storage/recall trade the paper proves tight.
    *
    * Oracle parity: the gram hash is [[tokenId]]'s polynomial codepoint
    * fold over the gram string (mod 1e6+3), and the window minimum is
    * taken over the ENCODED value `hash·2²⁴ + pos` — a single integer
    * min, so the (hash, then leftmost position) tie-break replays exactly
    * in ANSI SQL (MOSS's rightmost-tie variant differs only in
    * fingerprint count, not in the coverage guarantee). Windows are
    * full-width only (`start ≤ grams − w + 1`, minimum one window per
    * doc), and selected positions dedupe — the paper's fingerprint set.
    *
    * Output: (doc_id, fp, pos) — fp the gram hash, pos its 1-based token
    * position. Scale shape: one gram explode + one PER-DOC window
    * (partitioned by doc_id, never single-partition) + a distinct; no
    * pairwise work here at all.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"bad k=$k w=$w")
    val enc = 1L << 24 // pos < 2^24; tokenId < 1e6+3 → encoded < 2^45
    val g = gramPostings(docs, k)
      .select(col("doc_id"), col("pos"),
        (tokenId(col("gram")) * enc + col("pos")).as("e"))
    val perDoc = Window.partitionBy("doc_id")
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    g.withColumn("m", min("e").over(win))
      .withColumn("gcnt", count(lit(1)).over(perDoc))
      .filter(col("pos") <= greatest(col("gcnt") - (w - 1), lit(1L)))
      .select(col("doc_id"), expr(s"m div $enc").as("fp"),
        (col("m") % enc).as("pos"))
      .distinct()
  }

  /** Winnow candidate pairs: documents sharing ≥ `minShared` DISTINCT
    * winnow fingerprints, with the shared count — the plagiarism-detector
    * form of near-dup candidate generation, catching long shared passages
    * that whole-doc Jaccard dilutes away. Inverted-index equi-join on the
    * fingerprint value (the [[ngramJaccard]] shape: candidate work is
    * Σ_fp df², never all-pairs), over an index ~2/(w+1) the size of the
    * full positional postings; `dfCap > 0` drops boilerplate fingerprints
    * exactly like [[ngramPostings]]' stop-shingles (approximate: a capped
    * fingerprint can only reduce `n_shared`).
    */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      minShared: Int = 2, dfCap: Int = 0): DataFrame = {
    require(minShared >= 1, "inverted-index form requires a positive threshold")
    val fp0 = winnowFingerprints(docs, k, w).select("doc_id", "fp").distinct()
    val fp = (if (dfCap <= 0) fp0 else {
      val hot = fp0.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select(col("fp").as("fp_h"))
      // hot set is tiny by construction — broadcast anti join
      fp0.join(broadcast(hot), col("fp") === col("fp_h"), "left_anti")
    }).persist()
    val a = fp.select(col("doc_id").as("a_id"), col("fp"))
    val b = fp.select(col("doc_id").as("b_id"), col("fp").as("fp_b"))
    a.join(b, col("fp") === col("fp_b") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a_id"), col("b_id"), col("n_shared"))
  }

  /** Posting lists (doc_id, lang, sz, s) behind [[ngramJaccard]], with the
    * SKEW GUARD: when `dfCap > 0`, shingles whose document frequency within
    * the lang block exceeds the cap ("stop-shingles" — boilerplate headers,
    * license blurbs) are dropped from the postings.
    *
    * Why it exists: candidate work in the inverted-index join is Σ_shingle
    * df². One natural-data boilerplate shingle with df = 10⁶ creates 10¹²
    * join rows ON ONE KEY — a skewed partition plus a quadratic blowup that
    * no AQE setting can save. Capping bounds every shingle's contribution to
    * ≤ dfCap² candidate rows.
    *
    * Semantics: APPROXIMATE when capping fires — a dropped shingle can only
    * reduce `inter` (union sizes `sz` still count every shingle), so capped
    * Jaccard underestimates and pairs whose overlap is mostly boilerplate
    * are (intentionally) missed. `dfCap <= 0` is the exact form.
    */
  def ngramPostings(docs: DataFrame, n: Int, dfCap: Int = 0): DataFrame = {
    val t = shingled(docs, n)
    val ex = t.select(col("doc_id"), col("lang"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    if (dfCap <= 0) ex
    else {
      val hot = ex.groupBy("lang", "s").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .select(col("lang").as("lang_h"), col("s").as("s_h"))
      // hot set is tiny by construction (only over-represented shingles) —
      // broadcast anti join, no extra shuffle of the postings
      ex.join(broadcast(hot),
        col("lang") === col("lang_h") && col("s") === col("s_h"), "left_anti")
    }
  }

  // --------------------------------------------------------- MinHash + LSH

  /** Universal-ish hash family over shingle ids: h_i(x) = (a_i·x + b_i) mod P.
    * Deterministic coefficients so the DuckDB oracle can mirror them.
    *
    * The multipliers are ~2³⁰-scale so `a_i·x` genuinely WRAPS mod P at the
    * shingle-id range (ids < 1000003). The original tiny family (a_i =
    * 2i+3 ≤ 33) never reached P at that range, so every h_i was MONOTONE in
    * x and all hashes picked the same min shingle id — signatures were
    * affine in the doc's min id, est_jac collapsed to a 0/1 min-id-equality
    * indicator, every LSH banding produced the IDENTICAL candidate set
    * (measured: 3186 pairs at sf0.1 for every width), and the sign-LSH
    * hyperplanes drawn from the family's parities were all ± one
    * alternating vector. The same statistical-degeneracy class as the gap
    * statistic's shared-multiplier reference draws, fixed the same way:
    * spread the multipliers. `a_i·x + b_i < 2⁶²` keeps the long math exact
    * in both engines (no Java wrap-around before the mod).
    */
  val MinhashP = 2147483647L
  def mhA(i: Int): Long = (2654435761L * (i + 1)) % MinhashP
  def mhB(i: Int): Long = (1779033703L * (i + 1) + 104729L) % MinhashP

  /** Per-doc MinHash signature columns s0..s{numHashes-1} over distinct
    * n-gram shingle ids. All mins come from ONE pass over the id array (the
    * fused [[graft.plans.MinhashSigs]] kernel — bit-identical to the
    * per-hash `array_min(transform(…))` composition, pinned in PlansSpec).
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame = {
    val sigs = (0 until numHashes).map { i =>
      element_at(col("sigs"), i + 1).as(s"s$i")
    }
    Par.widenBy(docs, col("doc_id")) // numHashes × shingles of hashing per row (r18)
      .select(col("doc_id"), graft.plans.native.minhash_sigs(
        graft.plans.native.shingle_ids(col("text"), n), numHashes).as("sigs"))
      .select((col("doc_id") +: sigs): _*)
  }

  /** MinHash LSH near-dup candidates: signatures → `bands` band keys → self
    * equi-join per band (THE scale trick: no cross join, just a shuffle on
    * band key) → distinct pairs → estimated Jaccard = matching signature
    * fraction, kept when ≥ thrNum/thrDen (integer-domain compare).
    */
  def minhashLSH(docs: DataFrame, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands); " +
        "trailing signatures would silently never participate in banding")
    val rows = numHashes / bands
    val sig = minhashSignatures(docs, n, numHashes)
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    // persisted: one small row per doc, consumed by the band explode AND
    // both verify join-backs — without the cache the corpus-wide shingle +
    // MinHash signature kernel runs three times
    val withArr = sig.select(col("doc_id"), sigArr.as("sig")).persist()
    val bandEntries = array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(",", (bnd * rows until (bnd + 1) * rows).map(i =>
          element_at(col("sig"), i + 1)): _*).as("key"))
    }: _*)
    val banded = withArr.select(col("doc_id"), explode(bandEntries).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val sa = withArr.select(col("doc_id").as("a_id"), col("sig").as("siga"))
    val sb = withArr.select(col("doc_id").as("b_id"), col("sig").as("sigb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("matches",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("matches") * thrDen >= lit(numHashes) * thrNum)
      .select(col("a_id"), col("b_id"), (col("matches") / lit(numHashes)).as("est_jac"))
  }

  /** Banded MinHash signatures: one row per (doc, band) carrying the band's
    * concatenated row-signature key AND the doc's full signature array — the
    * storage unit of the persisted incremental-dedup index (the sig rides
    * along so candidate verification needs no second corpus join).
    */
  def bandedSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    bandSigs(minhashSignatures(docs, n, numHashes)
      .select(col("doc_id"), sigArr.as("sig")), numHashes, bands)
  }

  /** The banding step of [[bandedSignatures]] over an ALREADY-computed
    * `(doc_id, sig)` relation — so a parameter sweep ([[lshTuning]]) pays
    * the signature scan once and re-bands it per configuration.
    */
  private def bandSigs(withArr: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rows = numHashes / bands
    val bandEntries = array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(",", (bnd * rows until (bnd + 1) * rows).map(i =>
          element_at(col("sig"), i + 1)): _*).as("key"))
    }: _*)
    withArr.select(col("doc_id"), col("sig"), explode(bandEntries).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"),
        col("sig"))
  }

  /** LSH tuning sweep: for each banding of the SAME `numHashes` MinHash
    * budget, the candidate-pair count, the verified count, and the
    * resulting precision — the table that picks (bands, rows) for a
    * corpus before committing to an index build. More bands → shorter
    * band keys → higher recall AND more false candidates; this measures
    * the actual tradeoff on the data instead of trusting the
    * `1-(1-s^r)^b` curve's assumptions. Each config is one banded
    * self-join + one verify pass over its candidates (the minhashLSH
    * shapes), emitting a single summary row.
    */
  def lshTuning(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      bandsList: Seq[Int] = Seq(2, 4, 8),
      thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    // ONE signature scan serves every banding (signatures are
    // banding-independent): cache() so the |bandsList|·2 downstream
    // consumers read the materialized rows instead of re-shingling the
    // corpus per configuration (measured equal at bench scale within the
    // sandbox noise band; at corpus scale the saved scans dominate).
    // Lifecycle is caller-owned, the connectedComponents convention.
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    val sigs = graft.TransientCaches.register(
      minhashSignatures(docs, n, numHashes)
        .select(col("doc_id"), sigArr.as("sig"))
        .cache())
    bandsList.map { bands =>
      val bs = bandSigs(sigs, numHashes, bands)
      val x = bs.select(col("band"), col("key"),
        col("doc_id").as("a_id"), col("sig").as("siga"))
      val y = bs.select(col("band"), col("key"),
        col("doc_id").as("b_id"), col("sig").as("sigb"))
      val cand = x.join(y, Seq("band", "key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id", "siga", "sigb")
        .dropDuplicates("a_id", "b_id")
      cand
        .withColumn("matches",
          aggregate(zip_with(col("siga"), col("sigb"),
            (p, q) => when(p === q, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("matches") * thrDen >= numHashes * thrNum, 1L)
            .otherwise(0L)).as("n_verified"))
        .select(lit(bands.toLong).as("bands"),
          lit((numHashes / bands).toLong).as("rows_per_band"),
          col("n_candidates"), coalesce(col("n_verified"), lit(0L)).as("n_verified"),
          expr("CASE WHEN n_candidates > 0 " +
            "THEN (coalesce(n_verified, CAST(0 AS BIGINT)) * 1000000) div n_candidates " +
            "ELSE CAST(0 AS BIGINT) END").as("precision_ppm"))
    }.reduce(_ unionByName _)
  }

  /** b-bit minwise sweep (Li & König 2010): keep only `b` bits of each
    * MinHash value in the banding index and measure what the storage cut
    * costs. A b-bit signature is `b/32` the bytes of the full-width one —
    * the difference between an index that fits in memory and one that
    * doesn't at corpus scale — at the price of extra truncation-collision
    * candidates that verification must then reject. One summary row per
    * `b`: candidate volume, full-signature-verified count, and precision
    * in exact ppm (the [[lshTuning]] shape swept over bit width instead of
    * banding; `b = 31` stores the RAW value — signatures are mod 2³¹−1 —
    * and is the full-width baseline row). Verification always compares
    * FULL signatures — the b-bit cut applies to the banding index only,
    * which is exactly how a deployment stores it.
    *
    * The kept bits come from a 32-bit Fibonacci finalizer
    * (`(v·2654435761 mod 2³²) >> (32−b)`), not the raw low bits: the paper
    * keeps b bits of a WELL-MIXED hash, and this repo's affine family
    * `(aᵢ·x + bᵢ) mod P` never wraps at the shingle-id range, so every
    * signature value is affine in the doc's min shingle id `m` — raw low
    * bits are then functions of `m mod 2ᵇ` and the whole b=4 key space
    * collapses to 16 keys (measured: an n²/16-pair join at sf0.1). High
    * bits of the mixed value keep the prefix property (fewer bits only
    * MERGE keys), so candidate volume stays monotone in b.
    *
    * Scale shape: one signature scan serves every width (cached, the
    * [[lshTuning]] lifecycle convention); each width is a band-key
    * equi-join + one verify pass — never an all-pairs form.
    */
  def bbitSweep(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, bitsList: Seq[Int] = Seq(4, 8, 16, 31),
      thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    require(bitsList.forall(b => b >= 1 && b <= 31),
      s"bit widths must be in [1, 31] (31 = raw full width): $bitsList")
    val rows = numHashes / bands
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    val sigs = graft.TransientCaches.register(
      minhashSignatures(docs, n, numHashes)
        .select(col("doc_id"), sigArr.as("sig"))
        .cache())
    bitsList.map { b =>
      def kept(i: Int) = {
        val v = element_at(col("sig"), i + 1)
        if (b >= 31) v
        else shiftright((v * lit(2654435761L)).bitwiseAND(lit(0xFFFFFFFFL)),
          32 - b)
      }
      val bandEntries = array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          concat_ws(",", (bnd * rows until (bnd + 1) * rows)
            .map(kept): _*).as("key"))
      }: _*)
      val bs = sigs.select(col("doc_id"), col("sig"),
          explode(bandEntries).as("b"))
        .select(col("doc_id"), col("b.band").as("band"),
          col("b.key").as("key"), col("sig"))
      val x = bs.select(col("band"), col("key"),
        col("doc_id").as("a_id"), col("sig").as("siga"))
      val y = bs.select(col("band"), col("key"),
        col("doc_id").as("b_id"), col("sig").as("sigb"))
      val cand = x.join(y, Seq("band", "key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id", "siga", "sigb")
        .dropDuplicates("a_id", "b_id")
      cand
        .withColumn("matches",
          aggregate(zip_with(col("siga"), col("sigb"),
            (p, q) => when(p === q, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("matches") * thrDen >= numHashes * thrNum, 1L)
            .otherwise(0L)).as("n_verified"))
        .select(lit(b.toLong).as("b_bits"),
          col("n_candidates"),
          coalesce(col("n_verified"), lit(0L)).as("n_verified"),
          expr("CASE WHEN n_candidates > 0 " +
            "THEN (coalesce(n_verified, CAST(0 AS BIGINT)) * 1000000) div n_candidates " +
            "ELSE CAST(0 AS BIGINT) END").as("precision_ppm"))
    }.reduce(_ unionByName _)
  }

  /** MinHash estimator CALIBRATION — matches/numHashes is only an unbiased
    * Jaccard estimate if the hash family actually permutes; this measures
    * it on the data instead of assuming it: for every banded candidate
    * pair, the TRUE shingle Jaccard (exact ppm) grouped by the matching-
    * signature count. A healthy family shows avg_true_ppm rising ~linearly
    * with matches (matches = 16 → near 10⁶); the degenerate pre-fix family
    * put every candidate at matches ∈ {0, 16} regardless of true overlap.
    * One row per observed matches value: pair count, mean/min/max true
    * Jaccard ppm (integer-exact: per-pair `inter·10⁶ div union`, mean as
    * `Σ div n`).
    *
    * Scale shape: candidates from the band equi-join (never all-pairs);
    * the truth join fetches two bounded id arrays per CANDIDATE pair via
    * doc_id equi-joins — truth is priced only on the candidate set, the
    * lshRecall discipline.
    */
  def minhashCalibration(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val bs = bandedSignatures(docs, n, numHashes, bands)
    val x = bs.select(col("band"), col("key"),
      col("doc_id").as("a_id"), col("sig").as("siga"))
    val y = bs.select(col("band"), col("key"),
      col("doc_id").as("b_id"), col("sig").as("sigb"))
    val cand = x.join(y, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "siga", "sigb")
      .dropDuplicates("a_id", "b_id")
      .withColumn("matches",
        aggregate(zip_with(col("siga"), col("sigb"),
          (p, q) => when(p === q, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("long"))
      .select("a_id", "b_id", "matches")
    val ids = docs.select(col("doc_id"),
      graft.plans.native.shingle_ids(col("text"), n).as("ids"))
    val truth = cand
      .join(ids.select(col("doc_id").as("a_id"), col("ids").as("ia")), "a_id")
      .join(ids.select(col("doc_id").as("b_id"), col("ids").as("ib")), "b_id")
      .withColumn("inter", size(array_intersect(col("ia"), col("ib"))).cast("long"))
      .withColumn("uni",
        size(col("ia")).cast("long") + size(col("ib")) - col("inter"))
      // two sub-n-token docs both shingle to empty id arrays, band together
      // on all-null keys, and yield uni = 0 — Spark would emit a NULL ppm
      // where DuckDB's `//` raises Division by zero. Degenerate pairs carry
      // no calibration signal; drop them identically on both sides (the
      // oracle's pp CTE mirrors this filter).
      .filter(col("uni") > 0)
      .withColumn("true_ppm", expr("inter * 1000000 div uni"))
    truth.groupBy("matches")
      .agg(count(lit(1)).as("n_pairs"), sum("true_ppm").as("s"),
        min("true_ppm").as("min_true_ppm"), max("true_ppm").as("max_true_ppm"))
      .select(col("matches"), col("n_pairs"),
        expr("s div n_pairs").as("avg_true_ppm"),
        col("min_true_ppm"), col("max_true_ppm"))
  }

  /** Measured RECALL of the MinHash LSH blocking against the exact n-gram
    * Jaccard ground truth — the other half of [[lshTuning]]'s
    * precision/volume sweep, and the number that actually licenses
    * replacing the exact O(pairs) pass with the banded index: of the pairs
    * the exact threshold accepts, how many does the LSH candidate stage
    * even SURFACE (missed candidates are unrecoverable — verification
    * can't resurrect them). One summary row in exact ppm; the exact side
    * is the measurement baseline (the sim_recall discipline), the
    * candidate side is the production equi-join.
    */
  def lshRecall(docs: DataFrame, n: Int = 3, thrNum: Int = 1, thrDen: Int = 5,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val truth = ngramJaccard(docs, n, thrNum, thrDen).select("a_id", "b_id")
    val bs = bandedSignatures(docs, n, numHashes, bands)
    val x = bs.select(col("band"), col("key"), col("doc_id").as("a_id"))
    val y = bs.select(col("band"), col("key"), col("doc_id").as("b_id"))
    val cand = x.join(y, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").dropDuplicates()
    truth.join(cand.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        expr("CASE WHEN n_truth > 0 THEN n_hit * 1000000 div n_truth " +
          "ELSE CAST(0 AS BIGINT) END").as("recall_ppm"))
  }

  /** Incremental (delta-vs-corpus) near-dup detection — the daily-crawl
    * pattern: the corpus's banded signatures are PERSISTED once (bucketed on
    * the band key), and each new batch computes signatures only for its own
    * rows, then equi-joins its band keys against the index plus itself. The
    * corpus text is never re-read and — because the index arrives
    * pre-bucketed — never re-shuffled; per-delta cost is independent of
    * corpus size up to the candidate fan-out.
    *
    * A delta doc's partners = index docs sharing a band key, plus EARLIER
    * delta docs (doc_id <), verified at ≥ thrNum/thrDen matching signatures.
    * One row per delta doc: min verified partner (null ⇒ genuinely new) and
    * the verified-partner count.
    */
  def incrementalDedup(delta: DataFrame, index: DataFrame, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    // persisted: delta-sized by contract, consumed three times (probe vs
    // index + both sides of the intra-delta self-join) — without the cache
    // the shingle+MinHash signature fold runs three times over the delta
    val db = bandedSignatures(delta, n, numHashes, bands).persist()
    def partners(p: DataFrame, extra: Column) =
      db.alias("d").join(p.alias("p"),
          col("d.band") === col("p.band") && col("d.key") === col("p.key") &&
            extra)
        .select(col("d.doc_id").as("doc_id"), col("p.doc_id").as("p_id"),
          col("d.sig").as("siga"), col("p.sig").as("sigb"))
    val cand = partners(index, lit(true))
      .unionByName(partners(db, col("p.doc_id") < col("d.doc_id")))
      .distinct()
    val verified = cand.withColumn("matches",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("matches") * thrDen >= lit(numHashes) * thrNum)
    val agg = verified.groupBy("doc_id")
      .agg(min(col("p_id")).as("dup_of"), countDistinct(col("p_id")).as("n_dups"))
    delta.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
  }

  // ---------------------------------------- content-defined chunking (CDC)

  /** Content-defined chunk partition of each doc — the shift-robust dedup
    * unit (storage-dedup's Rabin chunking at token granularity): a chunk
    * boundary falls AFTER every token whose content hash ≡ 0 (mod `mod`),
    * so boundaries move with the content, not with positions — prepending
    * text to a doc changes only the chunks up to the first boundary, and
    * everything after still matches its twin byte-for-byte (where fixed
    * windows would misalign every chunk). ONE per-row fold builds the chunk
    * array (zero shuffle); expected chunk length = `mod` tokens.
    *
    * This HOF fold is the EXECUTABLE SPEC: higher-order `aggregate` is
    * CodegenFallback in Spark, so the hot path ([[cdcStats]]) runs the
    * value-identical native [[graft.plans.ShingleOps.cdcChunks]] kernel
    * instead (parity pinned in DedupSpec).
    */
  def cdcChunkArray(text: Column, mod: Int = 8): Column = {
    val pairs = zip_with(tokens(text), graft.plans.native.token_ids(text),
      (t, id) => struct(t.as("t"), id.as("id")))
    aggregate(pairs,
      struct(array().cast("array<string>").as("chunks"), lit("").as("cur")),
      (acc, p) => {
        val chunks = acc.getField("chunks"); val cur = acc.getField("cur")
        val ncur = when(cur === "", p.getField("t"))
          .otherwise(concat(cur, lit(" "), p.getField("t")))
        when(p.getField("id") % mod === 0,
          struct(concat(chunks, array(ncur)).as("chunks"), lit("").as("cur")))
          .otherwise(struct(chunks.as("chunks"), ncur.as("cur")))
      },
      acc => when(acc.getField("cur") === "", acc.getField("chunks"))
        .otherwise(concat(acc.getField("chunks"), array(acc.getField("cur")))))
  }

  /** CDC dedup stats: per doc, its chunk count and how many of its chunks
    * also appear in at least one OTHER doc. Chunk sharing is a groupBy on
    * the chunk content key (at 100 TB: a 64-bit chunk hash) + one join back
    * — the inverted-index shape every other dedup family here uses; chunk
    * production itself never shuffles.
    */
  def cdcStats(docs: DataFrame, mod: Int = 8): DataFrame = {
    // persisted: the chunk relation feeds BOTH the per-chunk sharing count
    // and the join back — without the cache the (expensive) chunker fold
    // and the corpus scan run twice
    val ch = docs
      .select(col("doc_id"),
        explode(graft.plans.native.cdc_chunks(col("text"), mod)).as("chunk"))
      .persist()
    val cnt = ch.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("nd"))
    ch.join(cnt, "chunk")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
  }

  // --------------------------------------------------------------- SimHash

  /** Per-doc SimHash fingerprint over frequency-weighted token ids: bit b is
    * set when `sum over tokens of ±1 (bit b of id)` is positive. Computed via
    * explode + one grouped aggregate of `bits` sums (single shuffle), not
    * per-row nested folds.
    */
  def simhashFingerprints(docs: DataFrame, bits: Int): DataFrame = {
    // not widened (r18 measured): the widen exchange lost to the kernel
    // win here twice (+0.25/+2.15 s) — the pair join downstream dominates
    val exploded = docs
      .select(col("doc_id"), col("lang"),
        graft.plans.native.token_ids(col("text")).as("ids"))
      .select(col("doc_id"), col("lang"), explode(col("ids")).as("id"))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("id"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val fp = (0 until bits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    exploded.groupBy("doc_id", "lang").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), col("lang"), fp.as("fp"))
  }

  /** SimHash near-dup pairs: fingerprints, then pairs within the lang block
    * with Hamming distance ≤ maxHamming.
    *
    * Candidate generation is PIGEONHOLE CHUNK-BLOCKED: the fingerprint is
    * split into maxHamming+1 bit-chunks; two fingerprints within maxHamming
    * bit flips must agree exactly on at least one chunk, so candidates come
    * from an equi-join on (lang, chunk index, chunk value) — the same
    * shuffle-friendly shape as the LSH band join — followed by the exact
    * Hamming filter. Output is identical to the naive all-pairs-in-block
    * form (the blocking is lossless by pigeonhole), which is what the DuckDB
    * oracle computes.
    *
    * `chunkBlocked = false` skips the chunk join and compares all pairs in
    * the lang block directly — faster when fingerprints are highly clustered
    * (as in this synthetic vocabulary, where chunk values collide heavily);
    * the chunk join is the right default for natural data at scale, where
    * 4-5-bit chunks are selective.
    */
  def simhashPairs(docs: DataFrame, bits: Int = 32, maxHamming: Int = 6,
      chunkBlocked: Boolean = true): DataFrame = {
    // Par.widen (narrow post-kernel rows): the pair probe runs in the
    // stream side's stage — byte-starved it is one task (r18). A persist
    // of the fingerprints was tried and LOST (+0.3 s): materializing the
    // relation serializes the kernel pass harder than the duplicate
    // subtree costs at this size.
    val fp = Par.widen(simhashFingerprints(docs, bits))
    if (!chunkBlocked) {
      val a = fp.select(col("doc_id").as("a_id"), col("lang"), col("fp").as("fa"))
      val b = fp.select(col("doc_id").as("b_id"), col("lang").as("lang_b"), col("fp").as("fb"))
      return a.join(b, col("lang") === col("lang_b") && col("a_id") < col("b_id"))
        .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select("a_id", "b_id", "hamming")
    }
    val nChunks = maxHamming + 1
    val chunkBits = (bits + nChunks - 1) / nChunks
    val chunks = array((0 until nChunks).map { c =>
      struct(lit(c).as("cidx"),
        shiftright(col("fp"), c * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1).as("cval"))
    }: _*)
    val blocked = fp.select(col("doc_id"), col("lang"), col("fp"),
        explode(chunks).as("ch"))
      .select(col("doc_id"), col("lang"), col("fp"),
        col("ch.cidx").as("cidx"), col("ch.cval").as("cval"))
    val a = blocked.select(col("doc_id").as("a_id"), col("lang"), col("fp").as("fa"),
      col("cidx"), col("cval"))
    val b = blocked.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
      col("fp").as("fb"), col("cidx").as("cidx_b"), col("cval").as("cval_b"))
    a.join(b, col("lang") === col("lang_b") && col("cidx") === col("cidx_b") &&
        col("cval") === col("cval_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ----------------------------------------------- embedding-cosine near-dup

  /** Near-dup pairs by embedding cosine ≥ thrE6/1e6. Brute-force O(n²) pair
    * join — correct baseline; the ANN path for scale is
    * [[Similarity.ivfTopK]]'s cell blocking. Output similarity is fixed-point
    * (`cos_e6`) so the selection and the value share one rounding.
    */
  def embeddingCosine(emb: DataFrame, thrE6: Long): DataFrame = {
    import graft.plans.native
    // norms precomputed once per vector; the native dot kernel keeps the
    // per-pair cost one fused loop (bit-identical to the HOF/oracle form).
    // Par.widen: the O(n²) dot products run in the STREAM side's stage of
    // the pair join — a byte-starved scan serializes them (r18)
    val e = Par.widen(emb)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"), col("nv").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nv").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_e6",
        round(native.dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long"))
      .filter(col("cos_e6") >= thrE6)
      .select("a_id", "b_id", "cos_e6")
  }

  /** THE SCALE PATH for embedding near-dup: IVF cell blocking (same shapes
    * as [[Similarity.ivfTopK]]). Every vector is indexed under its `nProbe`
    * nearest coarse cells — computed PER ROW by sorting the literal-centroid
    * distance array inside codegen (no shuffle, unlike a window rank) — and
    * candidate pairs come from a shuffle-partitioned EQUI-join on cell id,
    * never a BroadcastNestedLoopJoin. Exact cosine re-ranks the candidates.
    *
    * Approximate by construction: a pair whose members share none of their
    * nProbe cells is missed; (nCells, nProbe) is the recall/cost knob. At
    * 100 TB the index side is hash-partitioned by cell and each cell's pair
    * space is (|cell|·nProbe)² — bounded by construction, tunable via
    * nCells. [[embeddingCosine]] stays as the exact small-sf cross-check.
    */
  def embeddingCosineBlocked(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      thrE6: Long, nProbe: Int = 2): DataFrame = {
    import graft.plans.native
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val e = Par.widenBy(emb, col("vec_id")) // assign + pair re-rank (r18)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
    // nProbe nearest cells, ties -> lowest cell id: array_sort on
    // (distance, cid) structs orders lexicographically, all row-local
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
    a.join(b, col("cell") === col("cell_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(native.dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= thrE6)
      .distinct()
  }

  /** [[embeddingCosineBlocked]]'s 100×-SCALE twin (the [[Similarity
    * .knnGraphBlocked]] pattern applied to the near-dup pair stage): the
    * SAME (a_id, b_id, cos_e6) output — proven by sharing the oracle — but
    * the within-cell pair space is scored in [[Similarity.mapCells]]'s
    * streamed per-cell loop and only pairs at or OVER the threshold ever
    * become rows. The join form materializes |cell|²·nProbe² candidate
    * rows per cell before its filter; at 2M vectors with √n-scaled cells
    * that is ~10¹⁰ shuffled rows for a result that is typically orders of
    * magnitude smaller. Bit-compatibility: the loop replays the codegen'd
    * dot kernel's left-to-right accumulation, the `dot / (na·nb)` operand
    * order, and Spark `round` via [[KMeans.roundHalfUpLong]] (pinned ≡ in
    * PropertySpec); the cross-cell duplicate drop is the same
    * `.distinct()` the join form ends with.
    */
  def embeddingCosineBlockedLocal(emb: DataFrame,
      centroids: Seq[KMeans.Centroid], thrE6: Long,
      nProbe: Int = 2, broadcastAssign: Boolean = false,
      maxCellRows: Int = Similarity.defaultMaxCellRows): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // split-safe: every within-cell pair co-occurs in its block-pair group
    // (identical candidate set); the re-covered intra-block pairs are
    // byte-identical rows the trailing distinct() already removes
    Similarity.mapCells(emb, centroids, nProbe, broadcastAssign,
        maxCellRows) { rows =>
      val m = rows.length
      val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var ai = 0
      while (ai < m) {
        val (aId, av, an) = rows(ai)
        var bi = ai + 1
        while (bi < m) {
          val (bId, bv, bn) = rows(bi)
          // canonical a_id < b_id regardless of in-cell order
          val (loId, hiId, lov, hiv, lon, hin) =
            if (aId < bId) (aId, bId, av, bv, an, bn)
            else (bId, aId, bv, av, bn, an)
          var s = 0.0
          var d = 0
          val n = math.min(lov.length, hiv.length)
          while (d < n) { s += lov(d) * hiv(d); d += 1 }
          val cosE6 = KMeans.roundHalfUpLong(s / (lon * hin) * 1e6)
          if (cosE6 >= thrE6) res += ((loId, hiId, cosE6))
          bi += 1
        }
        ai += 1
      }
      res.iterator
    }.toDF("a_id", "b_id", "cos_e6")
      .distinct()
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space coarsely, call two vectors semantic
    * duplicates when their cosine crosses `thrE6/1e6` INSIDE a cluster,
    * group duplicates transitively, and keep — per duplicate group — the
    * member with the LOWEST cosine to its cluster centroid (the paper's
    * keep-the-outlier rule: it preserves the most diverse exemplar and
    * prunes the redundant core). Output is one row per vector:
    * `(vec_id, cell, cent_cos_e6, rep_id, cluster_size, kept)`.
    *
    * Composition of three shapes this engine already scales:
    *  1. cell assignment — per-row argmin over the literal centroid set
    *     (zero shuffle, the [[Similarity.ivfTopK]] posture); the centroid
    *     cosine rides along in the same row-local sorted struct.
    *  2. candidate pairs — an EQUI-join on cell id (pair space bounded per
    *     cell, never all-pairs; misses only cross-cell duplicates, the
    *     deliberate SemDeDup approximation).
    *  3. duplicate groups — [[connectedComponents]] min-label propagation
    *     (per-round: one equi-join + one grouped min).
    * The keep rule is one window over the components, ordered by the
    * FIXED-POINT centroid cosine then vec_id, so the winner is
    * engine-exact. Centroids are caller-supplied ([[Similarity
    * .fixedCentroids]] for the oracle; a `KMeans.fit` over the normalized
    * embeddings in production — same shapes).
    *
    * `nProbe` widens stage 2: each vector is indexed under its nProbe
    * nearest cells ([[embeddingCosineBlocked]]'s multi-probe posture) so a
    * pair is found when the two share ANY of their nProbe cells. RECORDED
    * DECISION (round 15, `dedup_semantic_probe` instrument — the recall
    * curve at THIS operator's 0.50 production threshold, sf0.1,
    * auto-scaled nCells): single-cell blocking recalls 21% of
    * over-threshold pairs, nProbe=2 → 57%, nProbe=4 → 100%; the smallest
    * probe depth clearing the 95% bar is **nProbe = 4** — the production
    * setting. The default stays 1 (the paper's strict within-cluster rule
    * and the published `dedup_semantic` fixture the oracle pins); pair
    * cost scales linearly in nProbe via the equi-join, never all-pairs.
    */
  def semanticDedup(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      thrE6: Long, nProbe: Int = 1,
      broadcastAssign: Boolean = false): DataFrame = {
    import graft.plans.native
    // not widened (r18 measured +0.5 s twice): the capped mapCells kernel
    // downstream does its own cell-local partitioning work — an input
    // widen only adds an exchange in front of it
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    // the literal-ceiling discipline (Similarity.literalAssignCeiling):
    // past ~256 cells the typedlit sorted-struct below silently drops out
    // of codegen into interpreted eval — the measured 1000×-smoke stall —
    // so the assignment auto-switches to a bit-identical broadcast loop
    // (same (c−v)² fold, (d, cid) tie order, v·c/(‖v‖·‖c‖) operand order,
    // roundHalfUpLong ≡ Spark round; DedupSpec pins row equality)
    val useBroadcast =
      broadcastAssign || centroids.size > Similarity.literalAssignCeiling
    val asn = if (useBroadcast) {
      val spark = emb.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(
        (ids.toArray, cs.map(_.toArray).toArray))
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .as[(Long, Seq[Double])].mapPartitions { it =>
          val (jids, cents) = bc.value
          val m = cents.length
          it.map { case (id, vSeq) =>
            val v = vSeq.toArray
            var nv2 = 0.0
            var i = 0
            while (i < v.length) { nv2 += v(i) * v(i); i += 1 }
            val nv = math.sqrt(nv2)
            var bi = 0
            var bd = Double.MaxValue
            var bj = Long.MaxValue
            var ci = 0
            while (ci < m) {
              val c = cents(ci)
              var s = 0.0
              var d = 0
              val n = math.min(c.length, v.length)
              while (d < n) { val t = c(d) - v(d); s += t * t; d += 1 }
              if (s < bd || (s == bd && jids(ci) < bj)) {
                bi = ci; bd = s; bj = jids(ci)
              }
              ci += 1
            }
            val c = cents(bi)
            val n = math.min(c.length, v.length)
            var dotVC = 0.0
            var d = 0
            while (d < n) { dotVC += v(d) * c(d); d += 1 }
            var cc2 = 0.0
            d = 0
            while (d < c.length) { cc2 += c(d) * c(d); d += 1 }
            val cc = dotVC / (nv * math.sqrt(cc2))
            (id, vSeq, nv, jids(bi), KMeans.roundHalfUpLong(cc * 1e6))
          }
        }.toDF("vec_id", "v", "nv", "cell", "cent_cos_e6")
    } else {
      val e = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
      // nearest cell + cosine to that centroid, all row-local: sort the
      // (distance, cid, centroid-cos) structs, take the head (ties → lowest
      // cid; the cos field never decides, (d, cid) is unique)
      e.select(col("vec_id"), col("v"), col("nv"),
        element_at(array_sort(zip_with(typedlit(cs), typedlit(ids),
          (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid"),
            (native.dot(col("v"), c) / (col("nv") * sqrt(native.dot(c, c))))
              .as("cc")))), 1).as("x"))
        .select(col("vec_id"), col("v"), col("nv"), col("x.cid").as("cell"),
          round(col("x.cc") * 1e6).cast("long").as("cent_cos_e6"))
    }
    // ALL probe depths take the streamed per-cell kernel (r19; nProbe = 1
    // previously kept a cell self-JOIN, bit-identical by the same DedupSpec
    // pin the deeper probes rely on). Two reasons: (a) at bench scale AQE
    // byte-coalesces the join's exchanges to ONE task, so the whole
    // |cell|²-pair dot-product pass ran serially (measured: taskSum ≈ crit
    // ≈ 2.5 s — zero parallelism) while mapCells' explicit repartition
    // keeps the per-cell groups spread; (b) at 100 TB the join form
    // materializes |cell|²·nProbe² candidate rows where the kernel ships
    // only over-threshold pairs — the kernel IS the scale path.
    val pairs = embeddingCosineBlockedLocal(emb, centroids, thrE6,
      math.max(nProbe, 1), broadcastAssign)
    val comp = connectedComponents(
      asn.select(col("vec_id").as("doc_id")), pairs)
    val wSize = org.apache.spark.sql.expressions.Window.partitionBy("rep_id")
    val wKeep = org.apache.spark.sql.expressions.Window.partitionBy("rep_id")
      .orderBy(col("cent_cos_e6"), col("vec_id"))
    asn.select(col("vec_id"), col("cell"), col("cent_cos_e6"))
      .join(comp.withColumnRenamed("doc_id", "vec_id"), "vec_id")
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("kept",
        when(row_number().over(wKeep) === 1, 1L).otherwise(0L))
  }

  /** For every over-threshold pair: the smallest nProbe at which the
    * `maxProbe`-cell index surfaces it — `min` over the pair's shared
    * cells of `max(rank_a, rank_b)`, null when no cell is shared at all.
    * ONE pair join total: each vector carries its ranked cell LIST
    * (row-local sorted-struct pick, maxProbe longs), the exact all-pairs
    * threshold join attaches both lists, and first_probe is a row-local
    * maxProbe² array expression — no second blocked join, no pair
    * groupBy, so the recall-curve gauge costs the exact baseline plus an
    * O(maxProbe²) codegen'd expression per surviving pair.
    */
  def blockedFirstProbe(emb: DataFrame, centroids: Seq[KMeans.Centroid],
      thrE6: Long, maxProbe: Int): DataFrame = {
    import graft.plans.native
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val cellList = transform(
      slice(array_sort(zip_with(typedlit(cs), typedlit(ids),
        (c, j) => struct(sqDist(c, col("v")).as("d"), j.as("cid")))),
        1, maxProbe),
      x => x.getField("cid"))
    val e = Par.widenBy(emb, col("vec_id")) // all-pairs probe stage (r18)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", sqrt(native.dot(col("v"), col("v"))))
      .withColumn("cells", cellList)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"),
      col("nv").as("na"), col("cells").as("ca"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("nv").as("nb"), col("cells").as("cb"))
    // the ranked cell list is min(#centroids, maxProbe) long — probing past
    // its end would throw ARRAY_INDEX_OUT_OF_BOUNDS under ANSI mode
    val idxSeq = sequence(lit(1), lit(math.min(maxProbe, centroids.size)))
    val fp = array_min(flatten(transform(idxSeq, i =>
      transform(idxSeq, j =>
        when(element_at(col("ca"), i) === element_at(col("cb"), j),
          greatest(i, j).cast("long"))))))
    a.join(b, col("a_id") < col("b_id"))
      .filter(round(native.dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
        .cast("long") >= thrE6)
      .select(col("a_id"), col("b_id"), fp.as("first_probe"))
  }

  // ------------------------------------------- duplicate-cluster resolution

  /** Connected components over near-dup pair edges: every document gets the
    * MINIMUM doc_id reachable through any chain of pairs as its cluster
    * representative (`rep_id`); singletons map to themselves. This is the
    * step that turns pairwise dedup output into an actionable keep/drop
    * decision — "keep one doc per duplicate CLUSTER", not "per pair" (pair
    * output alone over-drops: a–b and b–c does not mean a–c was ever
    * compared, and naively dropping the right side of every pair can drop
    * both endpoints of a chain).
    *
    * Algorithm: min-label propagation. labels ← id; each round every node
    * takes the min of its own label and its neighbors' labels. Converges in
    * O(diameter) rounds — near-dup clusters are short chains in practice, so
    * this is 2–4 rounds; `maxIter` bounds adversarial chains. Each round is
    * ONE equi-join (edges ⋈ labels on the source endpoint) + ONE grouped min
    * — both shuffle-partitioned on doc_id, no driver-side graph state, and
    * the label relation never grows. Convergence is detected by the exact
    * integer invariant Σrep, strictly decreasing until fixed point.
    * (At extreme diameters switch to [[connectedComponentsStar]] —
    * alternating large-star/small-star, O(log n) rounds with identical
    * per-round shapes.)
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 25, localMaxRows: Long = 2000000L): DataFrame = {
    // DRIVER-LOCAL TWIN under `localMaxRows` (r19, the gated k-means fit's
    // discipline applied to the component loop): at sample sizes the
    // distributed loop is pure per-round fixed cost — each of the 2-6
    // label-propagation rounds pays a join+groupBy plan, an eager
    // localCheckpoint job, and a convergence-sum job, which profiled as
    // the bulk of dedup_semantic's wall and of pipeline_full's first
    // pipeComponents build (~0.3-0.5 s/round of scheduling for microseconds
    // of labeling work). Below the bound, the nodes and pairs are collected
    // ONCE and the EXACT same bounded synchronous min-label iteration runs
    // on the driver — same initial multiset sum, same per-round
    // (labels ∪ propagated).groupBy(id).min fold (edge targets absent from
    // `nodes` enter at round 1 exactly like the distributed unionAll), same
    // Σrep convergence test, same maxIter truncation — so the result is
    // bit-identical BY CONSTRUCTION in every case, including an
    // unconverged truncation (DedupSpec pins local ≡ distributed on
    // chains, dupe cliques, and a truncated run). Past the bound — i.e. at
    // real scale — the distributed loop below runs unchanged; the pair
    // probe is a LocalLimit short-circuit, not a full evaluation.
    if (localMaxRows > 0 && {
      val probe = math.min(localMaxRows, Int.MaxValue - 2L).toInt
      nodes.limit(probe + 1).count() <= probe
    }) {
      val bound = math.min(localMaxRows, Int.MaxValue - 2L).toInt
      val pairRows = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
        .limit(bound + 1).collect()
      if (pairRows.length <= bound) {
        val nodeIds = nodes.select(col("doc_id").cast("long"))
          .collect().map(_.getLong(0))
        val edgesArr = new Array[Long](pairRows.length * 4) // both directions
        var i = 0
        while (i < pairRows.length) {
          val a = pairRows(i).getLong(0); val b = pairRows(i).getLong(1)
          edgesArr(4 * i) = a; edgesArr(4 * i + 1) = b
          edgesArr(4 * i + 2) = b; edgesArr(4 * i + 3) = a
          i += 1
        }
        var lab = new java.util.HashMap[Long, Long]()
        var sum = 0L
        nodeIds.foreach { id => lab.put(id, id); sum += id } // multiset sum, like sum("rep") over the initial rows
        var iter = 0
        var converged = false
        while (!converged && iter < maxIter) {
          val next = new java.util.HashMap[Long, Long](lab) // labels ∪ …
          var e = 0
          while (e < edgesArr.length) {
            val s = edgesArr(e); val t = edgesArr(e + 1)
            if (lab.containsKey(s)) { // prop joins edges to CURRENT labels
              val rep = lab.get(s)
              if (!next.containsKey(t) || rep < next.get(t)) next.put(t, rep)
            }
            e += 2
          }
          var nextSum = 0L
          val it = next.values().iterator()
          while (it.hasNext) nextSum += it.next()
          lab = next
          converged = nextSum == sum
          sum = nextSum
          iter += 1
        }
        val spark = nodes.sparkSession
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](lab.size)
        val lit = lab.entrySet().iterator()
        while (lit.hasNext) {
          val en = lit.next()
          out.add(org.apache.spark.sql.Row(en.getKey, en.getValue))
        }
        val lt = org.apache.spark.sql.types.LongType
        return spark.createDataFrame(out,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", lt),
            org.apache.spark.sql.types.StructField("rep_id", lt))))
      }
    }
    val edges = pairs.select(col("a_id").as("s"), col("b_id").as("t"))
      .unionAll(pairs.select(col("b_id").as("s"), col("a_id").as("t")))
      .cache()
    // localCheckpoint each round: without it the label plan embeds the
    // previous round's plan TWICE (union + join), so analysis/AQE cost
    // doubles per iteration even though caching bounds execution — the
    // classic iterative-lineage trap. Checkpointing replaces the tree with a
    // materialized leaf: constant per-round plan size, exactly what a
    // Pregel-style loop does at cluster scale.
    var labels = nodes.select(col("doc_id").as("id"), col("doc_id").as("rep"))
      .localCheckpoint(eager = true)
    var sum = labels.agg(org.apache.spark.sql.functions.sum("rep")).head().getLong(0)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("s") === labels("id"))
        .select(col("t").as("id"), col("rep"))
      val next = labels.unionAll(prop).groupBy("id")
        .agg(min("rep").as("rep")).localCheckpoint(eager = true)
      val nextSum = next.agg(org.apache.spark.sql.functions.sum("rep")).head().getLong(0)
      labels = next
      converged = nextSum == sum // Σrep monotone non-increasing, integer-exact
      sum = nextSum
      iter += 1
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("rep").as("rep_id"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the O(log n)-round scale path [[connectedComponents]]'s
    * scaladoc promises for extreme-diameter graphs, actually implemented.
    * Identical output contract: every doc labeled with the minimum doc_id
    * reachable in its component (DedupSpec pins star ≡ label
    * propagation on chains, planted graphs, and the real LSH pairs).
    *
    * Per round: large-star symmetrizes the edge list, takes one grouped min
    * per node, and re-points every strictly-larger neighbor at the group
    * min (connectivity-preserving, provably halves large-node depth);
    * small-star then folds each node's smaller neighbors onto its min.
    * Both are ONE groupBy + ONE equi-join on node id — the exact per-round
    * shapes of label propagation — but rounds scale O(log n) in the worst
    * case instead of O(diameter), which is the difference between 20 and
    * 10⁶ rounds on a pathological chain. Fixed point = the edge relation
    * is a set of stars (node → component min), detected by an exact
    * (count, Σu, Σv) checksum confirmed with a set-difference check.
    * localCheckpoint per round keeps the plan constant-size (the same
    * iterative-lineage discipline as label propagation).
    */
  def connectedComponentsStar(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 50, localMaxRows: Long = 2000000L): DataFrame = {
    // DRIVER-LOCAL TWIN under `localMaxRows` (r19) — the same gate and
    // rationale as [[connectedComponents]]'s: every per-round relation here
    // is a SET (distinct after each fold), so the large-star/small-star
    // rounds, the (count, Σu, Σv) signature, the exact set-equality
    // confirmation, AND the under-convergence min-collapse replay exactly
    // over driver-side sets — bit-identical output by construction
    // (DedupSpec pins local ≡ distributed, converged and truncated).
    // At bench scale the distributed loop was ~50 jobs of
    // join/groupBy/checkpoint scheduling per query; past the bound the
    // O(log n)-round distributed loop below runs unchanged.
    if (localMaxRows > 0 && {
      val probe = math.min(localMaxRows, Int.MaxValue - 2L).toInt
      nodes.limit(probe + 1).count() <= probe
    }) {
      val bound = math.min(localMaxRows, Int.MaxValue - 2L).toInt
      val pairRows = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
        .limit(bound + 1).collect()
      if (pairRows.length <= bound) {
        var edges: Set[(Long, Long)] = pairRows.iterator.map { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          (math.max(a, b), math.min(a, b))
        }.filter(e => e._1 != e._2).toSet
        def checksumL(e: Set[(Long, Long)]): (Long, Long, Long) =
          (e.size.toLong, e.iterator.map(_._1).sum, e.iterator.map(_._2).sum)
        var sig = checksumL(edges)
        var converged = false
        var iter = 0
        while (!converged && iter < maxIter) {
          val sym = edges.iterator.flatMap(e => Iterator(e, e.swap)).toSeq
          val mins = sym.groupBy(_._1).map { case (x, ys) =>
            x -> math.min(ys.iterator.map(_._2).min, x) }
          val ls = sym.iterator.collect {
            case (x, y) if y > x => (y, mins(x)) }.toSet
          val mins2 = ls.groupBy(_._1).map { case (u, vs) =>
            u -> vs.iterator.map(_._2).min }
          val ss = (ls.iterator.collect {
            case (u, v) if v != mins2(u) => (v, mins2(u)) } ++
            mins2.iterator).toSet
          val nsig = checksumL(ss)
          converged = nsig == sig && ss == edges
          edges = ss
          sig = nsig
          iter += 1
        }
        val rep = new java.util.HashMap[Long, Long]()
        if (converged) edges.foreach { case (u, v) => rep.put(u, v) }
        else edges.foreach { case (u, v) =>
          if (!rep.containsKey(u) || v < rep.get(u)) rep.put(u, v) }
        val nodeIds = nodes.select(col("doc_id").cast("long"))
          .collect().map(_.getLong(0))
        val spark = nodes.sparkSession
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](nodeIds.length)
        nodeIds.foreach { id =>
          val r = if (rep.containsKey(id)) rep.get(id) else id
          out.add(org.apache.spark.sql.Row(id, r))
        }
        val lt = org.apache.spark.sql.types.LongType
        return spark.createDataFrame(out,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", lt),
            org.apache.spark.sql.types.StructField("rep_id", lt))))
      }
    }
    var edges = pairs
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = true)
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), sum("u"), sum("v")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var sig = checksum(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: per node x over the symmetrized list, m = min(Γ(x) ∪ {x});
      // every strictly larger neighbor re-points at m (u > v is preserved:
      // y > x ≥ m)
      val sym = edges.select(col("u").as("x"), col("v").as("y"))
        .unionAll(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy("x").agg(min("y").as("mny"))
        .select(col("x"), least(col("mny"), col("x")).as("m"))
      val ls = sym.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v")).distinct()
      // SMALL-STAR: edges now point large→small; fold each node's smaller
      // neighbors onto its min and keep the node's own edge to that min
      val mins2 = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(mins2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(eager = true)
      val nsig = checksum(ss)
      // checksum equality is necessary at the fixed point; confirm with an
      // exact set-difference so a (vanishingly unlikely) checksum collision
      // can't end the loop early
      converged = nsig == sig &&
        ss.exceptAll(edges).limit(1).count() == 0
      edges = ss
      sig = nsig
      iter += 1
    }
    // at the fixed point the edge relation is functional (one star edge per
    // non-root node); if maxIter cut the loop early a node can still hold
    // edges from several star centers — collapse to the min label so the
    // one-row-per-doc output contract survives under-convergence exactly
    // like label propagation's
    val starEdges = edges.select(col("u").as("doc_id"), col("v").as("rep_id"))
    val resolved =
      if (converged) starEdges
      else starEdges.groupBy("doc_id").agg(min("rep_id").as("rep_id"))
    nodes.select(col("doc_id"))
      .join(resolved, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
  }

  /** The keep-one corpus: one row per duplicate cluster — the representative
    * doc plus how many documents it stands for. `documents ⋉ (rep_id)` (or a
    * `doc_id = rep_id` filter on [[connectedComponents]]) is then the
    * deduplicated training set.
    */
  def keepOne(components: DataFrame): DataFrame =
    components.groupBy(col("rep_id").as("doc_id"))
      .agg(count(lit(1)).as("cluster_size"))

  /** Right-to-be-forgotten delete propagation — the takedown pass a
    * training-corpus owner runs when source documents must be erased: the
    * forget set leaves the corpus, its derived chunk windows leave with it,
    * and every duplicate cluster whose representative was forgotten
    * re-elects a keeper from the survivors (a cluster disappears only when
    * ALL members are forgotten), so the kept-docs relation never serves an
    * erased doc and never loses a cluster that still has living members.
    *
    * Takedown sets are tiny relative to the corpus by nature, so both
    * deletion passes are BROADCAST anti-joins — one scan of each big
    * relation, no shuffle of the big side; the re-election reads one
    * grouped pass over the components relation (rep-forgotten and
    * all-forgotten are both per-cluster counts). The forget rule is a
    * transparent modulus of `doc_id` (the leakproofSplit discipline — a
    * pure function of the data, never a lookup table the oracle can't
    * replay). Output is an exact-integer `(metric, value)` census — unions
    * of one-row aggregates, deliberately NOT a crossJoin of scalars, so
    * the plan stays NLJ-free — closing with the orphan-chunk audit: chunks
    * whose doc no longer exists after the propagation. The oracle pins
    * that value AT ZERO (a partial delete is the bug class this op
    * exists to catch).
    */
  def forgetPropagate(docs: DataFrame, chunks: DataFrame,
      components: DataFrame, forgetMod: Long = 97L): DataFrame = {
    def isForgot(c: Column): Column = c % forgetMod === 0
    val forget = docs.filter(isForgot(col("doc_id"))).select("doc_id")
    val survivors = docs.join(broadcast(forget), Seq("doc_id"), "left_anti")
    val chunksAfter = chunks.join(broadcast(forget), Seq("doc_id"), "left_anti")
    val grp = components.groupBy("rep_id").agg(
        count(lit(1)).as("total"),
        sum(when(isForgot(col("doc_id")), 1L).otherwise(0L)).as("n_forgot"))
    val orphans = chunksAfter
      .join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
    def c1(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("value"))
        .select(lit(name).as("metric"), col("value"))
    c1("n_requests", forget)
      .unionAll(c1("n_docs_after", survivors))
      .unionAll(c1("n_chunks_before", chunks))
      .unionAll(c1("n_chunks_after", chunksAfter))
      .unionAll(c1("n_clusters_affected", grp.filter(isForgot(col("rep_id")))))
      .unionAll(c1("n_reelected",
        grp.filter(isForgot(col("rep_id")) && col("n_forgot") < col("total"))))
      .unionAll(c1("n_clusters_gone",
        grp.filter(col("n_forgot") === col("total"))))
      .unionAll(c1("n_orphan_chunks", orphans))
  }

  /** Edit-distance near-dup pairs — the record-linkage member of the
    * dedup family: Levenshtein over a fixed document prefix (the
    * codegen'd built-in — no UDF), candidates bounded by LENGTH-BUCKET
    * BLOCKING with an adjacent-bucket probe, so a pair is ever compared
    * only when the two docs share a language and sit within one
    * `bucketChars` length band of each other (near-dups by edit distance
    * can't differ in length by more than the distance bound, so a band
    * ≥ the bound is lossless for full-text distance and the declared
    * blocking scheme for the prefix form). The probe side registers under
    * its own bucket AND the bucket below (one explode — the sorted-
    * neighborhood trick as an EQUI-join on `(lang, bucket)`, never a
    * cross join), each unordered pair surfaces exactly once (same
    * bucket → id order; adjacent → the lower-bucket side is canonical),
    * and ids are canonicalized `least/greatest`. One shuffle on the
    * block key at any corpus size.
    *
    * The quadratic term is per-block, and block population grows
    * LINEARLY with the corpus at a fixed length range — so the pair
    * count grows with its square (measured: 1.1M pairs at sf0.1 became
    * a ~1e10-pair, multi-hour grind at 100×). `maxBlockRows` is the
    * df-cap (the `mm_phash_capped` discipline, r17 verdict task 3):
    * a `(lang, bucket)` band denser than the cap is a degenerate block
    * where pairwise edit distance is the wrong tool — those DOCS are
    * excluded via a broadcast anti-join against the tiny hot-band
    * census, and the right tool for dense bands is the MinHash banded
    * index. The cap is stated IN the oracle too (inert at fixture
    * scale — the largest sf0.1 band is 304 rows — so published hashes
    * are unchanged), and 2048²/2 banded-DP calls keep the worst
    * surviving block to seconds per task.
    */
  def editPairs(docs: DataFrame, prefixLen: Int = 96, bucketChars: Int = 64,
      maxDist: Int = 12, maxBlockRows: Int = 2048): DataFrame = {
    val base0 = docs.select(col("doc_id"), col("lang"),
      substring(col("text"), 1, prefixLen).as("pfx"),
      expr(s"CAST(length(text) AS BIGINT) div $bucketChars").as("bkt"))
    val hot = base0.groupBy("lang", "bkt")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBlockRows)
      .select("lang", "bkt")
    // width adapter (r18): the banded-DP projection runs in the STREAMED
    // side's stage of the broadcast join below — on a byte-starved scan
    // that stage is one task and the whole DP pass serializes (measured
    // 6.4 s of levenshtein in a single task at sf0.1). Par.widen spreads
    // the stream side to the configured width when (and only when) the
    // scan can't fill it; identity at real scale.
    val base = Par.widen(
      base0.join(broadcast(hot), Seq("lang", "bkt"), "left_anti"))
    val probe = base.select(col("doc_id").as("p_id"), col("lang").as("p_lang"),
      col("pfx").as("p_pfx"), col("bkt").as("p_bkt"),
      explode(array(col("bkt"), col("bkt") - 1)).as("key_bkt"))
    base.join(probe,
        col("lang") === col("p_lang") && col("bkt") === col("key_bkt") &&
        col("doc_id") =!= col("p_id"))
      .filter(col("bkt") < col("p_bkt") ||
        (col("bkt") === col("p_bkt") && col("doc_id") < col("p_id")))
      .select(least(col("doc_id"), col("p_id")).as("a_id"),
        greatest(col("doc_id"), col("p_id")).as("b_id"),
        // the THRESHOLDED built-in: banded DP that abandons a pair the
        // moment its distance provably exceeds maxDist (-1 sentinel) —
        // measured 17x over the full-matrix form on the same 1.1M
        // candidates (5.5 s vs 93 s at sf0.1), and exact for every
        // returned distance, so the result set is bit-identical and the
        // oracle keeps the plain levenshtein spelling
        levenshtein(col("pfx"), col("p_pfx"), maxDist).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Preference-pair construction over duplicate clusters — the DPO/RLHF
    * data-prep step: every near-dup cluster with ≥2 members yields one
    * (chosen, rejected) pair, chosen = the highest-quality member (most
    * tokens; ties → lowest id — the [[dedup_keep_best]] keep discipline),
    * rejected = the lowest-quality member (fewest tokens; ties → highest
    * id, so an all-equal cluster still yields a distinct pair), margin =
    * the token-count gap the preference label rests on. ONE grouped pass
    * with `max_by`/`min_by` over composite structs — partial aggregation
    * does the per-cluster election map-side, no window, no per-cluster
    * sort, so the shape is a single shuffle on `rep_id` at any corpus
    * size (contrast the oracle's two row_number windows, which are the
    * SQL spelling of the same election, not the plan to run at 100 TB).
    */
  def prefPairs(components: DataFrame, docStats: DataFrame): DataFrame =
    components.join(docStats, "doc_id")
      .groupBy("rep_id")
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("doc_id"),
          struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("chosen_id"),
        max("n_tokens").as("chosen_tokens"),
        min_by(col("doc_id"),
          struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("rejected_id"),
        min("n_tokens").as("rejected_tokens"))
      .filter(col("cluster_size") >= 2)
      .withColumn("margin", col("chosen_tokens") - col("rejected_tokens"))

  /** Leak-proof train/val/test split: assign every doc the split of its
    * duplicate CLUSTER, never of the doc itself. Splitting by raw doc hash
    * is the classic eval-leakage bug — two near-duplicates land in train
    * and test and the benchmark silently measures memorization; hashing the
    * component representative instead makes a whole near-dup cluster move
    * as one unit, so no pair connected by ANY dedup edge can straddle the
    * split boundary.
    *
    * The bucket is a transparent LCG over `rep_id` (same oracle-replayable
    * discipline as the minhash constants — never a `rand()`), so the split
    * is a pure function of the data: reproducible across runs, engines,
    * and partitionings. One projection over the components relation — the
    * heavy lifting (pair edges + label propagation) is
    * [[connectedComponents]], shared with every other cluster consumer.
    *
    * `trainPct`/`valPct` are percentage points of the 100-bucket space;
    * the remainder is test.
    */
  def leakproofSplit(components: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val bucket = ((col("rep_id") * 1103515245L + 12345L) % 2147483647L) % 100L
    components.select(col("doc_id"), col("rep_id"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  // --------------------------------------------------- benchmark decontamination

  /** Benchmark decontamination: for every corpus doc, how many of its
    * distinct n-gram shingle ids appear ANYWHERE in the benchmark (held-out
    * eval) set, and whether that overlap crosses `thrNum/thrDen` of the
    * doc's own shingle count — the standard guard against test-set leakage
    * into a training corpus (the n-gram-overlap decontamination used by
    * public LLM data pipelines; 13-gram in GPT-3's appendix, 3-gram here to
    * be exercised by the tiny fixtures).
    *
    * Scale shape: the benchmark side is small by nature (eval sets are MBs
    * against a 100 TB corpus), so its distinct shingle-id set BROADCASTs and
    * the overlap count is a per-row broadcast-hash probe of exploded corpus
    * postings — no shuffle wider than the corpus scan except the final
    * per-doc count. Integer counts + integer-domain threshold → oracle
    * hash-exact.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 3,
      thrNum: Int = 1, thrDen: Int = 10): DataFrame = {
    val ids = graft.plans.native.shingle_ids(col("text"), n)
    val benchIds = bench.select(explode(ids).as("id")).distinct()
      .withColumn("hit", lit(1L))
    val posts = docs.select(col("doc_id"), ids.as("ids"))
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_shingles"),
        explode(col("ids")).as("id"))
    posts.join(broadcast(benchIds), Seq("id"), "left")
      .groupBy("doc_id")
      .agg(max("n_shingles").as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") * thrDen >= col("n_shingles") * thrNum)
          .cast("long").as("contaminated"))
  }

  /** Duplicated-n-gram HOTSPOT census — the artifact of Lee et al. 2022
    * (arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    * Better", §5's most-duplicated-substring tables): the top-`k` n-grams
    * by total occurrence count among those occurring more than once, each
    * with its distinct-document spread — `n_docs > 1` separates cross-doc
    * boilerplate (what dedup should remove, and what a model is most
    * likely to memorize) from within-doc repetition (what the Gopher
    * repetition gate already catches).
    *
    * Scale shape: non-distinct grams from the codegen'd
    * [[graft.plans.ShingleExpressions]] `word_grams` kernel (pipelines with
    * the scan), ONE map-side-combined groupBy(gram) carrying
    * `count + count(distinct doc_id)`, then a TakeOrdered(k) — the
    * vocabulary-sized relation never globally sorts. Counts are integers;
    * ties break by gram text, so the cut is deterministic and the oracle
    * hash-exact.
    */
  def duplicationHotspots(docs: DataFrame, n: Int = 3, k: Int = 20): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.plans.native.word_grams(col("text"), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"))
      .filter(col("n_occ") > 1L)
      .orderBy(desc("n_occ"), desc("n_docs"), asc("gram"))
      .limit(k)
}
