package graft

import graft.operators.Dedup

/** DuckDB-SQL fragments mirroring the Catalyst HOF pipelines bit-for-bit.
  *
  * Every fragment mirrors a specific `Column` builder (cited per function) so
  * the driver's hash compare sees identical values: identical IEEE op order,
  * integer-domain threshold compares, and the same deterministic hash
  * coefficients.
  */
object OracleSql {

  /** Mirror of [[Dedup.tokenId]]: left-fold polynomial codepoint hash.
    * `list_reduce` seeds from the first element, so a prepended 0 replicates
    * Spark's `aggregate(..., 0, ...)` init exactly.
    */
  def tokenId(t: String): String =
    s"list_reduce(list_prepend(0, list_transform(string_split($t,''), c -> ascii(c))), " +
      s"(h,c) -> (h*31+c) % 1000003)"

  /** Mirror of [[Dedup.shingles]]: distinct word n-grams. */
  def shingles(toks: String, n: Int): String =
    s"list_distinct(list_transform(range(1, greatest(len($toks)-${n - 1},1)+1), " +
      s"k -> array_to_string(list_slice($toks, k, k+${n - 1}), ' ')))"

  /** Mirror of VectorOps.dot: left fold `(((0+p1)+p2)+…)`. */
  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), " +
      s"(x,y) -> x+y)"

  /** Mirror of VectorOps.cosine. */
  def cosine(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  val dedupExact: String =
    "SELECT min(doc_id) AS doc_id, count(*) AS n FROM documents GROUP BY text"

  // --------------------------------------------------------- text analysis

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  private def stopHits(lang: String): String = {
    val words = operators.TextAnalysis.Stopwords.find(_._1 == lang).get._2
    s"len(list_intersect(dt, ${sqlList(words)}))"
  }

  val textStats: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars_calc,
      |  list_sum(list_transform(string_split(text,' '), t -> length(t)))
      |    / len(string_split(text,' ')) AS avg_tok_len
      |FROM documents""".stripMargin

  /** Mirror of TextAnalysis.langId: first language in declaration order whose
    * distinct-stopword hit count is positive and >= all others.
    */
  def textLangId: String = {
    val langs = operators.TextAnalysis.Stopwords.map(_._1)
    val scoreCols = langs.map(l => s"${stopHits(l)} AS s_$l").mkString(",\n    ")
    val cases = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN s_$l > 0 AND $geAll THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) AS dt FROM documents),
       |s AS (SELECT doc_id, lang,
       |    $scoreCols
       |  FROM t),
       |g AS (SELECT doc_id, lang,
       |  CASE $cases
       |    ELSE 'und' END AS guess
       |  FROM s)
       |SELECT doc_id, lang, guess, CAST(guess = lang AS BIGINT) AS hit FROM g""".stripMargin
  }

  /** Mirror of TextAnalysis.langIdNgram over the SAME [[operators.TextAnalysis.TrigramProfiles]]
    * constant: distinct lowercase char trigrams (DuckDB `range(1, n)` is
    * half-open, so `range(1, len-1)` yields starts 1..len-2 — exactly the
    * Spark `sequence(1, len-2)` windows).
    */
  def textLangIdNgram: String = {
    val profiles = operators.TextAnalysis.TrigramProfiles
    val langs = profiles.map(_._1)
    val scoreCols = profiles.map { case (l, ps) =>
      s"len(list_intersect(gs, ${sqlList(ps)})) AS s_$l"
    }.mkString(",\n    ")
    val cases = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN s_$l > 0 AND $geAll THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
       |g AS (SELECT doc_id, lang,
       |    CASE WHEN len(lt) >= 3
       |      THEN list_distinct(list_transform(range(1, len(lt) - 1), i -> substr(lt, i, 3)))
       |      ELSE [] END AS gs
       |  FROM t),
       |s AS (SELECT doc_id, lang,
       |    $scoreCols
       |  FROM g),
       |r AS (SELECT doc_id, lang,
       |  CASE $cases
       |    ELSE 'und' END AS guess
       |  FROM s)
       |SELECT doc_id, lang, guess, CAST(guess = lang AS BIGINT) AS hit FROM r""".stripMargin
  }

  def textQuality(minTokens: Int, maxTokens: Int): String = {
    val allStops = operators.TextAnalysis.Stopwords.map(s => stopHits(s._1)).mkString(" + ")
    s"""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks,
       |    list_distinct(string_split(text,' ')) AS dt FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text) AS punct_ratio,
       |  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio,
       |  ($allStops) / len(toks) AS stop_ratio,
       |  CAST(len(toks) >= $minTokens AND len(toks) <= $maxTokens AND
       |    ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text)) < 0.2
       |    AS BIGINT) AS keep
       |FROM t""".stripMargin
  }

  /** Mirror of [[operators.QualityModel.trainScore]]: the SAME integer
    * feature census, then the ENTIRE fixed-point GD training run unrolled
    * as `iters` chained (p, gradient, weight-update) CTEs in HUGEINT —
    * truncating `//` matches Scala BigInt `/` and Spark `div` exactly, so
    * the final weights (and therefore every score) are bit-identical.
    */
  def docQualityLr(iters: Int, lrNum: Long, lrDen: Long,
      minTokens: Int, maxTokens: Int): String = {
    val allStops = operators.TextAnalysis.Stopwords.map(s => stopHits(s._1)).mkString(" + ")
    def pOf(w: String) =
      s"""greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT),
         |      500000 + ($w.a * 1000 + $w.b * f.f1 + $w.c * f.f2 + $w.d * f.f3) // 4000000))""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH t AS MATERIALIZED (SELECT doc_id, text, string_split(text,' ') AS toks,
              |    list_distinct(string_split(text,' ')) AS dt FROM documents),
              |raw AS MATERIALIZED (SELECT doc_id,
              |    CAST(len(toks) AS BIGINT) AS nt,
              |    CAST(length(text) AS BIGINT) AS nc,
              |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct,
              |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS dg,
              |    CAST($allStops AS BIGINT) AS st
              |  FROM t),
              |f AS MATERIALIZED (SELECT doc_id,
              |    CAST(nt >= $minTokens AND nt <= $maxTokens AND punct * 5 < nc AS BIGINT) AS y,
              |    (st * 1000) // nt AS f1,
              |    (dg * 1000) // greatest(nc, 1) AS f2,
              |    (least(nt, $maxTokens) * 1000) // $maxTokens AS f3
              |  FROM raw),
              |nn AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM f),
              |w0 AS MATERIALIZED (SELECT CAST(0 AS HUGEINT) AS a, CAST(0 AS HUGEINT) AS b,
              |  CAST(0 AS HUGEINT) AS c, CAST(0 AS HUGEINT) AS d)""".stripMargin
    for (i <- 1 to iters) {
      val p = pOf("w")
      sb ++= s""",
                |g$i AS MATERIALIZED (SELECT
                |    CAST(sum(($p - f.y * 1000000) * 1000) AS HUGEINT) AS g0,
                |    CAST(sum(($p - f.y * 1000000) * f.f1) AS HUGEINT) AS g1,
                |    CAST(sum(($p - f.y * 1000000) * f.f2) AS HUGEINT) AS g2,
                |    CAST(sum(($p - f.y * 1000000) * f.f3) AS HUGEINT) AS g3
                |  FROM f CROSS JOIN w${i - 1} w),
                |w$i AS MATERIALIZED (SELECT
                |    w.a - (g.g0 * 1000000 * $lrNum) // ((SELECT n FROM nn) * $lrDen) AS a,
                |    w.b - (g.g1 * 1000000 * $lrNum) // ((SELECT n FROM nn) * $lrDen) AS b,
                |    w.c - (g.g2 * 1000000 * $lrNum) // ((SELECT n FROM nn) * $lrDen) AS c,
                |    w.d - (g.g3 * 1000000 * $lrNum) // ((SELECT n FROM nn) * $lrDen) AS d
                |  FROM w${i - 1} w CROSS JOIN g$i g)""".stripMargin
    }
    val pFinal = pOf("w")
    sb ++= s"""
              |SELECT f.doc_id, f.y AS label,
              |  CAST(CASE WHEN $pFinal > 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred,
              |  CAST($pFinal AS BIGINT) AS p1_e6
              |FROM f CROSS JOIN w$iters w""".stripMargin
    sb.toString
  }

  val textFingerprint: String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(text,' '), t -> ${tokenId("t")})),
       |    (h,x) -> (h*131+x) % 1000000007) AS fp
       |FROM documents""".stripMargin

  /** Mirror of [[TextAnalysis.chunk]]: chunk starts every `stride` tokens,
    * `list_slice` is 1-based with an inclusive clamped end (= Spark `slice`'s
    * start/length contract), `//` keeps chunk ids in integer domain.
    */
  def textChunk(chunkSize: Int, stride: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |s AS (SELECT doc_id, toks,
       |    unnest(generate_series(0, greatest(len(toks)-1, 0), $stride)) AS start
       |  FROM t)
       |SELECT doc_id, CAST(start // $stride AS BIGINT) AS chunk_id,
       |  CAST(len(list_slice(toks, start+1, start+$chunkSize)) AS BIGINT) AS n_tokens,
       |  array_to_string(list_slice(toks, start+1, start+$chunkSize), ' ') AS chunk_text
       |FROM s WHERE start < len(toks)""".stripMargin

  /** Mirror of [[TextAnalysis.topkTokens]]: integer counts; the (cnt DESC,
    * token ASC) order makes the k-cut deterministic in both engines.
    */
  def textTopkTokens(k: Int): String =
    s"""SELECT token, count(*) AS cnt
       |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
       |GROUP BY token ORDER BY cnt DESC, token LIMIT $k""".stripMargin

  /** Mirror of [[TextAnalysis.tfidf]]: same integer-domain rational score. */
  def textTfidf(k: Int): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |s AS (SELECT t.doc_id, t.token, t.tf, d.df,
       |    CAST(round(t.tf * n.n_docs * 1000000.0 / d.df) AS BIGINT) AS score_e6
       |  FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score_e6 DESC, token) AS BIGINT) AS rnk FROM s)
       |SELECT doc_id, rnk, token, tf, df, score_e6 FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of [[TextAnalysis.repetitionStats]]: all-integer counts; the
    * 2-gram slot count uses the shingler's `greatest(len−1, 1)` so both
    * engines agree on sub-2-token docs; the e6 ratio is the identical
    * `round(1e6·distinct/total)` double sequence.
    */
  def textRepetition: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |base AS (SELECT doc_id, len(toks) AS n_tokens,
       |    len(list_distinct(toks)) AS n_distinct,
       |    greatest(len(toks)-1, 1) - len(${shingles("toks", 2)}) AS rep_2gram
       |  FROM tk),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
       |top AS (SELECT doc_id, max(cnt) AS top_tok_cnt FROM (
       |    SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok) t
       |  GROUP BY doc_id)
       |SELECT b.doc_id, n_tokens, n_distinct, top_tok_cnt, rep_2gram,
       |  CAST(round(1e6*n_distinct/n_tokens) AS BIGINT) AS distinct_ratio_e6
       |FROM base b JOIN top USING (doc_id)""".stripMargin

  /** Multi-line doc synthesis + line relation shared by the boilerplate /
    * paragraph-dedup oracles — mirrors the `mlDocs` query wiring (header
    * variant from doc_id, the original text as the middle line, a footer
    * shared by every doc) and [[operators.TextAnalysis.docLines]]'s 1-based
    * positions.
    */
  private val mlLinesCte: String =
    """ml AS (SELECT doc_id,
      |    'corpus header v' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
      |      text || chr(10) || 'footer all rights reserved' AS text
      |  FROM documents),
      |l AS (SELECT doc_id,
      |    unnest(string_split(text, chr(10))) AS line,
      |    CAST(generate_subscripts(string_split(text, chr(10)), 1) AS BIGINT)
      |      AS pos
      |  FROM ml)""".stripMargin

  /** Mirror of [[operators.TextAnalysis.removeBoilerplate]]: corpus line
    * frequencies, the `df <= maxDf` keep rule, ordered reassembly.
    * `string_agg` skips the CASE's nulls exactly as `collect_list` does;
    * the empty-doc `coalesce('')` matches `array_join` on an empty array.
    */
  def textBoilerplate(maxDf: Int): String =
    s"""WITH $mlLinesCte,
       |f AS (SELECT line, count(*) AS df FROM l GROUP BY line)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN df <= $maxDf THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  coalesce(string_agg(CASE WHEN df <= $maxDf THEN line END, chr(10)
       |    ORDER BY pos), '') AS clean_text
       |FROM l JOIN f USING (line) GROUP BY doc_id""".stripMargin

  /** Mirror of [[operators.TextAnalysis.dedupParagraphs]]: keep iff this
    * (doc_id, pos) is the line's corpus-wide minimum — the window rn=1 form
    * is value-identical to the Spark side's min(struct) groupBy.
    */
  def dedupParagraph: String =
    s"""WITH $mlLinesCte,
       |r AS (SELECT doc_id, pos, line, row_number() OVER
       |    (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM l)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
       |    ORDER BY pos), '') AS clean_text
       |FROM r GROUP BY doc_id""".stripMargin

  /** Mirror of [[operators.TextAnalysis.unigramLm]]: `printf('%b', cnt)`
    * digit count = Spark's `length(conv(cnt, 10, 2))` — the same exact
    * integer floor(log2)+1; the e6 mean repeats the identical double ops.
    */
  val textUnigramLm: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(length(printf('%b', cnt))) AS BIGINT) AS lm_bits,
      |  CAST(round(1e6 * sum(length(printf('%b', cnt))) / count(*)) AS BIGINT)
      |    AS avg_bits_e6
      |FROM tok JOIN v USING (token) GROUP BY doc_id""".stripMargin

  /** Mirror of [[operators.TextAnalysis.dsirScore]]: the unigram mirror's
    * bitlen arithmetic with add-one smoothing, target count as a
    * conditional sum against the lexicographically first source.
    */
  val docDsir: String =
    """WITH tok AS (SELECT doc_id, source,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |v AS (SELECT token, count(*) AS cnt,
      |    CAST(sum(CASE WHEN source = (SELECT min(source) FROM documents)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
      |  FROM tok GROUP BY token)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(length(printf('%b', cnt_t + 1))
      |    - length(printf('%b', cnt + 1))) AS BIGINT) AS dsir_bits,
      |  CAST(round(1e6 * sum(length(printf('%b', cnt_t + 1))
      |    - length(printf('%b', cnt + 1))) / count(*)) AS BIGINT) AS avg_bits_e6
      |FROM tok JOIN v USING (token) GROUP BY doc_id""".stripMargin

  /** Mirror of the `pipeline_select` composition: quality gate →
    * [[docDsir]]'s scoring over the survivors (vocab, target source, and
    * corpus all drawn from the CLEANED relation) → top-⌈n/2⌉ per source by
    * (avg_bits_e6 DESC, doc_id), the integer ceil rule `rnk·2 ≤ cnt+1`.
    */
  def pipelineSelect(minTokens: Int, maxTokens: Int): String =
    s"""WITH qual AS (SELECT doc_id FROM (
       |${textQuality(minTokens, maxTokens)}
       |) q WHERE keep = 1),
       |clean AS (SELECT d.* FROM documents d JOIN qual ON d.doc_id = qual.doc_id),
       |tok AS (SELECT doc_id, source,
       |    unnest(string_split(text, ' ')) AS token FROM clean),
       |v AS (SELECT token, count(*) AS cnt,
       |    CAST(sum(CASE WHEN source = (SELECT min(source) FROM clean)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
       |  FROM tok GROUP BY token),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(round(1e6 * sum(length(printf('%b', cnt_t + 1))
       |      - length(printf('%b', cnt + 1))) / count(*)) AS BIGINT) AS avg_bits_e6
       |  FROM tok JOIN v USING (token) GROUP BY doc_id),
       |r AS (SELECT c.doc_id, c.source, sc.n_tokens, sc.avg_bits_e6,
       |    CAST(row_number() OVER (PARTITION BY c.source
       |      ORDER BY sc.avg_bits_e6 DESC, c.doc_id) AS BIGINT) AS rnk,
       |    count(*) OVER (PARTITION BY c.source) AS cnt
       |  FROM clean c JOIN sc ON sc.doc_id = c.doc_id)
       |SELECT doc_id, source, n_tokens, avg_bits_e6, rnk
       |FROM r WHERE rnk * 2 <= cnt + 1""".stripMargin

  /** Mirror of [[operators.TextAnalysis.bigramLm]]: the spanCtes 2-gram
    * construction (list_slice join of adjacent tokens), then the unigram
    * mirror's bitlen/e6 arithmetic; docs with no bigram left-join to 0.
    */
  val textBigramLm: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |ex AS (SELECT doc_id, tk,
      |    unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS pos
      |  FROM t),
      |bg AS (SELECT doc_id,
      |    array_to_string(list_slice(tk, pos, pos + 1), ' ') AS bigram
      |  FROM ex),
      |v AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram),
      |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(length(printf('%b', cnt))) AS BIGINT) AS lm_bits
      |  FROM bg JOIN v USING (bigram) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |  coalesce(sc.lm_bits, 0) AS lm_bits,
      |  CASE WHEN coalesce(sc.n_bigrams, 0) > 0
      |    THEN CAST(round(1e6 * sc.lm_bits / sc.n_bigrams) AS BIGINT)
      |    ELSE 0 END AS avg_bits_e6
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Mirror of [[operators.TextAnalysis.bpeTrain]] — the iterative merge
    * loop UNROLLED into `nMerges` CTE layers (the loop is bounded by
    * contract, so recursion isn't needed): each layer takes the argmax
    * adjacent pair (cnt desc, left, right — the Spark tie order) over the
    * previous segmentation state and applies the merge.
    *
    * The merge-apply trick: a word's segmentation is encoded as
    * `' ' || join(syms, '  ') || ' '` (TWO spaces between symbols, one at
    * each end) and the merge is `replace(seg, ' l  r ', ' lr ')`. Plain
    * leftmost non-overlapping `replace` on this encoding IS the BPE apply
    * rule: a match consumes only ONE of the two delimiter spaces on its
    * right, so back-to-back merges (`a a a a` → `aa aa`) still match, while
    * the overlapping middle pair of `a a a` can't double-consume the shared
    * symbol — exactly the (out, prev) fold the Spark side runs.
    */
  def textBpeTrain(nMerges: Int = 5): String = {
    val out = (1 to nMerges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_id, lft AS "left",
         |  rgt AS "right", cnt FROM m$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    bpeCtes(nMerges) + "\n" + out
  }

  /** Mirror of [[operators.TextAnalysis.bpeSegment]] over the
    * [[textBpeTrain]]-learned merges: the same unrolled layers, reading the
    * FINAL segmentation state instead of the merge sequence.
    */
  def textBpeApply(nMerges: Int = 5): String =
    bpeCtes(nMerges) + s"""
       |SELECT word, CAST(freq AS BIGINT) AS freq,
       |  CAST(len(string_split(trim(seg), '  ')) AS BIGINT) AS n_syms,
       |  array_to_string(string_split(trim(seg), '  '), ' ') AS seg
       |FROM s$nMerges""".stripMargin

  /** The shared BPE replay: vocabulary start state + `nMerges` unrolled
    * (argmax m-layer, merge-applied s-layer) pairs; `word` rides through
    * the s-layers so the apply mirror can read the final segmentation.
    * The s-layer LEFT JOINs its (0-or-1-row) m-layer so a corpus whose
    * pairs exhaust before `nMerges` carries the final state through the
    * remaining layers unchanged — matching Spark's early-stopped loop —
    * instead of a cross join with an empty argmax zeroing everything.
    */
  private def bpeCtes(nMerges: Int): String = {
    val base =
      """w0 AS (SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |s0 AS (SELECT word, freq,
        |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seg
        |  FROM w0)""".stripMargin
    val layers = (1 to nMerges).map { i =>
      s"""m$i AS (SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT sy[i] AS lft, sy[i + 1] AS rgt, freq
         |        FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
         |              FROM (SELECT freq, string_split(trim(seg), '  ') AS sy
         |                    FROM s${i - 1})))
         |  GROUP BY 1, 2 ORDER BY cnt DESC, lft, rgt LIMIT 1),
         |s$i AS (SELECT s.word, s.freq,
         |    CASE WHEN m.lft IS NULL THEN s.seg
         |         ELSE replace(s.seg, ' ' || m.lft || '  ' || m.rgt || ' ',
         |           ' ' || m.lft || m.rgt || ' ') END AS seg
         |  FROM s${i - 1} s LEFT JOIN m$i m ON TRUE)""".stripMargin
    }
    "WITH " + (base +: layers).mkString(",\n")
  }

  /** Mirror of the `q_corr` census: the same pre-scaled integer columns,
    * exact BIGINT sufficient statistics in one aggregate (cast back from
    * DuckDB's widening), and the identical double formula per pair.
    */
  val qCorr: String = {
    val cols = Seq(
      "l_quantity" -> "CAST(round(l_quantity) AS BIGINT)",
      "l_extendedprice" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "l_discount" -> "CAST(round(l_discount * 10000) AS BIGINT)",
      "l_tax" -> "CAST(round(l_tax * 10000) AS BIGINT)")
    val sums = cols.map { case (nm, _) => s"CAST(sum($nm) AS BIGINT) AS s_$nm" } ++
      cols.map { case (nm, _) => s"CAST(sum($nm*$nm) AS BIGINT) AS ss_$nm" } ++
      (for { i <- cols.indices; j <- cols.indices if i < j } yield
        s"CAST(sum(${cols(i)._1}*${cols(j)._1}) AS BIGINT) AS sp_${cols(i)._1}__${cols(j)._1}")
    val branches = for { i <- cols.indices; j <- cols.indices if i < j } yield {
      val nx = cols(i)._1
      val ny = cols(j)._1
      s"""SELECT '$nx' AS col_x, '$ny' AS col_y, n,
         |  CAST(round((CAST(n AS DOUBLE) * sp_${nx}__$ny
         |      - CAST(s_$nx AS DOUBLE) * s_$ny)
         |    / (sqrt(CAST(n AS DOUBLE) * ss_$nx - CAST(s_$nx AS DOUBLE) * s_$nx)
         |      * sqrt(CAST(n AS DOUBLE) * ss_$ny - CAST(s_$ny AS DOUBLE) * s_$ny))
         |    * 1e6) AS BIGINT) AS corr_e6
         |FROM s""".stripMargin
    }
    s"""WITH t AS (SELECT ${cols.map { case (nm, e) => s"$e AS $nm" }.mkString(", ")}
       |  FROM lineitem),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(",\n  ")}
       |  FROM t)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Mirror of [[operators.Profiling.expectations]] over lineitem: one
    * UNION ALL branch per rule (the oracle spells out what the Spark side
    * sums in one scan), the same three-valued CASE WHEN per predicate, and
    * the uniqueness rule as Σcnt − #keys.
    */
  val qExpectations: String = {
    def rule(name: String, violPred: String): String =
      s"""SELECT '$name' AS rule, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $violPred THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
         |FROM lineitem""".stripMargin
    val branches = Seq(
      rule("orderkey_not_null", "l_orderkey IS NULL"),
      rule("quantity_in_1_50", "NOT (l_quantity >= 1.0 AND l_quantity <= 50.0)"),
      rule("price_positive", "l_extendedprice <= 0.0"),
      rule("returnflag_in_set", "l_returnflag NOT IN ('A', 'N', 'R')"),
      rule("discount_le_5pct", "l_discount > 0.05"),
      s"""SELECT 'unique_l_orderkey_l_linenumber' AS rule,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(sum(cnt) - count(*) AS BIGINT) AS n_violations
         |FROM (SELECT count(*) AS cnt FROM lineitem
         |      GROUP BY l_orderkey, l_linenumber) g""".stripMargin)
    s"""SELECT rule, n_rows, n_violations,
       |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
       |FROM (${branches.mkString("\nUNION ALL\n")}) t""".stripMargin
  }

  /** Mirror of the `q_drift` composition: the q_snapshot generation-log
    * CTE, both as-of snapshots, a per-column census branch per side (the
    * oracle spells out what [[operators.Profiling.drift]] generates), and
    * the #columns-row join with integer deltas.
    */
  val qDrift: String = {
    val cols = Seq("doc_id", "lang", "n_chars")
    def census(snap: String, suffix: String): String = cols.map(c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS rows_$suffix,
         |  CAST(count(*) - count($c) AS BIGINT) AS nulls_$suffix,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS distinct_$suffix
         |FROM $snap""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH lg AS (
       |  SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen, 'U' AS op
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'xx' AS lang, n_chars, CAST(2 AS BIGINT), 'U'
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id, lang, n_chars, CAST(3 AS BIGINT), 'D'
       |  FROM documents WHERE doc_id % 7 = 0),
       |snap1 AS (SELECT doc_id, lang, n_chars FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY gen DESC, op ASC) AS rn
       |  FROM lg WHERE gen <= 1) t WHERE rn = 1 AND op <> 'D'),
       |snap3 AS (SELECT doc_id, lang, n_chars FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY gen DESC, op ASC) AS rn
       |  FROM lg WHERE gen <= 3) t WHERE rn = 1 AND op <> 'D'),
       |b AS (${census("snap1", "before")}),
       |a AS (${census("snap3", "after")})
       |SELECT b.col_name, rows_before, nulls_before, distinct_before,
       |  rows_after, nulls_after, distinct_after,
       |  CAST(rows_after - rows_before AS BIGINT) AS rows_delta,
       |  CAST(distinct_after - distinct_before AS BIGINT) AS distinct_delta
       |FROM b JOIN a ON a.col_name = b.col_name""".stripMargin
  }

  /** Mirror of [[operators.Profiling.profile]]: one branch per column —
    * the oracle spells out what the Spark side generates programmatically.
    */
  def qProfile(table: String, cols: Seq[String]): String =
    cols.map(c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM $table""".stripMargin)
      .mkString("\nUNION ALL\n")

  /** Mirror of [[Dedup.cdcStats]] over the `dedup_cdc` query's corpus
    * (documents plus prefixed twins of every 5th doc): the per-row chunk
    * fold re-expressed as a window cumsum — a token's segment is the count
    * of boundary tokens (id ≡ 0 mod `mod`) strictly before it.
    */
  def dedupCdc(mod: Int): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id, 'zzz ' || text AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |tok AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS t,
       |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
       |      AS pos
       |  FROM corpus),
       |tid AS (SELECT doc_id, t, pos, ${tokenId("t")} AS id FROM tok),
       |seg AS (SELECT doc_id, t, pos,
       |    coalesce(sum(CASE WHEN id % $mod = 0 THEN 1 ELSE 0 END) OVER
       |      (PARTITION BY doc_id ORDER BY pos
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
       |  FROM tid),
       |ch AS (SELECT doc_id, s, string_agg(t, ' ' ORDER BY pos) AS chunk
       |  FROM seg GROUP BY doc_id, s),
       |cnt AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |FROM ch JOIN cnt USING (chunk) GROUP BY doc_id""".stripMargin

  /** Mirror of the `pipeline_cluster_stats` query: the simIvf cell
    * assignment (fixed first-k centroids, (dist, cid) tie order) joined to
    * the documents side on the shared id, rolled up per cell with the
    * deterministic (count desc, lang) top-language pick.
    */
  def pipelineClusterStats(nCells: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |d AS (SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |j AS (SELECT cell, lang, n_tok FROM cells c JOIN d ON c.vec_id = d.doc_id),
       |base AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS sum_tok FROM j GROUP BY cell),
       |bl AS (SELECT cell, lang, count(*) AS nl FROM j GROUP BY cell, lang),
       |top AS (SELECT cell, lang AS top_lang, CAST(nl AS BIGINT)
       |    AS top_lang_docs FROM (SELECT *, row_number() OVER
       |    (PARTITION BY cell ORDER BY nl DESC, lang) AS rn FROM bl) x
       |  WHERE rn = 1)
       |SELECT b.cell, b.n_docs, b.sum_tok, t.top_lang, t.top_lang_docs
       |FROM base b JOIN top t USING (cell)""".stripMargin

  /** Mirror of [[Dedup.decontaminate]]: same distinct shingle-id sets
    * (shingles → tokenId, the minhash pipeline's front half), LEFT JOIN
    * against the benchmark's distinct ids so `n_shared` counts matches,
    * and the integer-domain threshold compare.
    */
  def dedupDecontaminate(n: Int, thrNum: Int, thrDen: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |    list_distinct(list_transform(${shingles("string_split(text,' ')", n)}, s -> ${tokenId("s")})) AS ids
       |  FROM documents),
       |b AS (SELECT DISTINCT unnest(ids) AS id FROM t WHERE doc_id % 97 = 0),
       |e AS (SELECT doc_id, len(ids) AS n_shingles, unnest(ids) AS id FROM t
       |  WHERE doc_id % 97 <> 0),
       |m AS (SELECT e.doc_id, max(e.n_shingles) AS n_shingles, count(b.id) AS n_shared
       |  FROM e LEFT JOIN b ON e.id = b.id GROUP BY e.doc_id)
       |SELECT doc_id, n_shingles, n_shared,
       |  CAST(n_shared*$thrDen >= n_shingles*$thrNum AS BIGINT) AS contaminated
       |FROM m""".stripMargin

  /** Mirror of [[TextAnalysis.stratifiedSample]]: same LCG hash order, same
    * integer-domain ⌈cnt·num/den⌉ keep rule.
    */
  def docSample(num: Int, den: Int): String =
    s"""WITH t AS (SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM documents)
       |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
       |FROM t WHERE rn * $den <= cnt * $num + ${den - 1}""".stripMargin

  // ----------------------------------------------------------------- events

  def eventsSessionize(gapMinutes: Int): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
       |f AS (SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
       |         WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) > $gapUs THEN 1
       |         ELSE 0 END AS new_s
       |  FROM e),
       |g AS (SELECT user_id, us,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM f)
       |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |  count(*) AS n_events, min(us) AS start_us, max(us) - min(us) AS dur_us
       |FROM g GROUP BY user_id, session_id""".stripMargin
  }

  /** Mirror of [[operators.Events.anomalies]]: identical fixed-point rolling
    * sums over the identical (us, event_id)-ordered ROWS frame, identical
    * scalar mean/variance/z sequence, e6-integer threshold.
    */
  def eventsAnomaly(lookback: Int, minHistory: Int, thrE6: Long): String =
    s"""WITH x AS (SELECT event_id, user_id, epoch_us(ts) AS us,
       |    CAST(round(value*100.0) AS BIGINT) AS cents FROM events),
       |wst AS (SELECT event_id, user_id, us, cents,
       |    count(*) OVER w AS n, sum(cents) OVER w AS s,
       |    sum(cents*cents) OVER w AS s2
       |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING)),
       |st AS (SELECT event_id, user_id, us, n, cents,
       |    CAST(s AS DOUBLE)/100.0/n AS mean,
       |    CAST(s2 AS DOUBLE)/10000.0/n AS m2
       |  FROM wst WHERE n >= $minHistory),
       |z AS (SELECT event_id, user_id, us, n,
       |    sqrt(greatest(m2 - mean*mean, 0.0)) AS sd,
       |    CAST(round((CAST(cents AS DOUBLE)/100.0 - mean)
       |      / sqrt(greatest(m2 - mean*mean, 0.0)) * 1e6) AS BIGINT) AS z_e6
       |  FROM st)
       |SELECT event_id, user_id, us, n, z_e6
       |FROM z WHERE sd > 0 AND abs(z_e6) >= $thrE6""".stripMargin

  val eventsWindow: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Mirror of [[operators.Events.ohlc]]: the same positional-lexicographic
    * struct min/max over (µs, event_id, value) picks open/close
    * identically in both engines.
    */
  val eventsOhlc: String =
    """WITH t AS (SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
      |    epoch_us(ts) AS tus, event_id, user_id, value FROM events)
      |SELECT win_us, user_id,
      |  CAST(round(struct_extract(min(struct_pack(k := tus, e := event_id, v := value)), 'v') * 100) AS BIGINT) AS open_cents,
      |  CAST(round(struct_extract(max(struct_pack(k := tus, e := event_id, v := value)), 'v') * 100) AS BIGINT) AS close_cents,
      |  CAST(round(max(value) * 100) AS BIGINT) AS high_cents,
      |  CAST(round(min(value) * 100) AS BIGINT) AS low_cents,
      |  count(*) AS n
      |FROM t GROUP BY 1, 2""".stripMargin

  /** Mirror of [[operators.Events.lagFeatures]]: identical (ts_us,
    * event_id) window order, integer lags/deltas/rolling sums.
    */
  val eventsFeatures: String =
    """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(round(value * 100) AS BIGINT) AS v_cents FROM events)
      |SELECT user_id, event_id, ts_us, v_cents,
      |  lag(v_cents) OVER w AS lag1_cents,
      |  v_cents - lag(v_cents) OVER w AS delta_cents,
      |  ts_us - lag(ts_us) OVER w AS gap_us,
      |  CAST(sum(v_cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_sum_cents,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_roll
      |FROM t
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  /** Mirror of [[operators.Events.gapFill]]: per-user generate_series hour
    * spine, the [[eventsOhlc]] struct-max hourly close, and the same
    * IGNORE NULLS running last_value carry-forward. The hour id uses the
    * same exact pmod FLOOR division as the Spark side (`//` alone truncates
    * toward zero, which would shift pre-1970 hours by one).
    */
  val eventsGapFill: String =
    """WITH h AS (SELECT user_id,
      |    (epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000)
      |      % 3600000000)) // 3600000000 AS hr,
      |    struct_extract(max(struct_pack(k := epoch_us(ts), e := event_id,
      |      v := value)), 'v') AS v_close
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT user_id, unnest(generate_series(min(hr), max(hr))) AS hr
      |  FROM h GROUP BY user_id),
      |j AS (SELECT sp.user_id, sp.hr, h.v_close
      |  FROM sp LEFT JOIN h ON h.user_id = sp.user_id AND h.hr = sp.hr)
      |SELECT user_id, hr,
      |  CAST(round(last_value(v_close IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) AS BIGINT)
      |    AS filled_cents,
      |  CAST(CASE WHEN v_close IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
      |FROM j""".stripMargin

  /** Mirror of [[operators.Events.attributionShapley]]: the same per-user
    * exposure bitmask + conversion census, then the exact Shapley
    * combination spelled over a generated all-masks table — coalition
    * coefficients s!(C−1−s)! precomputed in Scala as CASE arms over
    * `bit_count`, coalition values in the same e6 floor division.
    */
  def eventsAttributionShapley(channels: Seq[String],
      conv: String = "purchase"): String = {
    val n = channels.size
    val maskExpr = channels.zipWithIndex.map { case (ch, i) =>
      s"max(CASE WHEN event_type = '$ch' THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val chValues = channels.zipWithIndex
      .map { case (ch, i) => s"('$ch', $i)" }.mkString(", ")
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val coefArms = (0 until n)
      .map(s => s"WHEN $s THEN ${fact(s) * fact(n - s - 1)}").mkString(" ")
    s"""WITH pu AS (SELECT user_id, $maskExpr AS mask,
       |    max(CASE WHEN event_type = '$conv' THEN 1 ELSE 0 END) AS cv
       |  FROM events GROUP BY 1),
       |cen AS (SELECT mask, count(*) AS users, sum(cv) AS convs
       |  FROM pu GROUP BY 1),
       |am AS (SELECT range AS mask FROM range(${1 << n})),
       |v AS (SELECT am.mask, coalesce(users, 0) AS users,
       |    CASE WHEN coalesce(users, 0) = 0 THEN 0
       |         ELSE convs * 1000000 // users END AS v_e6
       |  FROM am LEFT JOIN cen ON cen.mask = am.mask),
       |ch AS (SELECT * FROM (VALUES $chValues) AS t(channel, bit))
       |SELECT ch.channel,
       |  CAST((SELECT coalesce(sum(users), 0) FROM v
       |    WHERE (v.mask >> ch.bit) & 1 = 1) AS BIGINT) AS users_exposed,
       |  CAST((SELECT sum((CASE bit_count(v0.mask) $coefArms END)
       |      * (v1.v_e6 - v0.v_e6))
       |    FROM v v0 JOIN v v1 ON v1.mask = v0.mask + (1 << ch.bit)
       |    WHERE (v0.mask >> ch.bit) & 1 = 0) AS BIGINT) AS shapley_scaled_e6
       |FROM ch""".stripMargin
  }

  /** Mirror of [[operators.Events.bootstrapCi]]: the SAME LCG constants
    * and Poisson inverse-CDF thresholds (read from the one shared
    * definition, never re-derived), the same e6 floor-division replicate
    * means, and the same order-statistic CI rule spelled as row_number
    * picks.
    */
  def eventsBootstrapCi(b: Int = 32, conv: String = "purchase"): String = {
    import operators.Events._
    val arms = BootPoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN uu < $t THEN $k" }.mkString(" ")
    s"""WITH p AS (SELECT event_id % $BootLcgM AS eid,
       |    CAST(round(value * 100.0) AS BIGINT) AS cents
       |  FROM events WHERE event_type = '$conv'),
       |reps AS (SELECT range AS rep FROM range($b)),
       |w AS (SELECT rep, cents, CASE $arms ELSE 8 END AS w FROM (
       |  SELECT rep, cents,
       |    (eid * $BootLcgA + $BootLcgC0 + rep * $BootLcgCStep) % $BootLcgM AS uu
       |  FROM p CROSS JOIN reps)),
       |m AS (SELECT rep, CASE WHEN sum(w) = 0 THEN 0
       |    ELSE sum(w * cents) * 10000 // sum(w) END AS m_e6
       |  FROM w GROUP BY rep),
       |r AS (SELECT m_e6, row_number() OVER (ORDER BY m_e6) AS rn FROM m)
       |SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n,
       |  CAST((SELECT CASE WHEN count(*) = 0 THEN 0
       |    ELSE sum(cents) * 10000 // count(*) END FROM p) AS BIGINT) AS mean_e6,
       |  CAST(coalesce((SELECT m_e6 FROM r WHERE rn = 2), 0) AS BIGINT) AS lo_e6,
       |  CAST(coalesce((SELECT m_e6 FROM r WHERE rn = ${b - 1}), 0) AS BIGINT)
       |    AS hi_e6""".stripMargin
  }

  /** Mirror of [[operators.Events.attribution]]: per-user windowed pair
    * join, the same two purchase-partition windows, and the identical
    * integer floor-division credit split (`//` on positive BIGINTs ==
    * Spark `div`).
    */
  def eventsAttribution(clickType: String, purchaseType: String,
      windowHours: Int): String = {
    val winUs = windowHours * 3600L * 1000000L
    s"""WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
       |    FROM events WHERE event_type = '$purchaseType'),
       |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
       |    FROM events WHERE event_type = '$clickType'),
       |j AS (SELECT p.user_id, p.purchase_id, c.click_id, c.c_us
       |  FROM p JOIN c ON c.user_id = p.user_id
       |    AND c.c_us <= p.p_us AND c.c_us > p.p_us - $winUs),
       |w AS (SELECT user_id, purchase_id, click_id,
       |    count(*) OVER (PARTITION BY purchase_id) AS n_touch,
       |    row_number() OVER (PARTITION BY purchase_id
       |      ORDER BY c_us DESC, click_id DESC) AS rnk
       |  FROM j)
       |SELECT user_id, purchase_id, click_id,
       |  CAST(n_touch AS BIGINT) AS n_touch, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(CASE WHEN rnk = 1
       |    THEN 1000000 - (n_touch - 1) * (1000000 // n_touch)
       |    ELSE 1000000 // n_touch END AS BIGINT) AS credit_ppm
       |FROM w""".stripMargin
  }

  /** Mirror of [[Events.attributionPosition]]: same pair CTEs as
    * [[eventsAttribution]], the U-shaped CASE with identical integer floor
    * division and last-touch remainder absorption.
    */
  def eventsAttributionPosition(clickType: String, purchaseType: String,
      windowHours: Int): String = {
    val winUs = windowHours * 3600L * 1000000L
    s"""WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
       |    FROM events WHERE event_type = '$purchaseType'),
       |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
       |    FROM events WHERE event_type = '$clickType'),
       |j AS (SELECT p.user_id, p.purchase_id, c.click_id, c.c_us
       |  FROM p JOIN c ON c.user_id = p.user_id
       |    AND c.c_us <= p.p_us AND c.c_us > p.p_us - $winUs),
       |w AS (SELECT user_id, purchase_id, click_id,
       |    count(*) OVER (PARTITION BY purchase_id) AS n_touch,
       |    row_number() OVER (PARTITION BY purchase_id
       |      ORDER BY c_us DESC, click_id DESC) AS rnk
       |  FROM j)
       |SELECT user_id, purchase_id, click_id,
       |  CAST(n_touch AS BIGINT) AS n_touch, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(CASE WHEN n_touch = 1 THEN 1000000
       |       WHEN n_touch = 2 THEN 500000
       |       WHEN rnk = n_touch THEN 400000
       |       WHEN rnk = 1
       |         THEN 600000 - (n_touch - 2) * (200000 // (n_touch - 2))
       |       ELSE 200000 // (n_touch - 2) END AS BIGINT) AS credit_ppm
       |FROM w""".stripMargin
  }

  /** Mirror of the `q_observe` counters, replayed relationally (the Spark
    * side computes them as CollectMetrics riding the pipeline's own pass).
    */
  val qObserve: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN l_discount > 0.06 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high_disc,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem""".stripMargin

  /** Mirror of [[operators.Events.slidingWindowAgg]]: each event expands to
    * its two 30-min-aligned 1-hour windows.
    */
  val eventsSliding: String =
    """WITH x AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
      |e AS (SELECT (tus // 1800000000 - k) * 1800000000 AS win_us,
      |    event_type, value
      |  FROM x, (SELECT unnest([0, 1]) AS k))
      |SELECT win_us, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM e GROUP BY 1, 2""".stripMargin

  /** Mirror of [[operators.Events.sessionWindowAgg]]: the gap CTE with the
    * built-in's boundary rule (diff >= gap starts a new session) and
    * end = last event + gap.
    */
  def eventsSessionWindow(gapMinutes: Int): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH x AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       |m AS (SELECT user_id, us,
       |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
       |      >= $gapUs OR lag(us) OVER (PARTITION BY user_id ORDER BY us)
       |      IS NULL THEN 1 ELSE 0 END AS new_s
       |  FROM x),
       |s AS (SELECT user_id, us, sum(new_s) OVER (PARTITION BY user_id
       |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM m)
       |SELECT user_id, min(us) AS start_us, max(us) + $gapUs AS end_us,
       |  count(*) AS n_events
       |FROM s GROUP BY user_id, sid""".stripMargin
  }

  val eventsJson: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) / count(*) AS avg_k
      |FROM events GROUP BY event_type""".stripMargin

  /** Mirror of [[Events.asofJoin]] via DuckDB's native ASOF LEFT JOIN — an
    * independent implementation of the same semantics (latest right-side
    * event per user at or before each left event; unmatched stay NULL), so
    * the union + carry-forward window is checked against a real range
    * algorithm, not a re-statement of itself.
    */
  def eventsAsof(leftType: String, rightType: String): String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = '$leftType'),
       |r AS (SELECT user_id, us FROM e WHERE event_type = '$rightType')
       |SELECT l.event_id, l.user_id, l.us, r.us AS asof_us
       |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us""".stripMargin

  /** Mirror of [[Events.asofJoinTolerance]]: the [[eventsAsof]] native
    * ASOF LEFT JOIN with the staleness CASE on top (NULL right side stays
    * NULL through the three-valued comparison).
    */
  def eventsAsofTolerance(leftType: String, rightType: String,
      tolMinutes: Int): String = {
    val tolUs = tolMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = '$leftType'),
       |r AS (SELECT user_id, us FROM e WHERE event_type = '$rightType')
       |SELECT l.event_id, l.user_id, l.us,
       |  CASE WHEN l.us - r.us <= $tolUs THEN r.us END AS asof_us,
       |  CASE WHEN l.us - r.us <= $tolUs THEN l.us - r.us END AS age_us
       |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us""".stripMargin
  }

  /** Mirror of [[Events.asofJoinForward]]: the forward direction written as
    * a grouped-min over an inequality join — O(pairs) but unambiguous, the
    * oracle-side price of not depending on DuckDB's ASOF direction rules.
    */
  def eventsAsofForward(leftType: String, rightType: String): String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = '$leftType'),
       |r AS (SELECT user_id, us FROM e WHERE event_type = '$rightType')
       |SELECT l.event_id, l.user_id, l.us, min(r.us) AS asof_us
       |FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.us >= l.us
       |GROUP BY l.event_id, l.user_id, l.us""".stripMargin

  /** Mirror of [[Events.concurrency]]: the identical two-level sweep —
    * per-timestamp delta rollup, intra-day prefix, day-level midnight base —
    * over the [[eventsSessionize]] session relation as a subquery.
    */
  def eventsConcurrency(gapMinutes: Int): String =
    s"""WITH sess AS (${eventsSessionize(gapMinutes)}),
       |d AS (SELECT start_us AS us, 1 AS delta FROM sess
       |  UNION ALL SELECT start_us + dur_us + 1 AS us, -1 AS delta FROM sess),
       |pts AS (SELECT us, sum(delta) AS delta,
       |    sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS plus,
       |    sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS minus
       |  FROM d GROUP BY us),
       |intra AS (SELECT us, us // 86400000000 AS day, delta, plus, minus,
       |    sum(delta) OVER (PARTITION BY us // 86400000000 ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
       |  FROM pts),
       |pd AS (SELECT day, sum(delta) AS tot, max(pre) AS maxpre,
       |    sum(plus) AS n_start, sum(minus) AS n_end
       |  FROM intra GROUP BY day),
       |b AS (SELECT day, maxpre, n_start, n_end,
       |    coalesce(sum(tot) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
       |  FROM pd)
       |SELECT day, CAST(base AS BIGINT) AS base,
       |  CAST(base + greatest(maxpre, 0) AS BIGINT) AS peak,
       |  CAST(n_start AS BIGINT) AS n_start, CAST(n_end AS BIGINT) AS n_end
       |FROM b""".stripMargin

  /** Mirror of [[Events.twap]]: identical lead/clamp weights in integer
    * microseconds, identical `Σ(cents·weight) div Σweight` integer average.
    */
  def eventsTwap: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
       |    epoch_us(ts) // 86400000000 AS day,
       |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
       |x AS (SELECT user_id, day, cents, us,
       |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
       |  FROM e),
       |y AS (SELECT user_id, day, cents,
       |    least(coalesce(next_us, 9223372036854775807),
       |      (day + 1) * 86400000000) - us AS weight
       |  FROM x)
       |SELECT user_id, day, count(*) AS n_events,
       |  CAST(sum(weight) AS BIGINT) AS weight_us,
       |  CAST(sum(cents * weight) // sum(weight) AS BIGINT) AS twap_cents
       |FROM y GROUP BY user_id, day""".stripMargin

  /** Mirror of [[Events.mannWhitney]]: identical doubled-rank integers over
    * the grouped cent domain, identical fixed double z formula (operand
    * order preserved so both engines emit bit-identical IEEE results).
    */
  def eventsMannWhitney(armA: String, armB: String): String =
    s"""WITH ab AS (SELECT CASE WHEN event_type = '$armA' THEN 0 ELSE 1 END AS arm,
       |    CAST(round(value*100) AS BIGINT) AS cents
       |  FROM events WHERE event_type IN ('$armA', '$armB')),
       |bv AS (SELECT cents,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na_c,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb_c
       |  FROM ab GROUP BY cents),
       |r AS (SELECT cents, na_c, nb_c,
       |    coalesce(sum(na_c + nb_c) OVER (ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl,
       |    na_c + nb_c AS ce
       |  FROM bv),
       |g AS (SELECT CAST(sum(na_c) AS BIGINT) AS na,
       |    CAST(sum(nb_c) AS BIGINT) AS nb,
       |    CAST(sum(na_c * (cl * 2 + ce + 1)) AS BIGINT) AS r2_a,
       |    CAST(sum(ce*ce*ce - ce) AS BIGINT) AS tie3
       |  FROM r),
       |z AS (SELECT na, nb, r2_a, tie3, r2_a - na * (na + 1) AS u2_a,
       |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
       |      ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(tie3 AS DOUBLE) /
       |        (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))
       |      AS var_u
       |  FROM g)
       |SELECT na, nb, u2_a, na * nb * 2 - u2_a AS u2_b, tie3,
       |  CASE WHEN var_u > 0 THEN CAST(round((CAST(u2_a AS DOUBLE) -
       |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / (2.0 * sqrt(var_u))
       |    * 1e6) AS BIGINT) END AS z_e6
       |FROM z""".stripMargin

  /** Mirror of [[Events.survival]]: identical per-user lifetime reduction,
    * censoring rule, and day-level running risk set.
    */
  def eventsSurvival(censorDays: Int): String =
    s"""WITH u AS (SELECT user_id,
       |    min(epoch_us(ts) // 86400000000) AS first_day,
       |    max(epoch_us(ts) // 86400000000) AS last_day
       |  FROM events GROUP BY user_id),
       |m AS (SELECT max(last_day) AS max_day FROM u),
       |uu AS (SELECT u.*, CASE WHEN last_day <= max_day - $censorDays
       |    THEN 1 ELSE 0 END AS churned FROM u, m),
       |d AS (SELECT first_day AS day, 1 AS enter, 0 AS churn, 0 AS cens FROM uu
       |  UNION ALL SELECT last_day, 0, churned, 1 - churned FROM uu),
       |pd AS (SELECT day, sum(enter) AS enters, sum(churn) AS n_churn,
       |    sum(cens) AS n_censored
       |  FROM d GROUP BY day),
       |r AS (SELECT day, n_churn, n_censored,
       |    sum(enters) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - coalesce(sum(n_churn + n_censored) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM pd)
       |SELECT day, CAST(n_risk AS BIGINT) AS n_risk,
       |  CAST(n_churn AS BIGINT) AS n_churn,
       |  CAST(n_censored AS BIGINT) AS n_censored,
       |  CAST(n_churn * 1000000 // n_risk AS BIGINT) AS hazard_ppm
       |FROM r""".stripMargin

  /** Mirror of [[Events.trend]]: identical integer sufficient statistics,
    * identical fixed double slope formula.
    */
  def eventsTrend(minDays: Int): String =
    s"""WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    sum(CAST(round(value*100) AS BIGINT)) AS cents
       |  FROM events GROUP BY user_id, epoch_us(ts) // 86400000000),
       |g AS (SELECT user_id, count(*) AS n_days, sum(day) AS sx,
       |    sum(cents) AS sy, sum(day * cents) AS sxy, sum(day * day) AS sxx
       |  FROM daily GROUP BY user_id)
       |SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
       |  CAST(sy AS BIGINT) AS sum_cents,
       |  CAST(round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1e6) AS BIGINT)
       |    AS slope_e6
       |FROM g WHERE n_days >= $minDays
       |  AND CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.spanCorruption]]: the same
    * (doc_id, position) LCG seeds, the same closed-form masked/span-start
    * predicates as list_transform lambdas, integer sums.
    */
  def textSpanCorruption(ratePct: Int, spanLen: Int): String = {
    def seed(q: String) =
      s"($q >= 1 AND ((doc_id*1000003 + $q) % 2147483647 * 1103515245" +
        s" + 12345) % 2147483647 % 100 < $ratePct)"
    def masked(p: String) =
      (0 until spanLen).map(d => seed(s"($p - $d)"))
        .mkString("(", " OR ", ")")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    list_transform(range(1, greatest(len(toks), 1) + 1), p ->
       |      CASE WHEN ${masked("p")} THEN 1 ELSE 0 END) AS mk,
       |    list_transform(range(1, greatest(len(toks), 1) + 1), p ->
       |      CASE WHEN ${masked("p")} AND NOT ${masked("(p-1)")}
       |        THEN 1 ELSE 0 END) AS st
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(list_aggregate(mk, 'sum') AS BIGINT) AS n_masked,
       |  CAST(list_aggregate(st, 'sum') AS BIGINT) AS n_spans,
       |  CAST(list_aggregate(mk, 'sum') * 1000000 // greatest(n_tokens, 1)
       |    AS BIGINT) AS mask_ppm
       |FROM m""".stripMargin
  }

  /** Mirror of [[Events.rollingActiveUsers]]: the same (user, day)
    * reduction, ×windowDays explode, observed-day semi-filter, and
    * integer stickiness division.
    */
  def eventsRollingWau(windowDays: Int): String =
    s"""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
       |  FROM events),
       |c AS (SELECT ud.user_id, ud.day + r.i AS target_day
       |  FROM ud, range($windowDays) r(i)),
       |wau AS (SELECT target_day, count(DISTINCT user_id) AS wau FROM c
       |  WHERE target_day IN (SELECT day FROM ud) GROUP BY 1),
       |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1)
       |SELECT dau.day, CAST(wau AS BIGINT) AS wau, CAST(dau AS BIGINT) AS dau,
       |  CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_ppm
       |FROM wau JOIN dau ON wau.target_day = dau.day""".stripMargin

  /** Mirror of [[Events.autocorr]]: same daily-cents reduction, per-lag
    * shifted self-join, and the [[eventsTrend]] fixed-double Pearson
    * formula over exact integer sufficient statistics.
    */
  def eventsAutocorr(revenueType: String, maxLag: Int): String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    sum(CAST(round(value*100) AS BIGINT)) AS cents
       |  FROM events WHERE event_type = '$revenueType'
       |  GROUP BY 1),
       |x AS (SELECT l.i AS lag, a.day + l.i AS day2, a.cents AS x
       |  FROM daily a, range(1, ${maxLag + 1}) l(i)),
       |p AS (SELECT x.lag, x.x, b.cents AS y
       |  FROM x JOIN daily b ON b.day = x.day2),
       |g AS (SELECT lag, count(*) AS n_pairs,
       |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
       |    sum(y*y) AS syy, sum(x*y) AS sxy
       |  FROM p GROUP BY 1)
       |SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CASE WHEN sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
       |    THEN CAST(round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1e6) AS BIGINT)
       |    END AS r_e6
       |FROM g""".stripMargin

  /** Mirror of [[Events.botDetect]]: lag-window gaps ordered by
    * (ts, event_id), the same integer rate/share fixed-point divisions,
    * and the same flag policy.
    */
  def eventsBotDetect(minEvents: Int, fastGapUs: Long,
      maxPerHourX100: Long): String =
    s"""WITH g AS (SELECT user_id, epoch_us(ts) AS us,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
       |  FROM events),
       |a AS (SELECT user_id, count(*) AS n_events,
       |    max(us) - min(us) AS span_us,
       |    sum(CASE WHEN gap_us < $fastGapUs THEN 1 ELSE 0 END) AS n_fast,
       |    coalesce(min(gap_us), -1) AS min_gap_us
       |  FROM g GROUP BY 1),
       |b AS (SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       |    CAST(span_us AS BIGINT) AS span_us, CAST(n_fast AS BIGINT) AS n_fast,
       |    CAST(min_gap_us AS BIGINT) AS min_gap_us,
       |    CAST(CASE WHEN span_us > 0
       |      THEN n_events * 360000000000 // span_us ELSE 0 END AS BIGINT)
       |      AS per_hour_x100,
       |    CAST(CASE WHEN n_events > 1
       |      THEN n_fast * 1000000 // (n_events - 1) ELSE 0 END AS BIGINT)
       |      AS fast_share_ppm
       |  FROM a)
       |SELECT *, CAST(CASE WHEN n_events >= $minEvents
       |    AND (per_hour_x100 > $maxPerHourX100 OR fast_share_ppm > 500000)
       |  THEN 1 ELSE 0 END AS BIGINT) AS is_bot
       |FROM b""".stripMargin

  /** Mirror of [[Events.funnel]]: chained min-join stages, epoch-µs integer
    * timestamps so the window comparison is exact on both engines.
    */
  def eventsFunnel(stages: Seq[String], windowHours: Int): String = {
    val winUs = windowHours * 3600L * 1000000L
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(us) AS t FROM ev WHERE event_type = '$st' GROUP BY 1)"
      else
        s"""s${i + 1} AS (SELECT ev.user_id, min(us) AS t FROM ev
           |  JOIN s$i ON ev.user_id = s$i.user_id
           |  WHERE event_type = '$st' AND us > s$i.t AND us <= s$i.t + $winUs
           |  GROUP BY ev.user_id)""".stripMargin
    }.mkString(",\n")
    val rows = stages.zipWithIndex.map { case (st, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS stage, '$st' AS event_type, (SELECT count(*) FROM s${i + 1}) AS users"
    }.mkString("\nUNION ALL ")
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |$ctes
       |$rows""".stripMargin
  }

  /** Mirror of [[Events.funnelSweep]]: one [[eventsFunnel]] replay per
    * window, stamped and unioned.
    */
  def eventsFunnelSweep(stages: Seq[String], windows: Seq[Int]): String =
    windows.map { wh =>
      s"""SELECT CAST($wh AS BIGINT) AS window_hours, stage, event_type, users
         |FROM (${eventsFunnel(stages, wh)}) t""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of [[Events.funnelLatency]]: [[eventsFunnel]]'s chained stage
    * CTEs, then one join + scalar aggregate per consecutive pair. DuckDB
    * `median(BIGINT)` interpolates even counts exactly like Spark's
    * `percentile(_, 0.5)` (x.0/x.5, exact in a double — the
    * docQualityGate discipline); empty pairs keep NULL min/max/median
    * while BOTH sides pin the empty-input SUM (NULL in SQL) to 0 with an
    * explicit coalesce.
    */
  def eventsFunnelLatency(stages: Seq[String], windowHours: Int): String = {
    val winUs = windowHours * 3600L * 1000000L
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(us) AS t FROM ev WHERE event_type = '$st' GROUP BY 1)"
      else
        s"""s${i + 1} AS (SELECT ev.user_id, min(us) AS t FROM ev
           |  JOIN s$i ON ev.user_id = s$i.user_id
           |  WHERE event_type = '$st' AND us > s$i.t AND us <= s$i.t + $winUs
           |  GROUP BY ev.user_id)""".stripMargin
    }.mkString(",\n")
    val rows = (1 until stages.size).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS step,
         |  '${stages(i - 1)}' AS from_type, '${stages(i)}' AS to_type,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(min(b.t - a.t) AS BIGINT) AS min_us,
         |  CAST(max(b.t - a.t) AS BIGINT) AS max_us,
         |  CAST(coalesce(sum(b.t - a.t), 0) AS BIGINT) AS sum_us,
         |  CAST(round(median(b.t - a.t) * 10) AS BIGINT) AS med_us_d10
         |FROM s$i a JOIN s${i + 1} b ON a.user_id = b.user_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |$ctes
       |$rows""".stripMargin
  }

  /** Mirror of [[Events.topPaths]]: same session tagging as
    * [[eventsSessionize]], per-session type sequences ordered by
    * (us, event_id) — a total order, so `list(... ORDER BY ...)` and
    * Spark's `sort_array(collect_list(struct))` agree — sliding n-grams,
    * count, deterministic top-k.
    */
  def eventsPaths(n: Int, k: Int, gapMinutes: Int): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       |f AS (SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL THEN 1
       |         WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $gapUs THEN 1
       |         ELSE 0 END AS new_s
       |  FROM e),
       |g AS (SELECT user_id, event_type, us, event_id,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM f),
       |seq AS (SELECT user_id, session_id, list(event_type ORDER BY us, event_id) AS types
       |  FROM g GROUP BY user_id, session_id),
       |grams AS (SELECT unnest(list_transform(range(1, len(types)-${n - 2}),
       |    s -> array_to_string(list_slice(types, s, s+${n - 1}), '>'))) AS path
       |  FROM seq WHERE len(types) >= $n)
       |SELECT path, count(*) AS cnt FROM grams GROUP BY path
       |ORDER BY cnt DESC, path LIMIT $k""".stripMargin
  }

  /** Mirror of [[Events.transitions]]: same session CTEs as
    * [[eventsPaths]], then a lead window per (user, session) and the
    * row-normalized matrix in integer ppm.
    */
  def eventsTransitions(gapMinutes: Int): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       |f AS (SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL THEN 1
       |         WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $gapUs THEN 1
       |         ELSE 0 END AS new_s
       |  FROM e),
       |g AS (SELECT user_id, event_type, us, event_id,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM f),
       |p AS (SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id, session_id
       |      ORDER BY us, event_id) AS to_type
       |  FROM g),
       |m AS (SELECT from_type, to_type, count(*) AS cnt FROM p
       |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
       |SELECT from_type, to_type, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(cnt * 1000000 // sum(cnt) OVER (PARTITION BY from_type) AS BIGINT)
       |    AS p_ppm
       |FROM m""".stripMargin
  }

  /** Mirror of [[graft.operators.Events.attributionMarkov]]: the
    * [[eventsTransitions]] sessionization, journeys truncated at the first
    * conversion, START/CONV/NULL framing, ppm transition matrix, and the
    * bounded integer value-iteration UNROLLED as `iters` CTE steps — run
    * once per variant (base + one redirect-to-NULL variant per channel,
    * the variant dimension data-driven via a cross join, so the SQL never
    * hard-codes the channel set).
    */
  def eventsAttributionMarkov(conv: String = "purchase",
      gapMinutes: Int = 30, iters: Int = 20): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
              |f AS (SELECT user_id, event_id, event_type, us,
              |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL THEN 1
              |         WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $gapUs THEN 1
              |         ELSE 0 END AS new_s
              |  FROM e),
              |g AS (SELECT user_id, event_type, us, event_id,
              |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              |  FROM f),
              |r AS (SELECT user_id, session_id, event_type,
              |    row_number() OVER (PARTITION BY user_id, session_id
              |      ORDER BY us, event_id) AS rn
              |  FROM g),
              |cp AS (SELECT user_id, session_id, min(rn) AS cpos FROM r
              |  WHERE event_type = '$conv' GROUP BY 1, 2),
              |st AS (SELECT r.user_id, r.session_id, r.rn, cp.cpos,
              |    CASE WHEN r.rn = cp.cpos THEN 'CONV' ELSE r.event_type END AS state
              |  FROM r LEFT JOIN cp ON cp.user_id = r.user_id
              |    AND cp.session_id = r.session_id
              |  WHERE cp.cpos IS NULL OR r.rn <= cp.cpos),
              |w1 AS (SELECT coalesce(lag(state) OVER (PARTITION BY user_id, session_id
              |      ORDER BY rn), 'START') AS from_state, state AS to_state
              |  FROM st),
              |tm AS (SELECT state AS from_state, 'NULL' AS to_state FROM (
              |    SELECT state, rn, cpos,
              |      max(rn) OVER (PARTITION BY user_id, session_id) AS mx FROM st) z
              |  WHERE cpos IS NULL AND rn = mx),
              |ed AS (SELECT from_state, to_state, count(*) AS cnt FROM (
              |    SELECT * FROM w1 UNION ALL SELECT * FROM tm) u
              |  GROUP BY from_state, to_state),
              |mat AS MATERIALIZED (SELECT from_state, to_state,
              |    CAST(cnt * 1000000 // sum(cnt) OVER (PARTITION BY from_state) AS BIGINT) AS p_ppm
              |  FROM ed),
              |tr AS MATERIALIZED (SELECT DISTINCT from_state FROM mat),
              |vars AS (SELECT from_state AS ch FROM tr WHERE from_state <> 'START'
              |  UNION ALL SELECT ''),
              |edv AS MATERIALIZED (SELECT v.ch, m.from_state,
              |    CASE WHEN m.to_state = v.ch THEN 'NULL' ELSE m.to_state END AS to_state,
              |    m.p_ppm
              |  FROM mat m CROSS JOIN vars v),
              |p0 AS MATERIALIZED (SELECT v.ch, s.state,
              |    CAST(CASE WHEN s.state = 'CONV' THEN 1000000 ELSE 0 END AS BIGINT) AS p
              |  FROM vars v CROSS JOIN (SELECT from_state AS state FROM tr
              |    UNION ALL SELECT 'CONV' UNION ALL SELECT 'NULL') s)""".stripMargin
    for (t <- 1 to iters) {
      val p = t - 1
      sb ++= s""",
                |pn$t AS MATERIALIZED (SELECT e.ch, e.from_state AS state,
                |    CAST(sum(e.p_ppm * pp.p) // 1000000 AS BIGINT) AS p
                |  FROM edv e JOIN p$p pp ON pp.ch = e.ch AND pp.state = e.to_state
                |  GROUP BY e.ch, e.from_state),
                |p$t AS MATERIALIZED (SELECT pv.ch, pv.state,
                |    CASE WHEN pv.state IN ('CONV', 'NULL') THEN pv.p
                |    ELSE CAST(coalesce(pn.p, 0) AS BIGINT) END AS p
                |  FROM p$p pv LEFT JOIN pn$t pn
                |    ON pn.ch = pv.ch AND pn.state = pv.state)""".stripMargin
    }
    sb ++= s""",
              |base AS MATERIALIZED (SELECT p FROM p$iters WHERE ch = '' AND state = 'START'),
              |res AS (SELECT ch AS channel, p AS p_without_ppm FROM p$iters
              |  WHERE ch <> '' AND state = 'START'),
              |rr AS (SELECT channel, p_without_ppm,
              |    CASE WHEN (SELECT p FROM base) > 0
              |      THEN ((SELECT p FROM base) - p_without_ppm) * 1000000
              |        // (SELECT p FROM base)
              |      ELSE 0 END AS removal_ppm
              |  FROM res)
              |SELECT channel, CAST(p_without_ppm AS BIGINT) AS p_without_ppm,
              |  CAST(removal_ppm AS BIGINT) AS removal_ppm,
              |  CAST(CASE WHEN sum(removal_ppm) OVER () > 0
              |    THEN removal_ppm * 1000000 // sum(removal_ppm) OVER ()
              |    ELSE 0 END AS BIGINT) AS share_ppm
              |FROM rr""".stripMargin
    sb.toString
  }

  /** Mirror of [[operators.TextAnalysis.sourceChi2]]: identical per-term
    * integer floor division and closed-form private-token totals, so the
    * chi-square numerators are engine-exact.
    */
  val textSourceChi2: String =
    """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |ct AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
      |  FROM tk GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM ct GROUP BY 1),
      |sh AS (SELECT a.source AS src_a, b.source AS src_b,
      |    sum(((CAST(a.c AS HUGEINT)*tb.n - CAST(b.c AS HUGEINT)*ta.n)
      |         * (CAST(a.c AS HUGEINT)*tb.n - CAST(b.c AS HUGEINT)*ta.n))
      |      // (a.c + b.c)) AS chi2_shared,
      |    CAST(sum(a.c) AS BIGINT) AS sa, CAST(sum(b.c) AS BIGINT) AS sb,
      |    CAST(count(*) AS BIGINT) AS n_shared_tokens
      |  FROM ct a JOIN ct b ON a.token = b.token AND a.source < b.source
      |  JOIN tot ta ON ta.source = a.source
      |  JOIN tot tb ON tb.source = b.source
      |  GROUP BY 1, 2),
      |pairs AS (SELECT ta.source AS src_a, tb.source AS src_b,
      |    ta.n AS n_a, tb.n AS n_b
      |  FROM tot ta JOIN tot tb ON ta.source < tb.source)
      |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
      |  CAST(coalesce(sh.n_shared_tokens, 0) AS BIGINT) AS n_shared_tokens,
      |  CAST(coalesce(sh.chi2_shared, CAST(0 AS HUGEINT))
      |    + CAST(p.n_b AS HUGEINT)*p.n_b*(p.n_a - coalesce(sh.sa, 0))
      |    + CAST(p.n_a AS HUGEINT)*p.n_a*(p.n_b - coalesce(sh.sb, 0))
      |    AS BIGINT) AS chi2_num
      |FROM pairs p LEFT JOIN sh
      |  ON sh.src_a = p.src_a AND sh.src_b = p.src_b""".stripMargin

  /** Mirror of [[Events.stickiness]]: the same (user, day) reduction,
    * generate_series fan-out for the trailing windows, and integer-ppm
    * ratios.
    */
  val eventsStickiness: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM (
      |  SELECT DISTINCT user_id, unnest(generate_series(day, day + 6)) AS day
      |  FROM ud) t GROUP BY day),
      |mau AS (SELECT day, CAST(count(*) AS BIGINT) AS mau FROM (
      |  SELECT DISTINCT user_id, unnest(generate_series(day, day + 29)) AS day
      |  FROM ud) t GROUP BY day)
      |SELECT dau.day, dau.dau, wau.wau, mau.mau,
      |  CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS dw_ppm,
      |  CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS dm_ppm
      |FROM dau JOIN wau ON dau.day = wau.day JOIN mau ON dau.day = mau.day""".stripMargin

  /** Mirror of [[Events.retention]]: integer epoch-week cohorts (`//` =
    * Spark's `div`, both pure integer division on BIGINT microseconds).
    */
  def eventsRetention(cohortType: String, maxOffset: Int): String =
    s"""WITH su AS (SELECT user_id, min(epoch_us(ts)) // 604800000000 AS cohort_week
       |  FROM events WHERE event_type = '$cohortType' GROUP BY user_id),
       |a AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events)
       |SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS users
       |FROM su JOIN a ON su.user_id = a.user_id
       |WHERE week - cohort_week BETWEEN 0 AND $maxOffset
       |GROUP BY 1, 2""".stripMargin

  /** Mirror of [[graft.operators.Events.cohortLtv]]: same dense
    * cohort × offset spine (`range(maxOffset+1)`), cents cell sums, a
    * rows-frame cumulative window, and `//` for cents-per-user.
    */
  def eventsCohortLtv(cohortType: String, revenueType: String,
      maxOffset: Int): String =
    s"""WITH su AS (SELECT user_id, min(epoch_us(ts)) // 604800000000 AS cohort_week
       |  FROM events WHERE event_type = '$cohortType' GROUP BY user_id),
       |sz AS (SELECT cohort_week, count(*) AS n_users FROM su GROUP BY 1),
       |cells AS (SELECT su.cohort_week,
       |    epoch_us(e.ts) // 604800000000 - su.cohort_week AS week_offset,
       |    sum(CAST(round(e.value*100) AS BIGINT)) AS cents
       |  FROM events e JOIN su ON e.user_id = su.user_id
       |  WHERE e.event_type = '$revenueType'
       |    AND epoch_us(e.ts) // 604800000000 - su.cohort_week
       |        BETWEEN 0 AND $maxOffset
       |  GROUP BY 1, 2),
       |spine AS (SELECT sz.cohort_week, CAST(r.i AS BIGINT) AS week_offset,
       |    sz.n_users FROM sz, range(${maxOffset + 1}) r(i)),
       |j AS (SELECT s.cohort_week, s.week_offset, CAST(s.n_users AS BIGINT) AS n_users,
       |    CAST(coalesce(cells.cents, 0) AS BIGINT) AS cents
       |  FROM spine s LEFT JOIN cells
       |    ON cells.cohort_week = s.cohort_week
       |   AND cells.week_offset = s.week_offset)
       |SELECT cohort_week, week_offset, n_users, cents,
       |  CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
       |  CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    // n_users AS BIGINT) AS ltv_cents
       |FROM j""".stripMargin

  def dedupNgram(n: Int, thrNum: Int, thrDen: Int): String =
    s"""WITH t AS (SELECT doc_id, lang, ${shingles("string_split(text,' ')", n)} AS sh FROM documents),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    len(list_intersect(a.sh, b.sh)) AS inter,
       |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
       |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, inter/uni AS jac FROM p WHERE inter*$thrDen >= uni*$thrNum""".stripMargin

  /** Mirror of [[Dedup.ngramJaccard]] with the df cap: postings whose shingle
    * document frequency within the lang block exceeds the cap are dropped
    * before pairing, while union sizes `sz` still count every shingle — so
    * capped Jaccard underestimates exactly like the Spark side.
    */
  def dedupNgramCapped(n: Int, thrNum: Int, thrDen: Int, dfCap: Int): String =
    s"""WITH t AS (SELECT doc_id, lang, ${shingles("string_split(text,' ')", n)} AS sh FROM documents),
       |ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM t),
       |hot AS (SELECT lang, s FROM ex GROUP BY lang, s HAVING count(*) > $dfCap),
       |kept AS (SELECT ex.doc_id, ex.lang, ex.sz, ex.s FROM ex
       |  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.lang = ex.lang AND h.s = ex.s)),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS sza, b.sz AS szb,
       |    CAST(count(*) AS INT) AS inter
       |  FROM kept a JOIN kept b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT a_id, b_id, inter/(sza+szb-inter) AS jac FROM p
       |WHERE inter*$thrDen >= (sza+szb-inter)*$thrNum""".stripMargin

  /** Mirror of [[Dedup.containment]] via the INDEPENDENT direct form: pair
    * documents within the lang block, intersect shingle sets, normalize by
    * the contained side. Directional (`a_id <> b_id`); a zero-overlap pair
    * fails the positive threshold in both engines, so the inverted-index
    * Spark plan and this all-pairs SQL agree exactly.
    */
  def dedupContainment(n: Int, thrNum: Int, thrDen: Int): String =
    s"""WITH t AS (SELECT doc_id, lang, ${shingles("string_split(text,' ')", n)} AS sh FROM documents),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS sza
       |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id)
       |SELECT a_id, b_id, inter/sza AS cont FROM p WHERE inter*$thrDen >= sza*$thrNum""".stripMargin

  /** Mirror of [[operators.TextAnalysis.noveltyScore]]: first-seen doc per
    * shingle = min(doc_id), per-doc novel share in integer ppm.
    */
  def textNovelty(n: Int): String =
    s"""WITH t AS (SELECT doc_id, ${shingles("string_split(text,' ')", n)} AS sh FROM documents),
       |ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM t WHERE len(sh) > 0),
       |f AS (SELECT s, min(doc_id) AS first_seen FROM ex GROUP BY s)
       |SELECT ex.doc_id, CAST(ex.sz AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN f.first_seen = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
       |  CAST(sum(CASE WHEN f.first_seen = ex.doc_id THEN 1 ELSE 0 END) * 1000000 // ex.sz AS BIGINT) AS novelty_ppm
       |FROM ex JOIN f ON ex.s = f.s
       |GROUP BY ex.doc_id, ex.sz""".stripMargin

  /** Mirror of [[operators.TextAnalysis.sentenceStats]]: same terminator-run
    * class split, trim, drop-empty; integer char counts.
    */
  val textSentences: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(list_transform(string_split_regex(text, '[.!?]+'), s -> trim(s)),
      |      s -> length(s) > 0) AS segs
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(segs) AS BIGINT) AS n_sentences,
      |  CAST(coalesce(list_sum(list_transform(segs, s -> length(s))), 0) AS BIGINT) AS sent_chars,
      |  CAST(coalesce(list_max(list_transform(segs, s -> length(s))), 0) AS BIGINT) AS max_sent_chars
      |FROM t""".stripMargin

  /** Mirror of [[operators.TextAnalysis.balanceByLang]]. */
  val docBalance: String =
    """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |cap AS (SELECT lang, min(cnt) OVER () AS cap FROM c),
      |r AS (SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
      |  FROM documents)
      |SELECT r.doc_id, r.lang, CAST(r.rnk AS BIGINT) AS rnk
      |FROM r JOIN cap ON r.lang = cap.lang WHERE r.rnk <= cap.cap""".stripMargin

  /** Mirror of [[operators.TextAnalysis.qualityQuantileGate]]: DuckDB
    * `median` over BIGINT interpolates even counts exactly like Spark's
    * exact `percentile(x, 0.5)` — x.0/x.5 values, exact in a double.
    */
  val docQualityGate: String =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
      |m AS (SELECT source, median(n_tokens) AS med FROM t GROUP BY source)
      |SELECT t.doc_id, t.source, t.n_tokens,
      |  CAST(round(m.med * 10) AS BIGINT) AS med_d10
      |FROM t JOIN m ON t.source = m.source WHERE t.n_tokens >= m.med""".stripMargin

  /** Shared CTE chain for the duplicated-span oracles, ending in
    * `isl(doc_id, pos, e, grp)` — positional grams, cross-doc duplicated
    * grams (count(DISTINCT doc_id) >= minDocs), gaps-and-islands group ids.
    * Same integer-only arithmetic as [[operators.Dedup.duplicatedSpans]].
    */
  private def spanCtes(n: Int, minDocs: Int): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |ex AS (SELECT doc_id, tk,
       |    unnest(generate_series(1, greatest(len(tk) - ${n - 1}, 0))) AS pos
       |  FROM t),
       |g AS (SELECT doc_id, pos,
       |    array_to_string(list_slice(tk, pos, pos + ${n - 1}), ' ') AS gram
       |  FROM ex),
       |d AS (SELECT gram FROM g GROUP BY gram
       |  HAVING count(DISTINCT doc_id) >= $minDocs),
       |h AS (SELECT g.doc_id, g.pos, g.pos + ${n - 1} AS e
       |  FROM g JOIN d USING (gram)),
       |i AS (SELECT doc_id, pos, e,
       |    CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |      THEN 1 ELSE 0 END AS brk
       |  FROM h),
       |isl AS (SELECT doc_id, pos, e,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM i)""".stripMargin

  /** Mirror of [[operators.Dedup.duplicatedSpans]]. */
  def dedupSpans(n: Int, minDocs: Int): String =
    s"""WITH ${spanCtes(n, minDocs)}
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(e) AS BIGINT) AS span_end,
       |  CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_toks
       |FROM isl GROUP BY doc_id, grp""".stripMargin

  /** Mirror of [[operators.Dedup.spanStats]]. */
  def dedupSpanStats(n: Int, minDocs: Int): String =
    s"""WITH ${spanCtes(n, minDocs)},
       |sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e2
       |  FROM isl GROUP BY doc_id, grp),
       |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(e2 - s + 1) AS BIGINT) AS dup_tokens
       |  FROM sp GROUP BY doc_id),
       |nt AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT st.doc_id, st.n_spans, st.dup_tokens, nt.n_tokens,
       |  CAST(st.dup_tokens * 1000000 // nt.n_tokens AS BIGINT) AS dup_ppm
       |FROM st JOIN nt USING (doc_id)""".stripMargin

  /** Mirror of [[operators.Dedup.removeSpans]]. */
  def dedupSpanRemoval(n: Int, minDocs: Int): String =
    s"""WITH ${spanCtes(n, minDocs)},
       |sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e2
       |  FROM isl GROUP BY doc_id, grp),
       |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(s, e2)) AS pos
       |  FROM sp),
       |tp AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS pos
       |  FROM t),
       |tk2 AS (SELECT doc_id, pos, tk[pos] AS token FROM tp),
       |kept AS (SELECT k.doc_id, k.pos, k.token FROM tk2 k
       |  LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
       |  WHERE c.doc_id IS NULL),
       |agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS ct,
       |    CAST(count(*) AS BIGINT) AS kt
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.ct, '') AS clean_text,
       |  CAST(coalesce(a.kt, 0) AS BIGINT) AS kept_tokens,
       |  CAST(len(string_split(d.text, ' ')) - coalesce(a.kt, 0) AS BIGINT)
       |    AS removed_tokens
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** The MinHash-LSH candidate pipeline as a reusable CTE chain ending in
    * `m(a_id, b_id, matches)` — shared by [[dedupMinhash]] and the
    * connected-components oracles.
    */
  private def minhashCtes(n: Int, numHashes: Int, bands: Int,
      src: String = "documents", maskBits: Int = 0): String = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rows = numHashes / bands
    val sigExprs = (0 until numHashes).map { i =>
      s"list_min(list_transform(ids, x -> (x*${Dedup.mhA(i)}+${Dedup.mhB(i)}) % ${Dedup.MinhashP}))"
    }.mkString("[", ", ", "]")
    // maskBits in (0, 31) = b-bit minwise banding (Dedup.bbitSweep): band
    // keys keep the top maskBits of the Fibonacci-mixed signature value
    // (the affine family's raw low bits degenerate — see bbitSweep);
    // verification (m) keeps full sigs
    def keyExpr(i: Int): String =
      if (maskBits > 0 && maskBits < 31)
        s"(((sig[$i] * 2654435761) & 4294967295) >> ${32 - maskBits})"
      else s"sig[$i]"
    val bandSelects = (0 until bands).map { bnd =>
      val keys = (bnd * rows + 1 to (bnd + 1) * rows).map(keyExpr).mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $keys) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""t AS (SELECT doc_id,
       |    list_distinct(list_transform(${shingles("string_split(text,' ')", n)},
       |      s -> CAST(${tokenId("s")} AS BIGINT))) AS ids
       |  FROM $src),
       |sig AS (SELECT doc_id, $sigExprs AS sig FROM t),
       |b AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |m AS (SELECT c.a_id, c.b_id,
       |    list_sum(list_transform(range(1, ${numHashes + 1}),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS matches
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id JOIN sig sb ON sb.doc_id = c.b_id)""".stripMargin
  }

  /** Mirror of [[Dedup.lshTuning]]: one subquery per banding over the same
    * signature/band CTEs, summary rows unioned.
    */
  def dedupLshTuning(n: Int, numHashes: Int, bandsList: Seq[Int],
      thrNum: Int, thrDen: Int): String =
    bandsList.map { bands =>
      s"""SELECT CAST($bands AS BIGINT) AS bands,
         |  CAST(${numHashes / bands} AS BIGINT) AS rows_per_band,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_verified AS BIGINT) AS n_verified,
         |  CAST(CASE WHEN n_candidates > 0
         |       THEN (n_verified * 1000000) // n_candidates ELSE 0 END AS BIGINT)
         |    AS precision_ppm
         |FROM (WITH ${minhashCtes(n, numHashes, bands)}
         |  SELECT count(*) AS n_candidates,
         |    coalesce(sum(CASE WHEN matches*$thrDen >= $numHashes*$thrNum
         |      THEN 1 ELSE 0 END), 0) AS n_verified FROM m) t""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of [[Dedup.bbitSweep]]: one subquery per bit width over the
    * [[minhashCtes]] chain with masked band keys (maskBits = b), verified
    * counts always on FULL signatures, summary rows unioned — the
    * [[dedupLshTuning]] shape swept over bit width instead of banding.
    */
  def dedupBbit(n: Int, numHashes: Int, bands: Int, bitsList: Seq[Int],
      thrNum: Int, thrDen: Int): String =
    bitsList.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS b_bits,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_verified AS BIGINT) AS n_verified,
         |  CAST(CASE WHEN n_candidates > 0
         |       THEN (n_verified * 1000000) // n_candidates ELSE 0 END AS BIGINT)
         |    AS precision_ppm
         |FROM (WITH ${minhashCtes(n, numHashes, bands, maskBits = b)}
         |  SELECT count(*) AS n_candidates,
         |    coalesce(sum(CASE WHEN matches*$thrDen >= $numHashes*$thrNum
         |      THEN 1 ELSE 0 END), 0) AS n_verified FROM m) t""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of [[Dedup.minhashCalibration]]: the [[minhashCtes]] chain's
    * verified candidates joined back to the distinct shingle-id sets (the
    * same `t` CTE), true Jaccard in exact ppm grouped by matching count.
    */
  def dedupMinhashCalibration(n: Int, numHashes: Int, bands: Int): String =
    s"""WITH ${minhashCtes(n, numHashes, bands)},
       |tj AS (SELECT m.matches,
       |    len(list_intersect(ta.ids, tb.ids)) AS inter,
       |    len(ta.ids) + len(tb.ids) - len(list_intersect(ta.ids, tb.ids)) AS uni
       |  FROM m JOIN t ta ON ta.doc_id = m.a_id JOIN t tb ON tb.doc_id = m.b_id),
       |pp AS (SELECT matches, inter * 1000000 // uni AS true_ppm FROM tj
       |  WHERE uni > 0)
       |SELECT CAST(matches AS BIGINT) AS matches,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(true_ppm) // count(*) AS BIGINT) AS avg_true_ppm,
       |  CAST(min(true_ppm) AS BIGINT) AS min_true_ppm,
       |  CAST(max(true_ppm) AS BIGINT) AS max_true_ppm
       |FROM pp GROUP BY matches""".stripMargin

  /** Mirror of [[Dedup.lshRecall]]: the [[minhashCtes]] candidate relation
    * left-joined from the exact n-gram-Jaccard truth pairs ([[dedupNgram]]
    * body as a CTE), one integer-ppm summary row.
    */
  def dedupLshRecall(n: Int, thrNum: Int, thrDen: Int, numHashes: Int,
      bands: Int): String =
    s"""WITH ${minhashCtes(n, numHashes, bands)},
       |tt AS (SELECT doc_id, lang, ${shingles("string_split(text,' ')", n)} AS sh FROM documents),
       |truth AS (SELECT a_id, b_id FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |      len(list_intersect(a.sh, b.sh)) AS inter,
       |      len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
       |    FROM tt a JOIN tt b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
       |  WHERE inter*$thrDen >= uni*$thrNum)
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(coalesce(sum(CASE WHEN c.a_id IS NOT NULL THEN 1 END), 0) AS BIGINT)
       |    AS n_hit,
       |  CAST(CASE WHEN count(*) > 0
       |    THEN coalesce(sum(CASE WHEN c.a_id IS NOT NULL THEN 1 END), 0)
       |      * 1000000 // count(*)
       |    ELSE 0 END AS BIGINT) AS recall_ppm
       |FROM truth t LEFT JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id""".stripMargin

  def dedupMinhash(n: Int, numHashes: Int, bands: Int, thrNum: Int, thrDen: Int): String =
    s"""WITH ${minhashCtes(n, numHashes, bands)}
       |SELECT a_id, b_id, matches/$numHashes AS est_jac FROM m
       |WHERE matches*$thrDen >= $numHashes*$thrNum""".stripMargin

  /** Mirror of [[Dedup.incrementalDedup]] over the same signature/band CTEs
    * (the chain's `cand`/`m` tails go unused — DuckDB prunes them): delta =
    * doc_id % 5 == 0, partners = corpus docs sharing a band key plus earlier
    * delta docs, verified at ≥ thrNum/thrDen matching signatures.
    */
  def dedupIncremental(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""WITH ${minhashCtes(n, numHashes, bands)},
       |dd AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
       |ip AS (SELECT DISTINCT d.doc_id AS doc_id, p.doc_id AS p_id
       |  FROM b d JOIN b p ON d.band = p.band AND d.key = p.key
       |  WHERE d.doc_id % 5 = 0 AND (p.doc_id % 5 != 0 OR p.doc_id < d.doc_id)),
       |iv AS (SELECT ip.doc_id, ip.p_id,
       |    list_sum(list_transform(range(1, ${numHashes + 1}),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS matches
       |  FROM ip JOIN sig sa ON sa.doc_id = ip.doc_id
       |    JOIN sig sb ON sb.doc_id = ip.p_id),
       |ia AS (SELECT doc_id, min(p_id) AS dup_of, count(DISTINCT p_id) AS n_dups
       |  FROM iv WHERE matches*$thrDen >= $numHashes*$thrNum GROUP BY doc_id)
       |SELECT dd.doc_id, ia.dup_of,
       |  CAST(coalesce(ia.n_dups, 0) AS BIGINT) AS n_dups
       |FROM dd LEFT JOIN ia ON dd.doc_id = ia.doc_id""".stripMargin

  /** Mirror of [[Dedup.connectedComponents]] over the MinHash pair edges:
    * an independent algorithm — DuckDB's recursive CTE enumerates every
    * (node, reachable-node) pair and takes the min, checking the iterative
    * min-label propagation against a transitive-closure ground truth rather
    * than re-stating it.
    */
  private def componentsCtes(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int, src: String = "documents"): String =
    s"""${minhashCtes(n, numHashes, bands, src)},
       |pairs AS (SELECT a_id, b_id FROM m
       |  WHERE matches*$thrDen >= $numHashes*$thrNum),
       |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM $src
       |  UNION
       |  SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.id),
       |comp AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)""".stripMargin

  def dedupComponents(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""WITH RECURSIVE ${componentsCtes(n, numHashes, bands, thrNum, thrDen)}
       |SELECT doc_id, rep_id FROM comp""".stripMargin

  /** Mirror of [[graft.operators.Dedup.leakproofSplit]]: the split bucket is
    * the same transparent LCG over the component representative, so both
    * engines assign every cluster — and therefore every doc — identically.
    */
  def docSplitLeakproof(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int, trainPct: Int, valPct: Int): String =
    s"""WITH RECURSIVE ${componentsCtes(n, numHashes, bands, thrNum, thrDen)}
       |SELECT doc_id, rep_id,
       |  CASE WHEN ((rep_id*1103515245 + 12345) % 2147483647) % 100 < $trainPct
       |         THEN 'train'
       |       WHEN ((rep_id*1103515245 + 12345) % 2147483647) % 100 < ${trainPct + valPct}
       |         THEN 'val'
       |       ELSE 'test' END AS split
       |FROM comp""".stripMargin

  def dedupKeepOne(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""WITH RECURSIVE ${componentsCtes(n, numHashes, bands, thrNum, thrDen)}
       |SELECT rep_id AS doc_id, count(*) AS cluster_size FROM comp GROUP BY rep_id""".stripMargin

  /** Mirror of the `dedup_keep_best` keep-rule: per cluster, the doc with
    * the most tokens (ties → lowest id), via the deterministic
    * (n_tokens DESC, doc_id) window cut.
    */
  def dedupKeepBest(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""WITH RECURSIVE ${componentsCtes(n, numHashes, bands, thrNum, thrDen)},
       |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
       |r AS (SELECT comp.rep_id, comp.doc_id, tk.n_tokens,
       |    count(*) OVER (PARTITION BY comp.rep_id) AS cluster_size,
       |    row_number() OVER (PARTITION BY comp.rep_id
       |      ORDER BY tk.n_tokens DESC, comp.doc_id) AS rn
       |  FROM comp JOIN tk ON comp.doc_id = tk.doc_id)
       |SELECT rep_id, cluster_size, doc_id AS best_id, n_tokens AS best_tokens
       |FROM r WHERE rn = 1""".stripMargin

  /** Mirror of [[graft.operators.Dedup.forgetPropagate]]: the takedown
    * census — forget set by modulus, chunk counts from the [[docChunks]]
    * window formula, cluster effects from per-rep totals over the
    * [[componentsCtes]] relation. `n_orphan_chunks` is pinned AT ZERO: the
    * oracle states the invariant, the Spark side has to earn it by
    * actually propagating the delete.
    */
  def docForget(n: Int, numHashes: Int, bands: Int, thrNum: Int, thrDen: Int,
      chunkToks: Int, stride: Int, forgetMod: Long): String =
    s"""WITH RECURSIVE ${componentsCtes(n, numHashes, bands, thrNum, thrDen)},
       |ch AS (SELECT doc_id, CASE
       |    WHEN len(string_split(text, ' ')) <= $chunkToks THEN CAST(1 AS BIGINT)
       |    ELSE 1 + (len(string_split(text, ' ')) - $chunkToks + ${stride - 1}) // $stride
       |    END AS nc
       |  FROM documents),
       |grp AS (SELECT rep_id, count(*) AS total,
       |    sum(CASE WHEN doc_id % $forgetMod = 0 THEN 1 ELSE 0 END) AS n_forgot
       |  FROM comp GROUP BY rep_id)
       |SELECT 'n_requests' AS metric, count(*)::BIGINT AS value
       |FROM documents WHERE doc_id % $forgetMod = 0
       |UNION ALL SELECT 'n_docs_after', count(*)::BIGINT
       |  FROM documents WHERE doc_id % $forgetMod <> 0
       |UNION ALL SELECT 'n_chunks_before', CAST(sum(nc) AS BIGINT) FROM ch
       |UNION ALL SELECT 'n_chunks_after', CAST(sum(nc) AS BIGINT)
       |  FROM ch WHERE doc_id % $forgetMod <> 0
       |UNION ALL SELECT 'n_clusters_affected', count(*)::BIGINT
       |  FROM grp WHERE rep_id % $forgetMod = 0
       |UNION ALL SELECT 'n_reelected', count(*)::BIGINT
       |  FROM grp WHERE rep_id % $forgetMod = 0 AND n_forgot < total
       |UNION ALL SELECT 'n_clusters_gone', count(*)::BIGINT
       |  FROM grp WHERE n_forgot = total
       |UNION ALL SELECT 'n_orphan_chunks', CAST(0 AS BIGINT)""".stripMargin

  /** Mirror of [[graft.operators.Dedup.editPairs]]: the same length-
    * bucket blocking spelled as an OR-join (same bucket + id order, or
    * adjacent bucket), Levenshtein over the same document prefix.
    */
  def dedupEdit(prefixLen: Int, bucketChars: Int, maxDist: Int,
      maxBlockRows: Int = 2048): String =
    s"""WITH b0 AS (SELECT doc_id, lang, substring(text, 1, $prefixLen) AS pfx,
       |    length(text) // $bucketChars AS bkt FROM documents),
       |hot AS (SELECT lang, bkt FROM b0 GROUP BY 1, 2
       |  HAVING count(*) > $maxBlockRows),
       |b AS (SELECT b0.* FROM b0 ANTI JOIN hot USING (lang, bkt))
       |SELECT least(a.doc_id, c.doc_id) AS a_id,
       |  greatest(a.doc_id, c.doc_id) AS b_id,
       |  CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS edit_dist
       |FROM b a JOIN b c ON a.lang = c.lang
       |  AND (a.bkt = c.bkt AND a.doc_id < c.doc_id OR a.bkt = c.bkt - 1)
       |WHERE levenshtein(a.pfx, c.pfx) <= $maxDist""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.kAnonLattice]]: the same
    * four generalization levels as per-level census CTEs, the same
    * Samarati suppression-budget rule, chosen = the minimum qualifying
    * level (NULL → no level flagged, matching the Spark −1 sentinel).
    */
  def docKanon(k: Int, maxSuppressedPct: Int): String = {
    val levels = Seq(("lang", "source", 256), ("lang", "source", 1024),
      ("lang", "'*'", 1024), ("'*'", "'*'", 4096))
    val ctes = levels.zipWithIndex.map { case ((l, s, div), i) =>
      s"""s$i AS (SELECT $i AS level, count(*) AS n_classes,
         |    coalesce(min(c), 0) AS min_class,
         |    coalesce(sum(CASE WHEN c < $k THEN c ELSE 0 END), 0) AS suppressed_rows,
         |    coalesce(sum(c), 0) AS n_rows
         |  FROM (SELECT count(*) AS c FROM documents
         |        GROUP BY $l, $s, n_chars // $div))""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")},
       |u AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |  UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3),
       |ch AS (SELECT min(level) AS lv FROM u
       |  WHERE suppressed_rows * 100 <= n_rows * $maxSuppressedPct)
       |SELECT CAST(level AS BIGINT) AS level,
       |  CAST(n_classes AS BIGINT) AS n_classes,
       |  CAST(min_class AS BIGINT) AS min_class,
       |  CAST(suppressed_rows AS BIGINT) AS suppressed_rows,
       |  CAST(CASE WHEN level = (SELECT lv FROM ch) THEN 1 ELSE 0 END
       |    AS BIGINT) AS chosen
       |FROM u""".stripMargin
  }

  /** Mirror of [[graft.operators.Dedup.prefPairs]]: the chosen/rejected
    * election per duplicate cluster, spelled as two row_number windows
    * over the [[componentsCtes]] relation joined to per-doc token counts —
    * the SQL form of the Spark side's max_by/min_by composite-struct
    * election (same tie discipline: chosen ties → lowest id, rejected
    * ties → highest id, so an all-equal cluster yields a distinct pair).
    */
  def docPrefPairs(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""WITH RECURSIVE ${componentsCtes(n, numHashes, bands, thrNum, thrDen)},
       |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
       |r AS (SELECT comp.rep_id, comp.doc_id, tk.n_tokens,
       |    count(*) OVER (PARTITION BY comp.rep_id) AS cluster_size,
       |    row_number() OVER (PARTITION BY comp.rep_id
       |      ORDER BY tk.n_tokens DESC, comp.doc_id) AS rn_c,
       |    row_number() OVER (PARTITION BY comp.rep_id
       |      ORDER BY tk.n_tokens, comp.doc_id DESC) AS rn_r
       |  FROM comp JOIN tk ON comp.doc_id = tk.doc_id)
       |SELECT c.rep_id, c.cluster_size,
       |  c.doc_id AS chosen_id, c.n_tokens AS chosen_tokens,
       |  rj.doc_id AS rejected_id, rj.n_tokens AS rejected_tokens,
       |  c.n_tokens - rj.n_tokens AS margin
       |FROM r c JOIN r rj ON c.rep_id = rj.rep_id
       |WHERE c.rn_c = 1 AND rj.rn_r = 1 AND c.cluster_size >= 2""".stripMargin

  /** Mirror of the `pipeline_clean` composition: quality gate → MinHash
    * near-dup clustering over the survivors → keep one doc per cluster.
    * The quality stage nests [[textQuality]] as a subquery (its own WITH is
    * legal inside parentheses); the component stage reuses the recursive
    * transitive closure with `clean` as its source relation.
    */
  def pipelineClean(minTokens: Int, maxTokens: Int, n: Int, numHashes: Int,
      bands: Int, thrNum: Int, thrDen: Int): String =
    s"""WITH RECURSIVE qual AS (SELECT doc_id FROM (
       |${textQuality(minTokens, maxTokens)}
       |) q WHERE keep = 1),
       |clean AS (SELECT d.* FROM documents d JOIN qual ON d.doc_id = qual.doc_id),
       |${componentsCtes(n, numHashes, bands, thrNum, thrDen, src = "clean")}
       |SELECT c.doc_id, d.lang FROM comp c JOIN documents d ON c.doc_id = d.doc_id
       |WHERE c.doc_id = c.rep_id""".stripMargin

  /** Mirror of `text_cms`: the count-min estimate is `least` over the id's
    * d bucket sums, and a bucket's sum is just a GROUP BY over the same
    * transparent hash — generated from the SAME [[graft.plans.CmsSketch]]
    * constants the aggregate uses.
    */
  def textCms(w: Int, d: Int): String = {
    import graft.plans.CmsSketch.{A, B, P}
    val bks = (0 until d).map { i =>
      s"b$i AS (SELECT ((id*CAST(${A(i)} AS BIGINT)+${B(i)}) % $P) % $w AS bk, count(*) AS c FROM ids GROUP BY 1)"
    }.mkString(",\n")
    val joins = (0 until d).map { i =>
      s"JOIN b$i ON b$i.bk = ((t.id*CAST(${A(i)} AS BIGINT)+${B(i)}) % $P) % $w"
    }.mkString("\n  ")
    val leasts = (0 until d).map(i => s"b$i.c").mkString("least(", ", ", ")")
    s"""WITH ids AS (SELECT unnest(list_transform(string_split(text, ' '), s -> ${tokenId("s")})) AS id
       |  FROM documents),
       |$bks,
       |top AS (SELECT id, count(*) AS exact_cnt FROM ids GROUP BY id
       |  ORDER BY exact_cnt DESC, id LIMIT 20)
       |SELECT CAST(t.id AS BIGINT) AS id, t.exact_cnt, $leasts AS est
       |FROM top t
       |  $joins""".stripMargin
  }

  /** Mirror of `text_heavy_hitters`: the [[textCms]] bucket replay, a
    * sketch-derived threshold N/64 + 1, estimate-gated candidates, exact
    * verification — identical to Spark's two-scan shape.
    */
  def textHeavyHitters(w: Int, d: Int, den: Int): String = {
    import graft.plans.CmsSketch.{A, B, P}
    val bks = (0 until d).map { i =>
      s"b$i AS (SELECT ((id*CAST(${A(i)} AS BIGINT)+${B(i)}) % $P) % $w AS bk, count(*) AS c FROM ids GROUP BY 1)"
    }.mkString(",\n")
    val joins = (0 until d).map { i =>
      s"JOIN b$i ON b$i.bk = ((t.id*CAST(${A(i)} AS BIGINT)+${B(i)}) % $P) % $w"
    }.mkString("\n  ")
    val leasts = (0 until d).map(i => s"b$i.c").mkString("least(", ", ", ")")
    s"""WITH ids AS (SELECT unnest(list_transform(string_split(text, ' '), s -> ${tokenId("s")})) AS id
       |  FROM documents),
       |$bks,
       |thr AS (SELECT count(*) // $den + 1 AS thr FROM ids),
       |tt AS (SELECT token, ${tokenId("token")} AS id, count(*) AS cnt FROM
       |    (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |  GROUP BY 1, 2),
       |e AS (SELECT t.token, t.id, t.cnt, $leasts AS est
       |  FROM tt t
       |  $joins)
       |SELECT token, CAST(id AS BIGINT) AS id, cnt, est, CAST(thr AS BIGINT) AS thr
       |FROM e, thr WHERE est >= thr AND cnt >= thr""".stripMargin
  }

  /** Mirror of [[graft.operators.TextAnalysis.oovCensus]]. */
  def textOov(vocabSize: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
       |vocab AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM toks GROUP BY 1)
       |  ORDER BY cnt DESC, token LIMIT $vocabSize),
       |oov AS (SELECT doc_id, count(*) AS n_oov FROM toks
       |  WHERE token NOT IN (SELECT token FROM vocab) GROUP BY 1),
       |base AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT b.doc_id, b.n_tokens,
       |  CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
       |  CAST((coalesce(o.n_oov, 0) * 1000000) // b.n_tokens AS BIGINT) AS oov_ppm
       |FROM base b LEFT JOIN oov o ON o.doc_id = b.doc_id""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.lengthDecileProfile]]. */
  def docLenDeciles: String = {
    val allStops = operators.TextAnalysis.Stopwords.map(s => stopHits(s._1)).mkString(" + ")
    s"""WITH t AS (SELECT doc_id, n_chars, string_split(text,' ') AS toks,
       |    list_distinct(string_split(text,' ')) AS dt FROM documents),
       |b AS (SELECT doc_id, n_chars, (($allStops) * 1000) // len(toks) AS score FROM t),
       |d AS (SELECT *, ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile FROM b)
       |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
       |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       |  CAST(CAST(sum(score) AS BIGINT) // count(*) AS BIGINT) AS mean_score_pm
       |FROM d GROUP BY 1""".stripMargin
  }

  /** Mirror of the `pipeline_corpus` composition: [[pipelineClean]]'s kept
    * representatives, then the `doc_pack` per-lang prefix-sum packing over
    * exactly those docs.
    */
  def pipelineCorpus(minTokens: Int, maxTokens: Int, n: Int, numHashes: Int,
      bands: Int, thrNum: Int, thrDen: Int, budget: Int): String =
    s"""WITH RECURSIVE qual AS (SELECT doc_id FROM (
       |${textQuality(minTokens, maxTokens)}
       |) q WHERE keep = 1),
       |clean AS (SELECT d.* FROM documents d JOIN qual ON d.doc_id = qual.doc_id),
       |${componentsCtes(n, numHashes, bands, thrNum, thrDen, src = "clean")},
       |kd AS (SELECT d.doc_id, d.lang,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents d JOIN comp c ON d.doc_id = c.doc_id
       |  WHERE c.doc_id = c.rep_id),
       |pk AS (SELECT doc_id, lang, n_tok,
       |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM kd)
       |SELECT doc_id, lang, n_tok,
       |  CAST((cum - n_tok) // $budget AS BIGINT) AS batch_id FROM pk""".stripMargin

  /** Mirror of the FULL pretraining build (`pipeline_pretrain`): quality
    * gate → near-dup keep-one → per-source token-budget MIX → per-lang
    * sequence packing — [[pipelineCorpus]] with the `doc_mix` stage
    * composed between keep and pack.
    */
  /** Shared mix→pack tail (consumes a `kt(doc_id, lang, source, n_tok)`
    * CTE): source budgets, budget-bounded selection in doc order, per-lang
    * prefix-sum packing — the exact fragments `doc_mix` / `doc_pack` run
    * standalone.
    */
  private def mixPackTail(packBudget: Int): String =
    s"""bgt AS (SELECT source,
       |    CAST(400*(1 + CAST(substr(source, 4) AS BIGINT) % 3) AS BIGINT)
       |      AS budget
       |  FROM (SELECT DISTINCT source FROM kt)),
       |mx AS (SELECT kt.doc_id, kt.lang, kt.n_tok, bgt.budget,
       |    sum(kt.n_tok) OVER (PARTITION BY kt.source ORDER BY kt.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS scum
       |  FROM kt JOIN bgt ON kt.source = bgt.source),
       |sel AS (SELECT doc_id, lang, n_tok FROM mx WHERE scum - n_tok < budget),
       |pk AS (SELECT doc_id, lang, n_tok,
       |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sel)
       |SELECT doc_id, lang, n_tok,
       |  CAST((cum - n_tok) // $packBudget AS BIGINT) AS batch_id FROM pk""".stripMargin

  def pipelinePretrain(minTokens: Int, maxTokens: Int, n: Int, numHashes: Int,
      bands: Int, thrNum: Int, thrDen: Int, packBudget: Int): String =
    s"""WITH RECURSIVE qual AS (SELECT doc_id FROM (
       |${textQuality(minTokens, maxTokens)}
       |) q WHERE keep = 1),
       |clean AS (SELECT d.* FROM documents d JOIN qual ON d.doc_id = qual.doc_id),
       |${componentsCtes(n, numHashes, bands, thrNum, thrDen, src = "clean")},
       |kt AS (SELECT d.doc_id, d.lang, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents d JOIN comp c ON d.doc_id = c.doc_id
       |  WHERE c.doc_id = c.rep_id),
       |${mixPackTail(packBudget)}""".stripMargin

  /** Mirror of the `pipeline_full` query — the COMPLETE curation chain:
    * benchmark split (doc_id % 97), quality gate, MinHash keep-one,
    * 3-gram decontamination of the survivors against the benchmark,
    * source-budget mixing, sequence packing. Each stage is the same CTE
    * fragment its standalone query uses.
    */
  def pipelineFull(minTokens: Int, maxTokens: Int, n: Int, numHashes: Int,
      bands: Int, thrNum: Int, thrDen: Int, dN: Int, dThrNum: Int,
      dThrDen: Int, packBudget: Int): String =
    s"""WITH RECURSIVE qual AS (SELECT doc_id FROM (
       |${textQuality(minTokens, maxTokens)}
       |) q WHERE keep = 1),
       |clean AS (SELECT d.* FROM documents d JOIN qual ON d.doc_id = qual.doc_id
       |  WHERE d.doc_id % 97 <> 0),
       |${componentsCtes(n, numHashes, bands, thrNum, thrDen, src = "clean")},
       |reps AS (SELECT d.* FROM clean d JOIN comp c ON d.doc_id = c.doc_id
       |  WHERE c.doc_id = c.rep_id),
       |sh AS (SELECT doc_id,
       |    list_distinct(list_transform(${shingles("string_split(text,' ')", dN)},
       |      s -> ${tokenId("s")})) AS ids
       |  FROM documents),
       |bn AS (SELECT DISTINCT unnest(ids) AS id FROM sh WHERE doc_id % 97 = 0),
       |ex AS (SELECT s2.doc_id, len(s2.ids) AS ns, unnest(s2.ids) AS id
       |  FROM sh s2 JOIN reps r ON s2.doc_id = r.doc_id),
       |dm AS (SELECT ex.doc_id, max(ex.ns) AS ns, count(bn.id) AS nsh
       |  FROM ex LEFT JOIN bn ON ex.id = bn.id GROUP BY ex.doc_id),
       |surv AS (SELECT r.* FROM reps r JOIN dm ON r.doc_id = dm.doc_id
       |  WHERE NOT (dm.nsh*$dThrDen >= dm.ns*$dThrNum)),
       |kt AS (SELECT doc_id, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM surv),
       |${mixPackTail(packBudget)}""".stripMargin

  /** Mirror of `pipeline_provenance`: [[pipelineFull]]'s stage CTE
    * fragments verbatim (quality gate, components over survivors,
    * benchmark decontamination of the representatives, source-budget mix
    * selection), re-joined per corpus doc into the attrition lattice —
    * later-stage columns NULL where an earlier stage already dropped the
    * doc.
    */
  def pipelineProvenance(minTokens: Int, maxTokens: Int, n: Int,
      numHashes: Int, bands: Int, thrNum: Int, thrDen: Int, dN: Int,
      dThrNum: Int, dThrDen: Int): String =
    s"""WITH RECURSIVE q0 AS (SELECT doc_id, keep FROM (
       |${textQuality(minTokens, maxTokens)}
       |) qq WHERE doc_id % 97 <> 0),
       |qual AS (SELECT doc_id FROM q0 WHERE keep = 1),
       |clean AS (SELECT d.* FROM documents d JOIN qual ON d.doc_id = qual.doc_id
       |  WHERE d.doc_id % 97 <> 0),
       |${componentsCtes(n, numHashes, bands, thrNum, thrDen, src = "clean")},
       |reps AS (SELECT d.* FROM clean d JOIN comp c ON d.doc_id = c.doc_id
       |  WHERE c.doc_id = c.rep_id),
       |sh AS (SELECT doc_id,
       |    list_distinct(list_transform(${shingles("string_split(text,' ')", dN)},
       |      s -> ${tokenId("s")})) AS ids
       |  FROM documents),
       |bn AS (SELECT DISTINCT unnest(ids) AS id FROM sh WHERE doc_id % 97 = 0),
       |ex AS (SELECT s2.doc_id, len(s2.ids) AS ns, unnest(s2.ids) AS id
       |  FROM sh s2 JOIN reps r ON s2.doc_id = r.doc_id),
       |dm AS (SELECT ex.doc_id, max(ex.ns) AS ns, count(bn.id) AS nsh
       |  FROM ex LEFT JOIN bn ON ex.id = bn.id GROUP BY ex.doc_id),
       |cont AS (SELECT dm.doc_id,
       |    CAST(CASE WHEN dm.nsh*$dThrDen >= dm.ns*$dThrNum THEN 1 ELSE 0 END
       |      AS BIGINT) AS contaminated
       |  FROM dm),
       |surv AS (SELECT r.* FROM reps r JOIN cont ON r.doc_id = cont.doc_id
       |  WHERE cont.contaminated = 0),
       |kt AS (SELECT doc_id, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM surv),
       |bgt AS (SELECT source,
       |    CAST(400*(1 + CAST(substr(source, 4) AS BIGINT) % 3) AS BIGINT)
       |      AS budget
       |  FROM (SELECT DISTINCT source FROM kt)),
       |mx AS (SELECT kt.doc_id, kt.n_tok, bgt.budget,
       |    sum(kt.n_tok) OVER (PARTITION BY kt.source ORDER BY kt.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS scum
       |  FROM kt JOIN bgt ON kt.source = bgt.source),
       |sel AS (SELECT doc_id FROM mx WHERE scum - n_tok < budget)
       |SELECT q0.doc_id, CAST(q0.keep AS BIGINT) AS quality_pass,
       |  comp.rep_id,
       |  CASE WHEN comp.rep_id IS NOT NULL
       |    THEN CAST(comp.rep_id = q0.doc_id AS BIGINT) END AS is_rep,
       |  cont.contaminated,
       |  CASE WHEN cont.contaminated = 0
       |    THEN CAST(coalesce(s1.one, 0) AS BIGINT) END AS mixed,
       |  CAST(coalesce(s1.one, 0) AS BIGINT) AS survived
       |FROM q0
       |LEFT JOIN comp ON comp.doc_id = q0.doc_id
       |LEFT JOIN cont ON cont.doc_id = q0.doc_id
       |LEFT JOIN (SELECT doc_id, 1 AS one FROM sel) s1 ON s1.doc_id = q0.doc_id""".stripMargin

  def dedupSimhash(bits: Int, maxHamming: Int): String = {
    val fpExpr = (0 until bits).map { b =>
      s"(CASE WHEN sum(CASE WHEN ((id >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT doc_id, lang,
       |    unnest(list_transform(string_split(text,' '), t -> ${tokenId("t")})) AS id
       |  FROM documents),
       |f AS (SELECT doc_id, lang, CAST($fpExpr AS BIGINT) AS fp FROM e GROUP BY doc_id, lang)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM f a JOIN f b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming""".stripMargin
  }

  /** Mirror of [[graft.operators.Dedup.winnowPairs]]: positional k-gram
    * hashes (the [[tokenId]] fold over the gram string), the winnow window
    * minimum over the encoded `hash·2²⁴ + pos` (single integer min — exact
    * tie order), full-width windows only, distinct fingerprints, then the
    * inverted-index pair join with the shared-fingerprint count.
    */
  def dedupWinnow(k: Int, w: Int, minShared: Int): String = {
    val enc = 1L << 24
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |ex AS (SELECT doc_id, tk,
       |    unnest(generate_series(1, greatest(len(tk) - ${k - 1}, 0))) AS pos
       |  FROM t),
       |g AS (SELECT doc_id, pos,
       |    CAST(${tokenId(s"array_to_string(list_slice(tk, pos, pos + ${k - 1}), ' ')")} AS BIGINT) * $enc + pos AS e
       |  FROM ex),
       |wm AS (SELECT doc_id, pos,
       |    min(e) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m,
       |    count(*) OVER (PARTITION BY doc_id) AS gcnt
       |  FROM g),
       |fp AS (SELECT DISTINCT doc_id, m // $enc AS fp
       |  FROM wm WHERE pos <= greatest(gcnt - ${w - 1}, 1))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin
  }

  /** Mirror of [[graft.operators.TextAnalysis.zipfFit]]: top-`topN`
    * rank/frequency rows, the five regression sums as ORDERED list_reduce
    * folds (the Spark side folds driver-side in the same rank order), and
    * the identical slope/intercept/r² expressions rounded to e6.
    */
  def textZipf(topN: Int): String = {
    def fold(l: String) = s"list_reduce(list_prepend(0.0, $l), (a, b) -> a + b)"
    s"""WITH tf AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(sum(freq) AS BIGINT) AS total FROM tf),
       |top AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS r
       |  FROM tf ORDER BY freq DESC, token LIMIT $topN),
       |l AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    ${fold("list(ln(CAST(r AS DOUBLE)) ORDER BY r)")} AS sx,
       |    ${fold("list(ln(CAST(freq AS DOUBLE)) ORDER BY r)")} AS sy,
       |    ${fold("list(ln(CAST(r AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) ORDER BY r)")} AS sxy,
       |    ${fold("list(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) ORDER BY r)")} AS sxx,
       |    ${fold("list(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) ORDER BY r)")} AS syy
       |  FROM top),
       |s AS (SELECT n, sx, sy, n*sxy - sx*sy AS cov,
       |    n*sxx - sx*sx AS vx, n*syy - sy*sy AS vy FROM l)
       |SELECT tot.vocab, tot.total AS total_tokens,
       |  CAST(round(cov/vx * 1e6) AS BIGINT) AS slope_e6,
       |  CAST(round((sy - cov/vx*sx)/n * 1e6) AS BIGINT) AS intercept_e6,
       |  CAST(round(cov*cov/(vx*vy) * 1e6) AS BIGINT) AS r2_e6
       |FROM s CROSS JOIN tot""".stripMargin
  }

  /** Mirror of [[graft.operators.TextAnalysis.chunkOverlap]]: the bounded
    * chunk-index explode and inclusive list_slice — chunk i covers tokens
    * `[i·stride + 1, i·stride + chunkToks]`, last chunk short.
    */
  def docChunks(chunkToks: Int, stride: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |c AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
       |    CASE WHEN len(tk) <= $chunkToks THEN CAST(1 AS BIGINT)
       |         ELSE 1 + (len(tk) - $chunkToks + ${stride - 1}) // $stride
       |    END AS nc
       |  FROM t),
       |e AS (SELECT doc_id, tk, n, unnest(generate_series(0, nc - 1)) AS ci FROM c)
       |SELECT doc_id, CAST(ci + 1 AS BIGINT) AS chunk_id,
       |  CAST(ci * $stride + 1 AS BIGINT) AS start_tok,
       |  CAST(least($chunkToks, n - ci * $stride) AS BIGINT) AS chunk_toks,
       |  array_to_string(list_slice(tk, ci * $stride + 1, ci * $stride + $chunkToks), ' ') AS chunk_text
       |FROM e""".stripMargin

  /** Mirror of VectorOps.sqDist: left fold of squared differences. */
  def sqdist(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), " +
      s"(x,y) -> x+y)"

  // ---------------------------------------------------- product quantization

  private def sliceExpr(v: String, s: String, sub: Int): String =
    s"list_slice($v, $s*$sub+1, $s*$sub+$sub)"

  /** Shared PQ CTEs: codebook = slices of the first-k seed vectors
    * ([[operators.Similarity.pqCodebook]]'s convention), per-(vector,
    * subspace) argmin sub-centroid with the (d, t) tie order that matches
    * the Spark fold's strict `<`.
    */
  private def pqCtes(m: Int, k: Int, sub: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (SELECT vec_id AS t, v AS cv FROM e WHERE vec_id < $k),
       |sp AS (SELECT unnest(range($m)) AS s),
       |pairs AS (SELECT e.vec_id, sp.s, cb.t,
       |    ${sqdist(sliceExpr("e.v", "sp.s", sub), sliceExpr("cb.cv", "sp.s", sub))} AS d
       |  FROM e CROSS JOIN sp CROSS JOIN cb),
       |best AS (SELECT vec_id, s, t FROM (SELECT vec_id, s, t,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d, t) AS rn
       |  FROM pairs) x WHERE rn = 1)""".stripMargin

  /** Mirror of `emb_pq_fitted` ([[operators.Similarity.pqCodebookFitted2]] +
    * [[operators.Similarity.pqEncode]]): per subspace, the first-k seed
    * sub-codebook refined by `iters` unrolled Lloyd CTEs — assignment via
    * the [[sqdist]] left fold with (d, t) tie order, re-average via the
    * LLOYD fixed-point convention per dimension (`sum(round(x·1e4))::DOUBLE
    * /1e4/count`) rebuilt as a list so the next fold walks elements in the
    * identical order — then the code argmin against the final sub-codebooks
    * and the packed radix-k word, exactly [[embPq]]'s projection.
    */
  def embPqFitted(m: Int, k: Int, dim: Int, iters: Int): String = {
    val sub = dim / m
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    for (s <- 0 until m) {
      sb ++= s""",
                |es$s AS MATERIALIZED (SELECT vec_id, ${sliceExpr("v", s.toString, sub)} AS sv FROM e),
                |cb${s}_0 AS MATERIALIZED (SELECT vec_id + 1 AS t, sv AS cv FROM es$s WHERE vec_id < $k)""".stripMargin
      for (i <- 1 to iters) {
        // per-dim fixed-point means rebuilt as a list in element order
        val means = (1 to sub).map(d =>
          s"CAST(sum(CAST(round(sv[$d]*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*)")
          .mkString("[", ", ", "]")
        sb ++= s""",
                  |a${s}_$i AS MATERIALIZED (SELECT vec_id, sv, t FROM (
                  |  SELECT x.vec_id, x.sv, c.t,
                  |    row_number() OVER (PARTITION BY x.vec_id ORDER BY ${sqdist("x.sv", "c.cv")}, c.t) AS rn
                  |  FROM es$s x CROSS JOIN cb${s}_${i - 1} c) q WHERE rn = 1),
                  |cb${s}_$i AS MATERIALIZED (SELECT t, $means AS cv
                  |  FROM a${s}_$i GROUP BY t)""".stripMargin
      }
      sb ++= s""",
                |code$s AS MATERIALIZED (SELECT vec_id, t - 1 AS c FROM (
                |  SELECT x.vec_id, c.t,
                |    row_number() OVER (PARTITION BY x.vec_id ORDER BY ${sqdist("x.sv", "c.cv")}, c.t) AS rn
                |  FROM es$s x CROSS JOIN cb${s}_$iters c) q WHERE rn = 1)""".stripMargin
    }
    val factors = Seq.iterate(1L, m)(_ * k)
    val joins = (0 until m).map(s => s"JOIN code$s ON code$s.vec_id = e.vec_id").mkString(" ")
    val packed = (0 until m).map(s => s"code$s.c*${factors(s)}").mkString(" + ")
    sb ++= s"""
              |SELECT e.vec_id,
              |  ${(0 until m).map(s => s"CAST(code$s.c AS BIGINT) AS c$s").mkString(", ")},
              |  CAST($packed AS BIGINT) AS packed
              |FROM e $joins""".stripMargin
    sb.toString
  }

  /** Mirror of [[operators.Similarity.pqEncode]]: codes pivoted wide plus
    * the packed radix-k word.
    */
  def embPq(m: Int, k: Int, dim: Int): String = {
    val sub = dim / m
    val codeCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN t END) AS c$s").mkString(", ")
    val factors = Seq.iterate(1L, m)(_ * k)
    val packed = (0 until m).map(s => s"c$s*${factors(s)}").mkString(" + ")
    s"""WITH ${pqCtes(m, k, sub)},
       |codes AS (SELECT vec_id, $codeCols FROM best GROUP BY vec_id)
       |SELECT vec_id,
       |  ${(0 until m).map(s => s"CAST(c$s AS BIGINT) AS c$s").mkString(", ")},
       |  CAST($packed AS BIGINT) AS packed
       |FROM codes""".stripMargin
  }

  /** Mirror of [[operators.Similarity.pqRerankTopK]]: the simPqAdc chain
    * truncated at `shortlist` nominates candidates, which join back to the
    * raw vectors for the exact-cosine re-rank (identical [[cosine]] fold).
    */
  def simPqRerank(m: Int, k: Int, dim: Int, nQueries: Int,
      shortlist: Int, kNbrs: Int): String = {
    val sub = dim / m
    val dCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END) AS d$s").mkString(", ")
    val chain = (0 until m).map(s => s"d$s").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH ${pqCtes(m, k, sub)},
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |pd AS (SELECT q.q_id, b.vec_id AS n_id, b.s,
       |    ${sqdist(sliceExpr("q.qv", "b.s", sub), sliceExpr("cb.cv", "b.s", sub))} AS d
       |  FROM best b JOIN cb ON cb.t = b.t CROSS JOIN q
       |  WHERE b.vec_id <> q.q_id),
       |wide AS (SELECT q_id, n_id, $dCols
       |  FROM pd GROUP BY q_id, n_id),
       |adc AS (SELECT q_id, n_id, $chain AS adc FROM wide),
       |cand AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rnk
       |    FROM adc) x WHERE rnk <= $shortlist),
       |ex AS (SELECT cd.q_id, cd.n_id, ${cosine("q.qv", "e.v")} AS c
       |  FROM cand cd JOIN e ON e.vec_id = cd.n_id JOIN q ON q.q_id = cd.q_id),
       |r AS (SELECT q_id, n_id, c,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM ex)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM r WHERE rnk <= $kNbrs""".stripMargin
  }

  /** Mirror of [[operators.Similarity.pqAdcTopK]]: per-subspace partial
    * distances pivoted wide, then the identical left-to-right chained double
    * sum `((d0+d1)+…)` — never a SQL `sum()`, whose order is unspecified.
    */
  def simPqAdc(m: Int, k: Int, dim: Int, nQueries: Int, kNbrs: Int): String = {
    val sub = dim / m
    val dCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END) AS d$s").mkString(", ")
    val chain = (0 until m).map(s => s"d$s").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH ${pqCtes(m, k, sub)},
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |pd AS (SELECT q.q_id, b.vec_id AS n_id, b.s,
       |    ${sqdist(sliceExpr("q.qv", "b.s", sub), sliceExpr("cb.cv", "b.s", sub))} AS d
       |  FROM best b JOIN cb ON cb.t = b.t CROSS JOIN q
       |  WHERE b.vec_id <> q.q_id),
       |wide AS (SELECT q_id, n_id, $dCols
       |  FROM pd GROUP BY q_id, n_id),
       |adc AS (SELECT q_id, n_id, $chain AS adc FROM wide)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(adc*1e6) AS BIGINT) AS adc_e6 FROM (
       |  SELECT q_id, n_id, adc,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rnk
       |  FROM adc) t
       |WHERE rnk <= $kNbrs""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.ivfPqTopK]]: the fixed-centroid
    * cell assignment, per-query nProbe probes, and the [[simPqAdc]] ADC
    * arithmetic restricted to candidates from the probed cells.
    */
  def simIvfPq(nCells: Int, nProbe: Int, m: Int, k: Int, dim: Int,
      nQueries: Int, kNbrs: Int): String = {
    val sub = dim / m
    val dCols = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END) AS d$s").mkString(", ")
    val chain = (0 until m).map(s => s"d$s").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH ${pqCtes(m, k, sub)},
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT DISTINCT p.q_id, p.qv, cl.vec_id AS n_id
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id),
       |pd AS (SELECT cand.q_id, cand.n_id, b.s,
       |    ${sqdist(sliceExpr("cand.qv", "b.s", sub), sliceExpr("cb.cv", "b.s", sub))} AS d
       |  FROM cand JOIN best b ON b.vec_id = cand.n_id JOIN cb ON cb.t = b.t),
       |wide AS (SELECT q_id, n_id, $dCols FROM pd GROUP BY q_id, n_id),
       |adc AS (SELECT q_id, n_id, $chain AS adc FROM wide)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(adc*1e6) AS BIGINT) AS adc_e6 FROM (
       |  SELECT q_id, n_id, adc,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rnk
       |  FROM adc) t
       |WHERE rnk <= $kNbrs""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.bruteForceTopK]]. */
  /** Mirror of [[Similarity.normalizeQuantize]]: the norm is the identical
    * left fold (list_reduce over a 0-prepended list), quantized dims the
    * same `round(127·x/‖x‖)`, zero vectors quantize to 0.
    */
  def embNormalize(qDims: Int): String = {
    val fold = "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(v, x -> x*x)), (a, b) -> a + b))"
    val qs = (1 to qDims).map(d =>
      s"CASE WHEN nrm > 0 THEN CAST(round(v[$d] / nrm * 127) AS BIGINT) ELSE 0 END AS q$d")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, $fold AS nrm FROM e)
       |SELECT vec_id, CAST(round(nrm * 1e6) AS BIGINT) AS norm_e6,
       |  ${qs.mkString(",\n  ")}
       |FROM n""".stripMargin
  }

  def simTopK(nQueries: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |s AS (SELECT q.q_id, e.vec_id AS n_id, ${cosine("q.qv", "e.v")} AS c
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM s)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of [[operators.Similarity.sq8TopK]]: per-dimension min/max
    * bounds, the identical `round((x−mn)·255/(mx−mn))` encode (same IEEE
    * operation order), then exact-integer symmetric code distances. The
    * final CAST pins `sum(BIGINT)`'s HUGEINT widening back to int64.
    */
  def simSq8(dim: Int, nQueries: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (SELECT unnest(range(1, ${dim + 1})) AS d),
       |mm AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e CROSS JOIN dims GROUP BY d),
       |c AS (SELECT e.vec_id, mm.d,
       |    CASE WHEN mm.mx > mm.mn
       |      THEN CAST(round((e.v[mm.d] - mm.mn) * 255 / (mm.mx - mm.mn)) AS BIGINT)
       |      ELSE 0 END AS code
       |  FROM e CROSS JOIN mm),
       |q AS (SELECT vec_id AS q_id, d, code FROM c WHERE vec_id < $nQueries),
       |pd AS (SELECT q.q_id, c.vec_id AS n_id,
       |    sum((q.code - c.code) * (q.code - c.code)) AS d2
       |  FROM c JOIN q ON q.d = c.d WHERE c.vec_id <> q.q_id
       |  GROUP BY q.q_id, c.vec_id),
       |r AS (SELECT q_id, n_id, d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rnk FROM pd)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, CAST(d2 AS BIGINT) AS sq_dist
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of [[operators.Similarity.ivfSq8TopK]]: [[simIvf]]'s cell/probe
    * CTEs composed with [[simSq8]]'s per-dimension codes; pair distances
    * re-aggregate from the long code rows inside the probed cells only.
    */
  def simIvfSq8(nCells: Int, dim: Int, nQueries: Int, nProbe: Int,
      k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |dims AS (SELECT unnest(range(1, ${dim + 1})) AS d),
       |mm AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       |  FROM e CROSS JOIN dims GROUP BY d),
       |code AS (SELECT e.vec_id, mm.d,
       |    CASE WHEN mm.mx > mm.mn
       |      THEN CAST(round((e.v[mm.d] - mm.mn) * 255 / (mm.mx - mm.mn)) AS BIGINT)
       |      ELSE 0 END AS code
       |  FROM e CROSS JOIN mm),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, cell FROM (
       |  SELECT q.q_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |pd AS (SELECT p.q_id, cl.vec_id AS n_id,
       |    sum((cq.code - cn.code) * (cq.code - cn.code)) AS d2
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  JOIN code cn ON cn.vec_id = cl.vec_id
       |  JOIN code cq ON cq.vec_id = p.q_id AND cq.d = cn.d
       |  WHERE cl.vec_id <> p.q_id
       |  GROUP BY p.q_id, cl.vec_id),
       |r AS (SELECT q_id, n_id, d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rnk FROM pd)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, CAST(d2 AS BIGINT) AS sq_dist
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of [[Similarity.lshTopK]]: identical ±1 sign vectors (same LCG
    * family), identical sequential dot fold, so every projection lands on
    * the same side of `> 0` in both engines.
    */
  def simLsh(nQueries: Int, bits: Int, tables: Int, dim: Int, k: Int): String = {
    val signs = graft.operators.Similarity.lshSigns(bits * tables, dim)
    def signList(j: Int): String =
      signs(j).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def keyExpr(t: Int): String = (0 until bits).map { b =>
      s"(CASE WHEN ${dot("v", signList(t * bits + b))} > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n    + ")
    val keyCols = (0 until tables).map(t =>
      s"CAST(${keyExpr(t)} AS BIGINT) AS key$t").mkString(",\n  ")
    val idxSelects = (0 until tables).map(t =>
      s"SELECT vec_id, v, $t AS tbl, key$t AS key FROM keyed").mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |keyed AS (SELECT vec_id, v,
       |  $keyCols
       |  FROM e),
       |idx AS (
       |  $idxSelects),
       |q AS (SELECT vec_id AS q_id, tbl, key FROM idx WHERE vec_id < $nQueries),
       |cand AS (SELECT DISTINCT q.q_id, i.vec_id AS n_id
       |  FROM idx i JOIN q ON i.tbl = q.tbl AND i.key = q.key AND i.vec_id <> q.q_id),
       |s AS (SELECT c.q_id, c.n_id, ${cosine("qe.v", "ne.v")} AS c
       |  FROM cand c JOIN e qe ON qe.vec_id = c.q_id JOIN e ne ON ne.vec_id = c.n_id),
       |r AS (SELECT q_id, n_id, c,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM s)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.ivfTopK]] with fixed coarse
    * centroids (vec_id < nCells, cell id = vec_id + 1).
    */
  def simIvf(nCells: Int, nQueries: Int, nProbe: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM (
       |  SELECT q_id, n_id, c,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM cand) t
       |WHERE rnk <= $k""".stripMargin

  /** Mirror of `retrieval_ndcg` ([[operators.Similarity.ndcgAtK]] over the
    * [[simIvf]] ranking): label-relevance joins plus the SAME integer
    * discount-weight literals the Spark plan inlines
    * ([[operators.Similarity.ndcgWeights]] — neither engine computes a
    * log), IDCG as the prefix-sum literal at min(k, n_rel), ppm by
    * integer division.
    */
  def retrievalNdcg(nCells: Int, nQueries: Int, nProbe: Int, k: Int): String = {
    val w = operators.Similarity.ndcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    s"""WITH rk AS (${simIvf(nCells, nQueries, nProbe, k)}),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
       |nrel AS (SELECT q.vec_id AS q_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM lab q JOIN lab o ON o.lab = q.lab AND o.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries GROUP BY q.vec_id),
       |d AS (SELECT rk.q_id,
       |    CAST(sum(CASE WHEN ln.lab = lq.lab
       |      THEN (${w.mkString("[", ", ", "]")})[rk.rnk] ELSE 0 END) AS BIGINT)
       |      AS dcg_e6,
       |    CAST(sum(CASE WHEN ln.lab = lq.lab THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits
       |  FROM rk JOIN lab lq ON lq.vec_id = rk.q_id
       |  JOIN lab ln ON ln.vec_id = rk.n_id GROUP BY rk.q_id)
       |SELECT d.q_id, coalesce(n.n_rel, 0) AS n_rel, d.hits,
       |  CAST(CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0
       |    ELSE d.dcg_e6 * 1000000 //
       |      (${prefix.mkString("[", ", ", "]")})[least(n.n_rel, $k)]
       |    END AS BIGINT) AS ndcg_ppm
       |FROM d LEFT JOIN nrel n ON n.q_id = d.q_id""".stripMargin
  }

  /** Mirror of `sim_ivf_delta` ([[operators.Similarity.ivfTopKDelta]]):
    * [[simIvf]] with the searchable set = base cells UNION the un-indexed
    * delta batch. The fixture delta re-keys every vec_id % `deltaMod` =
    * `deltaRem` vector under +10⁶ with the SAME coordinates, so its cell
    * assignment is derivable from the base `cells` CTE verbatim — the
    * oracle proves the freshness path surfaces new vectors (cos 1e6
    * duplicates of their originals) without an index rebuild.
    */
  def simIvfDelta(nCells: Int, nQueries: Int, nProbe: Int, k: Int,
      deltaMod: Int, deltaRem: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |base AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |cells AS (SELECT vec_id, v, cell FROM base
       |  UNION ALL SELECT vec_id + 1000000, v, cell FROM base
       |  WHERE vec_id % $deltaMod = $deltaRem),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM (
       |  SELECT q_id, n_id, c,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM cand) t
       |WHERE rnk <= $k""".stripMargin

  /** Mirror of [[operators.Similarity.ivfRange]]: [[simIvf]]'s cell/probe
    * CTEs verbatim, but the final cut is the e6 fixed-point threshold
    * (`round(c·1e6) ≥ minCosE6`) instead of a rank window — membership is
    * decided on exactly the integer both engines report, so the same ulp
    * argument that keeps the top-k oracles hash-exact covers the boundary.
    */
  def simRange(nCells: Int, nQueries: Int, nProbe: Int, minCosE6: Long): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id)
       |SELECT q_id, n_id, CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM cand
       |WHERE CAST(round(c*1e6) AS BIGINT) >= $minCosE6""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.epochAllocation]]: the same
    * greedy waterfill walked as a recursive CTE over the sources ranked
    * ascending by (tokens, source) — identical integer floor-division and
    * `least` at every step, so the allocations are engine-exact.
    */
  def docEpochs(budget: Long, maxEpochs: Int): String =
    s"""WITH RECURSIVE t AS (SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       |rk AS (SELECT source, tokens,
       |    CAST(row_number() OVER (ORDER BY tokens, source) AS BIGINT) AS rn
       |  FROM t),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
       |rec(rn, alloc, b_after) AS (
       |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST($budget AS BIGINT)
       |  UNION ALL
       |  SELECT rk.rn,
       |    least(rk.tokens * $maxEpochs,
       |      rec.b_after // ((SELECT n FROM n) - rec.rn)),
       |    rec.b_after - least(rk.tokens * $maxEpochs,
       |      rec.b_after // ((SELECT n FROM n) - rec.rn))
       |  FROM rec JOIN rk ON rk.rn = rec.rn + 1)
       |SELECT rk.source, rk.tokens, rec.alloc AS alloc_tokens,
       |  CAST(rec.alloc * 1000000 // rk.tokens AS BIGINT) AS epochs_ppm
       |FROM rec JOIN rk ON rk.rn = rec.rn""".stripMargin

  /** Mirror of [[graft.operators.Similarity.annRecall]] over
    * [[simTopK]]-exact vs [[simIvf]]-approximate: both ranking chains
    * inlined with disjoint CTE names, then a (q_id, n_id) left join and
    * integer recall ppm.
    */
  def simRecall(nCells: Int, nQueries: Int, nProbe: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |xs AS (SELECT q.q_id, e.vec_id AS n_id, ${cosine("q.qv", "e.v")} AS c
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |ex AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM xs) t WHERE rnk <= $k),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id),
       |iv AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM cand) t WHERE rnk <= $k)
       |SELECT ex.q_id,
       |  CAST(sum(CASE WHEN iv.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(count(*) AS BIGINT) AS k_exact,
       |  CAST((sum(CASE WHEN iv.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM ex LEFT JOIN iv ON iv.q_id = ex.q_id AND iv.n_id = ex.n_id
       |GROUP BY ex.q_id""".stripMargin

  /** Mirror of [[graft.operators.Similarity.mrr]] over [[simTopK]]-exact vs
    * [[simIvf]]-approximate: the [[simRecall]] CTE chains with the exact
    * side cut at rank 1 (the true nearest = the relevant doc) and the
    * approximate side keeping its rank for the reciprocal.
    */
  def retrievalMrr(nCells: Int, nQueries: Int, nProbe: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |xs AS (SELECT q.q_id, e.vec_id AS n_id, ${cosine("q.qv", "e.v")} AS c
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |ex1 AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM xs) t WHERE rnk = 1),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id),
       |iv AS (SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM cand) t WHERE rnk <= $k)
       |SELECT ex1.q_id, ex1.n_id AS relevant_id, iv.rnk AS rank_approx,
       |  CAST(coalesce(1000000 // iv.rnk, 0) AS BIGINT) AS rr_ppm
       |FROM ex1 LEFT JOIN iv ON iv.q_id = ex1.q_id AND iv.n_id = ex1.n_id""".stripMargin

  /** Shared CTE chain of the 1-bit binary search
    * ([[graft.operators.Similarity.binaryTopK]]): two 32-bit sign words per
    * vector, xor-popcount Hamming shortlist, exact-cosine re-rank — every
    * pack shift, tie order, and rounding mirrored.
    */
  private def binaryCtes(nQueries: Int, k: Int, rerankN: Int): String = {
    def word(lo: Int): String =
      (0 until 32).map(i =>
        s"CASE WHEN v[${lo + i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |coded AS (SELECT vec_id, v, CAST(${word(0)} AS BIGINT) AS c0,
       |    CAST(${word(32)} AS BIGINT) AS c1 FROM e),
       |bq AS (SELECT vec_id AS q_id, v AS qv, c0 AS qc0, c1 AS qc1
       |  FROM coded WHERE vec_id < $nQueries),
       |ham AS (SELECT bq.q_id, coded.vec_id AS n_id, bq.qv, coded.v,
       |    CAST(bit_count(xor(bq.qc0, coded.c0)) +
       |      bit_count(xor(bq.qc1, coded.c1)) AS BIGINT) AS hamming
       |  FROM coded CROSS JOIN bq WHERE coded.vec_id <> bq.q_id),
       |short AS (SELECT q_id, n_id, qv, v, hamming FROM (SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hr
       |  FROM ham) t WHERE hr <= $rerankN),
       |bin AS (SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, hamming,
       |    CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM (
       |  SELECT q_id, n_id, hamming, ${cosine("qv", "v")} AS c,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${cosine("qv", "v")} DESC, n_id) AS rnk
       |  FROM short) x WHERE rnk <= $k)""".stripMargin
  }

  def simBinary(nQueries: Int, k: Int, rerankN: Int): String =
    s"""WITH ${binaryCtes(nQueries, k, rerankN)}
       |SELECT q_id, n_id, rnk, hamming, cos_e6 FROM bin""".stripMargin

  /** Mirror of [[graft.operators.Similarity.ivfBinaryTopK]]: the
    * [[simIvf]] cell/probe chain composed with [[simBinary]]'s sign words
    * — Hamming candidates from the cell equi-join only, then the shared
    * shortlist → exact-cosine re-rank tail.
    */
  def simIvfBinary(nCells: Int, nQueries: Int, nProbe: Int, k: Int,
      rerankN: Int): String = {
    def word(lo: Int): String =
      (0 until 32).map(i =>
        s"CASE WHEN v[${lo + i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |coded AS (SELECT vec_id, v, CAST(${word(0)} AS BIGINT) AS c0,
       |    CAST(${word(32)} AS BIGINT) AS c1 FROM e),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, c0, c1, cell FROM (
       |  SELECT cd.vec_id, cd.c0, cd.c1, c.cid AS cell,
       |    row_number() OVER (PARTITION BY cd.vec_id ORDER BY ${sqdist("cd.v", "c.cv")}, c.cid) AS rn
       |  FROM coded cd CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, cell FROM (
       |  SELECT q.q_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |bq AS (SELECT vec_id AS q_id, c0 AS qc0, c1 AS qc1 FROM coded
       |  WHERE vec_id < $nQueries),
       |ham AS (SELECT p.q_id, cl.vec_id AS n_id,
       |    CAST(bit_count(xor(bq.qc0, cl.c0)) +
       |      bit_count(xor(bq.qc1, cl.c1)) AS BIGINT) AS hamming
       |  FROM probes p JOIN cells cl ON cl.cell = p.cell
       |  JOIN bq ON bq.q_id = p.q_id
       |  WHERE cl.vec_id <> p.q_id),
       |short AS (SELECT q_id, n_id, hamming FROM (SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hr
       |  FROM ham) t WHERE hr <= $rerankN)
       |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, hamming,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM (
       |  SELECT s.q_id, s.n_id, s.hamming, ${cosine("q.qv", "e.v")} AS c,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY ${cosine("q.qv", "e.v")} DESC, s.n_id) AS rnk
       |  FROM short s JOIN e ON e.vec_id = s.n_id
       |    JOIN q ON q.q_id = s.q_id) x WHERE rnk <= $k""".stripMargin
  }

  /** Mirror of `sim_binary_recall`: [[simBinary]]'s chain measured against
    * the exact cosine top-k ([[graft.operators.Similarity.annRecall]]'s
    * rollup, the [[simRecall]] shape).
    */
  def simBinaryRecall(nQueries: Int, k: Int, rerankN: Int): String =
    s"""WITH ${binaryCtes(nQueries, k, rerankN)},
       |xs AS (SELECT bq.q_id, e.vec_id AS n_id, ${cosine("bq.qv", "e.v")} AS c
       |  FROM e CROSS JOIN bq WHERE e.vec_id <> bq.q_id),
       |ex AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM xs) t WHERE rnk <= $k)
       |SELECT ex.q_id,
       |  CAST(sum(CASE WHEN bin.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(count(*) AS BIGINT) AS k_exact,
       |  CAST((sum(CASE WHEN bin.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM ex LEFT JOIN bin ON bin.q_id = ex.q_id AND bin.n_id = ex.n_id
       |GROUP BY ex.q_id""".stripMargin

  /** Mirror of `sim_ivf_fitted` — the WHOLE query including its fit
    * ([[graft.operators.KMeans.InverseCdf]] fit over the L2-normalized
    * embeddings + the [[simIvf]] probe over the fitted cells), unrolled:
    *  - normalize: `x / sqrt(dot(v,v))` per element (zero vectors → 0.0),
    *    the [[graft.operators.Similarity.normalize]] expressions verbatim;
    *  - seeding rounds 2..k: the [[kmGapFitted]] pattern over LISTS —
    *    anti-join by coordinates, `round(min(sqdist)·wScale)` integer
    *    weights, inclusive windowed cumulative sum in key order, the
    *    `cw·uD ≥ tw·uN` rational-threshold pick with KMeans.FixedUs;
    *  - Lloyd steps: the [[kmFitMinibatch]] list machinery on the FULL
    *    relation — per-(j, dim) `sum(round(Y[d]·fx))` longs, re-averages
    *    `sfx::DOUBLE / fx / cnt` rebuilt as j-keyed lists, empty clusters
    *    dropped by the GROUP BY, movement as the j-ordered fold of
    *    per-centroid `sqrt(sqdist)`, the kmWcrLog movement gate;
    *  - probe: [[simIvf]]'s cell/probe/candidate chain with the fitted
    *    centroid relation in place of the fixed `vec_id < nCells` cells.
    */
  def simIvfFitted(k: Int = 10, lloydSteps: Int = 3, tol: Double = 0.01,
      nQueries: Int = 5, nProbe: Int = 3, kOut: Int = 10,
      fxScale: Double = 1e6, wScale: Double = 1e6): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS vr FROM embeddings),
              |n AS MATERIALIZED (SELECT vec_id AS i,
              |    list_transform(vr, x -> CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END) AS Y
              |  FROM (SELECT vec_id, vr, sqrt(${dot("vr", "vr")}) AS nrm FROM e0) z),
              |dims AS (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS d),
              |c_1 AS MATERIALIZED (SELECT Y FROM n ORDER BY i LIMIT 1)""".stripMargin
    for (r <- 2 to k) {
      val (uN, uD) = operators.KMeans.fixedU(r)
      val chosen = (1 until r).map(q => s"SELECT Y FROM c_$q")
        .mkString(" UNION ALL ")
      sb ++= s""",
                |ch_$r AS MATERIALIZED ($chosen),
                |w_$r AS (SELECT p.i,
                |    CAST(round(min(${sqdist("p.Y", "c.Y")}) * $wScale) AS BIGINT) AS w
                |  FROM n p CROSS JOIN ch_$r c
                |  WHERE NOT EXISTS (SELECT 1 FROM ch_$r x WHERE x.Y = p.Y)
                |  GROUP BY p.i),
                |u_$r AS (SELECT ww.i,
                |    sum(ww.w) OVER (ORDER BY ww.i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                |    sum(ww.w) OVER () AS tw FROM w_$r ww),
                |c_$r AS MATERIALIZED (SELECT n.Y FROM u_$r u JOIN n ON n.i = u.i
                |  WHERE u.cw*$uD >= u.tw*$uN ORDER BY u.cw, u.i LIMIT 1)""".stripMargin
    }
    val seed = (1 to k)
      .map(q => s"SELECT CAST($q AS BIGINT) AS j, Y AS cv FROM c_$q")
      .mkString(" UNION ALL ")
    sb ++= s""",
              |f0 AS MATERIALIZED ($seed)""".stripMargin
    for (t <- 1 to lloydSteps) {
      val p = t - 1
      sb ++= s""",
                |a_$t AS MATERIALIZED (SELECT i, Y, j FROM (
                |  SELECT n.i, n.Y, c.j,
                |    row_number() OVER (PARTITION BY n.i
                |      ORDER BY ${sqdist("n.Y", "c.cv")}, c.j) AS rn
                |  FROM n CROSS JOIN f$p c) t WHERE rn = 1),
                |sd_$t AS (SELECT a.j, d.d,
                |    sum(CAST(round(a.Y[d.d]*$fxScale) AS BIGINT)) AS sfx
                |  FROM a_$t a CROSS JOIN dims d GROUP BY a.j, d.d),
                |cn_$t AS (SELECT j, CAST(count(*) AS BIGINT) AS cnt FROM a_$t GROUP BY j),
                |f$t AS MATERIALIZED (SELECT sd.j,
                |    list(CAST(sd.sfx AS DOUBLE)/$fxScale/cn.cnt ORDER BY sd.d) AS cv
                |  FROM sd_$t sd JOIN cn_$t cn ON cn.j = sd.j GROUP BY sd.j),
                |m_$t AS MATERIALIZED (SELECT coalesce(list_reduce(list_prepend(0.0,
                |    list(sqrt(${sqdist("nn.cv", "pp.cv")}) ORDER BY nn.j)),
                |    (x,y) -> x+y), 0.0) AS mv
                |  FROM f$t nn JOIN f$p pp ON pp.j = nn.j)""".stripMargin
    }
    val fin = (1 to lloydSteps).map { t =>
      val gates = (1 until t).map(u => s"(SELECT mv FROM m_$u) >= $tol")
      val stop =
        if (t < lloydSteps) Seq(s"(SELECT mv FROM m_$t) < $tol") else Nil
      val conds = gates ++ stop
      val where = if (conds.isEmpty) "" else s" WHERE ${conds.mkString(" AND ")}"
      s"SELECT j, cv FROM f$t$where"
    }.mkString("\nUNION ALL ")
    sb ++= s""",
              |fin AS MATERIALIZED (
              |$fin),
              |cells AS (SELECT i, Y, cell FROM (
              |  SELECT n.i, n.Y, f.j AS cell,
              |    row_number() OVER (PARTITION BY n.i
              |      ORDER BY ${sqdist("n.Y", "f.cv")}, f.j) AS rn
              |  FROM n CROSS JOIN fin f) t WHERE rn = 1),
              |q AS (SELECT i AS q_id, Y AS qv FROM n WHERE i < $nQueries),
              |probes AS (SELECT q_id, qv, cell FROM (
              |  SELECT q.q_id, q.qv, f.j AS cell,
              |    row_number() OVER (PARTITION BY q.q_id
              |      ORDER BY ${sqdist("q.qv", "f.cv")}, f.j) AS pr
              |  FROM q CROSS JOIN fin f) t WHERE pr <= $nProbe),
              |cand AS (SELECT p.q_id, cl.i AS n_id, ${cosine("p.qv", "cl.Y")} AS c
              |  FROM probes p JOIN cells cl ON p.cell = cl.cell
              |  WHERE cl.i <> p.q_id)
              |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
              |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM (
              |  SELECT q_id, n_id, c,
              |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
              |  FROM cand) x WHERE rnk <= $kOut""".stripMargin
    sb.toString
  }

  /** Mirror of [[graft.operators.Similarity.matryoshkaRecall]]: one ranked
    * subquery per prefix width (the [[cosine]] fold over `list_slice`d
    * vectors — the same left fold stopped at d), each left-joined against
    * the full-width exact CTE, summary rows unioned.
    */
  def embMatryoshka(dims: Seq[Int], nQueries: Int, k: Int): String = {
    val full = dims.max
    def pcos(d: Int) =
      cosine(s"list_slice(q.qv, 1, $d)", s"list_slice(e.v, 1, $d)")
    val blocks = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dims,
         |  CAST(sum(CASE WHEN ex.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k_exact,
         |  CAST((sum(CASE WHEN ex.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS recall_ppm
         |FROM (SELECT q_id, n_id FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${pcos(d)} DESC, e.vec_id) AS rnk
         |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id) t WHERE rnk <= $k) a
         |LEFT JOIN ex ON ex.q_id = a.q_id AND ex.n_id = a.n_id""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |ex AS (SELECT q_id, n_id FROM (
       |    SELECT q.q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${pcos(full)} DESC, e.vec_id) AS rnk
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id) t WHERE rnk <= $k)
       |${blocks.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.ivfRecallCurve]]: the
    * [[simRecall]] chains with the candidate's probe rank carried, one
    * level cross join pricing every probe count, recall denominated on the
    * exact top-k.
    */
  def simRecallCurve(nCells: Int, nQueries: Int, probeLevels: Seq[Int],
      k: Int): String = {
    val maxProbe = probeLevels.max
    val lvList = probeLevels.map(p => s"CAST($p AS BIGINT)").mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |probes AS (SELECT q_id, qv, cell, CAST(pr AS BIGINT) AS pr FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $maxProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, p.pr, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id),
       |lv AS (SELECT unnest($lvList) AS n_probe),
       |cst AS (SELECT l.n_probe, CAST(count(*) AS BIGINT) AS n_cand
       |  FROM cand CROSS JOIN lv l WHERE cand.pr <= l.n_probe
       |  GROUP BY l.n_probe),
       |apx AS (SELECT n_probe, q_id, n_id FROM (
       |  SELECT l.n_probe, cand.q_id, cand.n_id,
       |    row_number() OVER (PARTITION BY l.n_probe, cand.q_id
       |      ORDER BY cand.c DESC, cand.n_id) AS rnk
       |  FROM cand CROSS JOIN lv l WHERE cand.pr <= l.n_probe) x WHERE rnk <= $k),
       |xs AS (SELECT q.q_id, e.vec_id AS n_id, ${cosine("q.qv", "e.v")} AS c
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |ex AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk
       |  FROM xs) t WHERE rnk <= $k),
       |exl AS (SELECT l.n_probe, ex.q_id, ex.n_id FROM ex CROSS JOIN lv l),
       |rc AS (SELECT exl.n_probe,
       |    CAST(sum(CASE WHEN apx.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |    CAST(count(*) AS BIGINT) AS k_exact,
       |    CAST((sum(CASE WHEN apx.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
       |      // count(*) AS BIGINT) AS recall_ppm
       |  FROM exl LEFT JOIN apx ON apx.n_probe = exl.n_probe
       |    AND apx.q_id = exl.q_id AND apx.n_id = exl.n_id
       |  GROUP BY exl.n_probe)
       |SELECT rc.n_probe, cst.n_cand, rc.n_hit, rc.k_exact, rc.recall_ppm
       |FROM rc JOIN cst ON cst.n_probe = rc.n_probe""".stripMargin
  }

  /** Mirror of [[Dedup.embeddingCosineBlocked]] with fixed coarse centroids
    * (vec_id < nCells, cell id = vec_id + 1): every vector indexed under its
    * nProbe nearest cells (ties → lowest cell id, same as the row-local
    * struct sort), pairs from the cell equi-join, exact cosine re-rank.
    */
  def dedupEmbCosineBlocked(nCells: Int, nProbe: Int, thrE6: Long): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |idx AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn <= $nProbe)
       |SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(round(${cosine("a.v", "b.v")}*1e6) AS BIGINT) AS cos_e6
       |FROM idx a JOIN idx b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE CAST(round(${cosine("a.v", "b.v")}*1e6) AS BIGINT) >= $thrE6""".stripMargin

  def dedupEmbCosine(thrE6: Long): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosine("a.v", "b.v")} AS c
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |SELECT a_id, b_id, CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM p
       |WHERE CAST(round(c*1e6) AS BIGINT) >= $thrE6""".stripMargin

  /** Mirror of [[graft.operators.Dedup.semanticDedup]] with fixed coarse
    * centroids (vec_id < nCells, cell id = vec_id + 1): nearest-cell
    * assignment with the centroid cosine alongside, within-cell pairs over
    * the fixed-point threshold, transitive closure as a recursive CTE, and
    * the keep-the-outlier window cut on (cent_cos_e6, vec_id).
    */
  def dedupSemantic(nCells: Int, thrE6: Long): String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |asn AS (SELECT vec_id, v, cell, cent_cos FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell, ${cosine("e.v", "c.cv")} AS cent_cos,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(round(${cosine("a.v", "b.v")}*1e6) AS BIGINT) >= $thrE6),
       |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM e
       |  UNION
       |  SELECT ed.t, reach.r FROM reach JOIN edges ed ON ed.s = reach.id),
       |comp AS (SELECT id AS vec_id, min(r) AS rep_id FROM reach GROUP BY id),
       |j AS (SELECT asn.vec_id, asn.cell,
       |    CAST(round(asn.cent_cos*1e6) AS BIGINT) AS cent_cos_e6, comp.rep_id,
       |    count(*) OVER (PARTITION BY comp.rep_id) AS cluster_size,
       |    row_number() OVER (PARTITION BY comp.rep_id
       |      ORDER BY CAST(round(asn.cent_cos*1e6) AS BIGINT), asn.vec_id) AS rn
       |  FROM asn JOIN comp ON comp.vec_id = asn.vec_id)
       |SELECT vec_id, cell, cent_cos_e6, rep_id,
       |  CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM j""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.bm25]]: same token relation
    * as [[textTfidf]], the data-derived top-term query, and the identical
    * double sequence for the rational-IDF BM25 term score (constants
    * interpolated via Scala's shortest-round-trip Double.toString, so both
    * engines parse the same doubles). Integer sums only — DuckDB's
    * sum(BIGINT) widening is cast back before the compare.
    */
  def textBm25(nTerms: Int, k: Int, k1: Double, b: Double): String =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tok),
       |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS token FROM d) t
       |  GROUP BY doc_id, dl, token),
       |q AS (SELECT token, df FROM (
       |    SELECT token, CAST(sum(tf) AS BIGINT) AS cnt, count(*) AS df
       |    FROM tf GROUP BY token ORDER BY cnt DESC, token LIMIT $nTerms) t),
       |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS total_len FROM d),
       |s AS (SELECT tf.doc_id, tf.dl,
       |    CAST(round(((n_docs - df + 0.5) / (df + 0.5)) * (tf.tf * ${k1 + 1.0}) /
       |      (tf.tf + $k1 * (1.0 - $b + $b * tf.dl * n_docs / total_len)) * 1e6)
       |      AS BIGINT) AS term_e6
       |  FROM tf JOIN q ON tf.token = q.token CROSS JOIN scal),
       |g AS (SELECT doc_id, dl, CAST(sum(term_e6) AS BIGINT) AS score_e6,
       |    count(*) AS n_hit
       |  FROM s GROUP BY doc_id, dl ORDER BY score_e6 DESC, doc_id LIMIT $k)
       |SELECT CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rnk,
       |  doc_id, dl, n_hit, score_e6 FROM g""".stripMargin

  /** Mirror of [[graft.operators.Retrieval.hybridRrf]]: the [[textBm25]]
    * Okapi term shape scored per pseudo-query (each query doc's top-nTerms
    * TFIDF terms, [[graft.operators.TextAnalysis.tfidf]]'s rounded score
    * and tie order), the [[simIvf]] dense chain, and the RRF fusion as an
    * integer `1e6 // (rrfK + rank)` sum over a (q_id, doc) full outer join.
    */
  def retrievalHybrid(nQueries: Int, nTerms: Int, kList: Int, kOut: Int,
      rrfK: Int, nCells: Int, nProbe: Int, k1: Double, b: Double): String =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tok),
       |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS token FROM d) t
       |  GROUP BY doc_id, dl, token),
       |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS total_len FROM d),
       |qt AS (SELECT q_id, token, df FROM (
       |    SELECT tf.doc_id AS q_id, tf.token, df.df,
       |      row_number() OVER (PARTITION BY tf.doc_id ORDER BY
       |        CAST(round(tf.tf * n_docs * 1000000.0 / df.df) AS BIGINT) DESC,
       |        tf.token) AS trnk
       |    FROM tf JOIN df ON tf.token = df.token CROSS JOIN scal
       |    WHERE tf.doc_id < $nQueries) x WHERE trnk <= $nTerms),
       |sp AS (SELECT qt.q_id, tf.doc_id,
       |    CAST(sum(CAST(round(((n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
       |      (tf.tf * ${k1 + 1.0}) /
       |      (tf.tf + $k1 * (1.0 - $b + $b * tf.dl * n_docs / total_len)) * 1e6)
       |      AS BIGINT)) AS BIGINT) AS score_e6
       |  FROM tf JOIN qt ON tf.token = qt.token CROSS JOIN scal
       |  WHERE tf.doc_id <> qt.q_id GROUP BY qt.q_id, tf.doc_id),
       |sr AS (SELECT q_id, doc_id, CAST(rnk_sparse AS BIGINT) AS rnk_sparse FROM (
       |    SELECT q_id, doc_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY score_e6 DESC, doc_id)
       |        AS rnk_sparse FROM sp) x WHERE rnk_sparse <= $kList),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, qv, cell FROM (
       |  SELECT q.q_id, q.qv, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY ${sqdist("q.qv", "c.cv")}, c.cid) AS pr
       |  FROM q CROSS JOIN cent c) t WHERE pr <= $nProbe),
       |cand AS (SELECT p.q_id, cl.vec_id AS n_id, ${cosine("p.qv", "cl.v")} AS c
       |  FROM probes p JOIN cells cl ON p.cell = cl.cell
       |  WHERE cl.vec_id <> p.q_id),
       |dr AS (SELECT q_id, n_id AS doc_id, CAST(rnk_dense AS BIGINT) AS rnk_dense FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk_dense
       |    FROM cand) x WHERE rnk_dense <= $kList),
       |fuse AS (SELECT coalesce(sr.q_id, dr.q_id) AS q_id,
       |    coalesce(sr.doc_id, dr.doc_id) AS doc_id, sr.rnk_sparse, dr.rnk_dense,
       |    CAST(coalesce(1000000 // ($rrfK + sr.rnk_sparse), 0) +
       |      coalesce(1000000 // ($rrfK + dr.rnk_dense), 0) AS BIGINT) AS rrf_e6
       |  FROM sr FULL OUTER JOIN dr
       |    ON sr.q_id = dr.q_id AND sr.doc_id = dr.doc_id)
       |SELECT q_id, doc_id, CAST(rnk AS BIGINT) AS rnk, rrf_e6,
       |  rnk_sparse, rnk_dense FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_e6 DESC, doc_id)
       |    AS rnk FROM fuse) x WHERE rnk <= $kOut""".stripMargin

  /** Mirror of [[graft.operators.Retrieval.prfBm25]]: the [[retrievalHybrid]]
    * sparse CTEs run TWICE — initial pseudo-query scoring, top-nFb feedback
    * docs, new-term harvest by summed tf (NOT EXISTS excludes the original
    * terms before the rank cut), and the expanded-set rescore — with the
    * identical Okapi double sequence and tie orders at every cut.
    */
  def retrievalPrf(nQueries: Int, nTerms: Int, nFb: Int, nExp: Int,
      kOut: Int, k1: Double, b: Double): String = {
    def okapi(dfRef: String) =
      s"""CAST(sum(CAST(round(((n_docs - $dfRef + 0.5) / ($dfRef + 0.5)) *
         |      (tf.tf * ${k1 + 1.0}) /
         |      (tf.tf + $k1 * (1.0 - $b + $b * tf.dl * n_docs / total_len)) * 1e6)
         |      AS BIGINT)) AS BIGINT)""".stripMargin
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tok),
       |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS token FROM d) t
       |  GROUP BY doc_id, dl, token),
       |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS total_len FROM d),
       |qt AS (SELECT q_id, token, df FROM (
       |    SELECT tf.doc_id AS q_id, tf.token, df.df,
       |      row_number() OVER (PARTITION BY tf.doc_id ORDER BY
       |        CAST(round(tf.tf * n_docs * 1000000.0 / df.df) AS BIGINT) DESC,
       |        tf.token) AS trnk
       |    FROM tf JOIN df ON tf.token = df.token CROSS JOIN scal
       |    WHERE tf.doc_id < $nQueries) x WHERE trnk <= $nTerms),
       |s1 AS (SELECT qt.q_id, tf.doc_id, ${okapi("qt.df")} AS score_e6
       |  FROM tf JOIN qt ON tf.token = qt.token CROSS JOIN scal
       |  WHERE tf.doc_id <> qt.q_id GROUP BY qt.q_id, tf.doc_id),
       |fb AS (SELECT q_id, doc_id FROM (SELECT q_id, doc_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score_e6 DESC, doc_id) AS rnk
       |  FROM s1) x WHERE rnk <= $nFb),
       |ft AS (SELECT fb.q_id, tf.token, CAST(sum(tf.tf) AS BIGINT) AS fb_tf
       |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id GROUP BY fb.q_id, tf.token),
       |ex AS (SELECT q_id, token FROM (SELECT ft.q_id, ft.token,
       |    row_number() OVER (PARTITION BY ft.q_id ORDER BY ft.fb_tf DESC, ft.token) AS ernk
       |  FROM ft WHERE NOT EXISTS (SELECT 1 FROM qt
       |    WHERE qt.q_id = ft.q_id AND qt.token = ft.token)) x
       |  WHERE ernk <= $nExp),
       |qx AS (SELECT q_id, token, df FROM qt
       |  UNION ALL SELECT ex.q_id, ex.token, df.df FROM ex
       |    JOIN df ON ex.token = df.token),
       |s2 AS (SELECT qx.q_id, tf.doc_id, ${okapi("qx.df")} AS score_e6
       |  FROM tf JOIN qx ON tf.token = qx.token CROSS JOIN scal
       |  WHERE tf.doc_id <> qx.q_id GROUP BY qx.q_id, tf.doc_id)
       |SELECT q_id, doc_id, CAST(rnk AS BIGINT) AS rnk, score_e6 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_e6 DESC, doc_id)
       |    AS rnk FROM s2) x WHERE rnk <= $kOut""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.hardNegatives]]: nProbe-cell
    * indexing with the label carried, different-label candidates from the
    * cell equi-join, per-anchor top-k by cosine.
    */
  def simHardNegatives(nCells: Int, nProbe: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    CAST(label AS BIGINT) AS label FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |idx AS (SELECT vec_id, v, label, cell FROM (
       |  SELECT e.vec_id, e.v, e.label, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn <= $nProbe),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, a.label AS label_a,
       |    b.vec_id AS n_id, b.label AS label_n, ${cosine("a.v", "b.v")} AS c
       |  FROM idx a JOIN idx b ON a.cell = b.cell AND a.label <> b.label),
       |r AS (SELECT a_id, label_a, n_id, label_n, c,
       |    row_number() OVER (PARTITION BY a_id ORDER BY c DESC, n_id) AS rnk
       |  FROM cand)
       |SELECT a_id, label_a, n_id, label_n, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(round(c*1e6) AS BIGINT) AS cos_e6 FROM r WHERE rnk <= $k""".stripMargin

  /** Mirror of the `dedup_semantic_recall` gauge: exact all-pairs at the
    * threshold vs the single-cell blocked pair set, folded to one row of
    * integer recall ppm.
    */
  def dedupSemanticRecall(nCells: Int, thrE6: Long, maxProbe: Int,
      probeLevels: Seq[Int]): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE CAST(round(${cosine("a.v", "b.v")}*1e6) AS BIGINT) >= $thrE6),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |idx AS (SELECT vec_id, v, cell, rn FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn <= $maxProbe),
       |bl AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    CAST(min(greatest(a.rn, b.rn)) AS BIGINT) AS first_probe
       |  FROM idx a JOIN idx b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(round(${cosine("a.v", "b.v")}*1e6) AS BIGINT) >= $thrE6
       |  GROUP BY a.vec_id, b.vec_id),
       |j AS (SELECT ex.a_id, ex.b_id, bl.first_probe
       |  FROM ex LEFT JOIN bl ON bl.a_id = ex.a_id AND bl.b_id = ex.b_id),
       |p AS (SELECT unnest(${probeLevels.mkString("[", ", ", "]")}) AS n_probe)
       |SELECT CAST(p.n_probe AS BIGINT) AS n_probe,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN j.first_probe <= p.n_probe THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((sum(CASE WHEN j.first_probe <= p.n_probe THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM j CROSS JOIN p GROUP BY p.n_probe""".stripMargin

  /** Mirror of [[graft.operators.Similarity.knnGraph]]: nProbe-cell
    * indexing, distinct directed candidates from the cell equi-join, the
    * per-vector top-k window, and the mutuality self-join on the transposed
    * directed edge list.
    */
  /** Mirror of [[operators.Similarity.graphRank]]: the [[simKnnGraph]]
    * mutual-edge CTE chain, then `iters` UNROLLED rank layers (bounded by
    * contract, the [[textBpeTrain]] discipline) of the exact integer
    * update `150000 + Σ (rank·85) // (100·deg)` — `//` on positive BIGINTs
    * is the same floor Spark's `div` takes.
    */
  def simGraphRank(nCells: Int, nProbe: Int, k: Int, iters: Int = 5): String = {
    val base =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
         |idx AS (SELECT vec_id, v, cell FROM (
         |  SELECT e.vec_id, e.v, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
         |  FROM e CROSS JOIN cent c) t WHERE rn <= $nProbe),
         |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${cosine("a.v", "b.v")} AS c
         |  FROM idx a JOIN idx b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |d AS (SELECT a_id, b_id, c,
         |    row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rnk
         |  FROM cand),
         |g AS (SELECT d1.a_id AS s, d1.b_id AS t
         |  FROM d d1 JOIN d d2 ON d2.a_id = d1.b_id AND d2.b_id = d1.a_id
         |  WHERE d1.rnk <= $k AND d2.rnk <= $k AND d1.a_id < d1.b_id),
         |sym AS (SELECT s, t FROM g UNION ALL SELECT t AS s, s AS t FROM g),
         |nd AS (SELECT e.vec_id AS id, coalesce(dg.deg, 0) AS deg
         |  FROM e LEFT JOIN (SELECT s AS id, count(*) AS deg FROM sym GROUP BY 1) dg
         |  ON dg.id = e.vec_id),
         |r0 AS (SELECT id, deg, CAST(1000000 AS BIGINT) AS rank FROM nd)""".stripMargin
    val layers = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.id, nd.deg,
         |    150000 + coalesce(sum((r.rank * 85) // (100 * r.deg)), 0) AS rank
         |  FROM nd LEFT JOIN (SELECT sym.t, r.rank, r.deg
         |      FROM sym JOIN r${i - 1} r ON r.id = sym.s) r ON r.t = nd.id
         |  GROUP BY 1, 2)""".stripMargin
    }
    "WITH " + (base +: layers).mkString(",\n") +
      s"\nSELECT id AS vec_id, CAST(deg AS BIGINT) AS deg," +
      s" CAST(rank AS BIGINT) AS rank_ppm FROM r$iters"
  }

  /** HyperLogLog register replay: the oracle re-derives the SAME m=2^p
    * registers as graft's HllSketch aggregate with plain integer SQL —
    * the transparent 32-bit avalanche hash unrolled as CTE layers (128-bit
    * intermediates via HUGEINT so `(h·K) mod 2^32` never overflows), rho
    * from the binary-string length, registers as grouped max, and the raw
    * estimate as the SAME single IEEE division Spark performs (the alpha
    * constant's product with m²·2^33 only shifts exponents, and the
    * denominator is an exact ≤2^41 integer, so floor(C/denom + 0.5) is
    * bit-identical across engines).
    */
  def qHll(p: Int): String = {
    val m = 1 << p
    val c = hllEstConst(p)
    s"WITH ${hllRegisterCtes(p)},\n" +
      s"""ex AS (SELECT l_returnflag AS scope, count(DISTINCT l_orderkey) AS n_exact
       |  FROM lineitem GROUP BY 1),
       |flag AS (SELECT sk.scope, ex.n_exact,
       |    CAST(floor($c / denom_x2p33 + 0.5) AS BIGINT) AS hll_est,
       |    CAST(v_zero AS BIGINT) AS v_zero, denom_x2p33
       |  FROM sk JOIN ex ON sk.scope = ex.scope),
       |rega AS (SELECT bucket, max(rho) AS r FROM rr GROUP BY 1),
       |ska AS (SELECT
       |    CAST(sum(1::BIGINT << (33 - r)) + ($m - count(*)) * 8589934592 AS BIGINT) AS denom_x2p33,
       |    $m - count(*) AS v_zero
       |  FROM rega),
       |exa AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem),
       |allr AS (SELECT 'ALL' AS scope, exa.n_exact,
       |    CAST(floor($c / denom_x2p33 + 0.5) AS BIGINT) AS hll_est,
       |    CAST(v_zero AS BIGINT) AS v_zero, denom_x2p33
       |  FROM ska, exa)
       |SELECT * FROM flag UNION ALL SELECT * FROM allr""".stripMargin
  }

  /** The sketch-lake twin: the SAME per-scope registers/estimates as
    * [[qHll]]'s flag rows, derived only from register state (no exact
    * column) — what a rollup over persisted sketches must reproduce.
    */
  def qHllLake(p: Int): String = {
    val c = hllEstConst(p)
    s"WITH ${hllRegisterCtes(p)}\n" +
      s"""SELECT scope, CAST(floor($c / denom_x2p33 + 0.5) AS BIGINT) AS hll_est,
       |  CAST(v_zero AS BIGINT) AS v_zero, denom_x2p33 FROM sk""".stripMargin
  }

  /** Mirror of [[graft.operators.Events.abTest]]: identical sufficient
    * stats and the SAME double expression tree for z² (every op
    * correctly-rounded IEEE, so the rounded e6 value is bit-equal).
    */
  /** Mirror of [[graft.operators.Events.powerMde]]: the [[eventsAbTest]]
    * conversion rule's pooled rate, then the two-proportion sample-size
    * closed form per MDE with the identical z² literal and op order.
    */
  def eventsPower(goal: String, baseline: String, mdePcts: Seq[Int]): String = {
    val z = 1.959963984540054 + 0.8416212335729143
    val z2 = z * z
    val grid = mdePcts.map(m => s"CAST($m AS BIGINT)").mkString("[", ", ", "]")
    s"""WITH u AS (SELECT user_id,
       |    CASE WHEN sum(CASE WHEN event_type = '$goal' THEN 1 ELSE 0 END) >
       |              sum(CASE WHEN event_type = '$baseline' THEN 1 ELSE 0 END)
       |         THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY 1),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c FROM u),
       |m AS (SELECT unnest($grid) AS mde_pct),
       |x AS (SELECT m.mde_pct,
       |    CAST(s.c AS DOUBLE) / CAST(s.n AS DOUBLE) AS p,
       |    CAST(m.mde_pct AS DOUBLE) / 100.0 AS md
       |  FROM s CROSS JOIN m),
       |y AS (SELECT mde_pct, p, p * (1.0 + md) AS p2, p * md AS delta FROM x)
       |SELECT mde_pct,
       |  CAST(round(p * 1e6) AS BIGINT) AS p_base_ppm,
       |  CAST(round(p2 * 1e6) AS BIGINT) AS p_alt_ppm,
       |  CAST(CASE WHEN p > 0 AND p2 < 1
       |       THEN ceil($z2 * (p * (1.0 - p) + p2 * (1.0 - p2)) / (delta * delta))
       |       END AS BIGINT) AS n_per_arm
       |FROM y""".stripMargin
  }

  def eventsAbTest(goal: String, baseline: String): String =
    s"""WITH u AS (SELECT user_id, user_id % 2 AS arm,
       |    CASE WHEN sum(CASE WHEN event_type = '$goal' THEN 1 ELSE 0 END) >
       |              sum(CASE WHEN event_type = '$baseline' THEN 1 ELSE 0 END)
       |         THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY 1, 2),
       |s AS (SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
       |  FROM u),
       |d AS (SELECT n_a, c_a, n_b, c_b,
       |    CAST(n_a AS DOUBLE) AS na, CAST(c_a AS DOUBLE) AS ca,
       |    CAST(n_b AS DOUBLE) AS nb, CAST(c_b AS DOUBLE) AS cb FROM s),
       |z AS (SELECT n_a, c_a, n_b, c_b, na, ca, nb, cb,
       |    (ca + cb) / (na + nb) AS p FROM d)
       |SELECT n_a, c_a, n_b, c_b,
       |  (c_a * 1000000) // n_a AS rate_a_ppm,
       |  (c_b * 1000000) // n_b AS rate_b_ppm,
       |  CAST(CASE WHEN n_a > 0 AND n_b > 0 AND c_a + c_b > 0
       |            AND c_a + c_b < n_a + n_b
       |       THEN round((ca/na - cb/nb) * (ca/na - cb/nb) /
       |         (p * (1.0 - p) * (1.0/na + 1.0/nb)) * 1000000.0)
       |       END AS BIGINT) AS z2_e6,
       |  CAST(CASE WHEN n_a + n_b > 0
       |       THEN round((((na - (na + nb) / 2) * (na - (na + nb) / 2) / ((na + nb) / 2)) +
       |         ((nb - (na + nb) / 2) * (nb - (na + nb) / 2) / ((na + nb) / 2))) * 1000000.0)
       |       END AS BIGINT) AS srm_chi2_e6
       |FROM z""".stripMargin

  /** Mirror of [[graft.operators.Events.ewma]]: the daily cents rollup,
    * then the α=1/2 integer recursion `s = (cents + s_prev) // 2` walked as
    * a recursive CTE over the day rank (the [[docEpochs]] shape) — pure
    * integer arithmetic, engine-exact.
    */
  val eventsEwma: String =
    s"""WITH RECURSIVE daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
       |  FROM events GROUP BY 1),
       |rk AS (SELECT d, cents,
       |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn FROM daily),
       |rec(rn, ewma) AS (
       |  SELECT rn, cents FROM rk WHERE rn = 1
       |  UNION ALL
       |  SELECT rk.rn, (rk.cents + rec.ewma) // 2
       |  FROM rec JOIN rk ON rk.rn = rec.rn + 1)
       |SELECT rk.d, rk.cents, CAST(rec.ewma AS BIGINT) AS ewma_cents
       |FROM rk JOIN rec ON rk.rn = rec.rn""".stripMargin

  /** Mirror of [[graft.operators.Events.diffInDiff]]: identical sufficient
    * statistics (per-arm user counts, Σd, Σd² over the per-user post−pre
    * cents diff) and the SAME left-assoc double expression trees, so did_e6
    * and t2_e6 are bit-equal.
    */
  val eventsDid: String =
    s"""WITH u AS (SELECT user_id, user_id % 2 AS arm,
       |    CAST(sum(CASE WHEN day(ts) <= 15
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN day(ts) > 15
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |p AS (SELECT *, y - x AS d FROM u),
       |g AS (SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS sd_c,
       |    CAST(sum(CASE WHEN arm = 0 THEN d*d ELSE 0 END) AS BIGINT) AS sdd_c,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS sd_t,
       |    CAST(sum(CASE WHEN arm = 1 THEN d*d ELSE 0 END) AS BIGINT) AS sdd_t
       |  FROM p),
       |dd AS (SELECT *, CAST(n_c AS DOUBLE) AS dnc, CAST(sd_c AS DOUBLE) AS dsdc,
       |    CAST(sdd_c AS DOUBLE) AS dsddc, CAST(n_t AS DOUBLE) AS dnt,
       |    CAST(sd_t AS DOUBLE) AS dsdt, CAST(sdd_t AS DOUBLE) AS dsddt FROM g),
       |f AS (SELECT *,
       |    dsdt / dnt / 100.0 - dsdc / dnc / 100.0 AS did,
       |    (dsddt - dsdt * dsdt / dnt) / (dnt - 1.0) / 10000.0 / dnt +
       |      (dsddc - dsdc * dsdc / dnc) / (dnc - 1.0) / 10000.0 / dnc AS se2
       |  FROM dd)
       |SELECT n_c, n_t, sd_c AS sum_d_c_cents, sd_t AS sum_d_t_cents,
       |  CAST(CASE WHEN n_c > 0 AND n_t > 0 THEN round(did * 1e6) END AS BIGINT)
       |    AS did_e6,
       |  CAST(CASE WHEN n_c > 1 AND n_t > 1 AND se2 > 0.0
       |       THEN round(did * did / se2 * 1e6) END AS BIGINT) AS t2_e6
       |FROM f""".stripMargin

  /** Mirror of [[graft.operators.Events.cuped]]: identical sufficient
    * statistics and the SAME double expression trees (left-assoc order
    * preserved verbatim), so every e6 value is bit-equal.
    */
  val eventsCuped: String =
    s"""WITH u AS (SELECT user_id, user_id % 2 AS arm,
       |    CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
       |    CAST(sum(y*y) AS BIGINT) AS syy,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
       |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
       |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
       |  FROM u),
       |d AS (SELECT *, CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
       |    CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,
       |    CAST(sxy AS DOUBLE) AS dsxy, CAST(syy AS DOUBLE) AS dsyy,
       |    CAST(na AS DOUBLE) AS dna, CAST(sxa AS DOUBLE) AS dsxa,
       |    CAST(sya AS DOUBLE) AS dsya, CAST(nb AS DOUBLE) AS dnb,
       |    CAST(sxb AS DOUBLE) AS dsxb, CAST(syb AS DOUBLE) AS dsyb FROM g),
       |e AS (SELECT *, dn*dsxy - dsx*dsy AS num, dn*dsxx - dsx*dsx AS denx,
       |    dn*dsyy - dsy*dsy AS deny,
       |    (na > 0 AND nb > 0 AND dn*dsxx - dsx*dsx > 0
       |     AND dn*dsyy - dsy*dsy > 0) AS ok FROM d)
       |SELECT n, na, nb,
       |  CAST(CASE WHEN ok THEN round(num/denx * 1000000.0) END AS BIGINT) AS theta_e6,
       |  CAST(CASE WHEN ok THEN round(num*num / (denx*deny) * 1000000.0) END AS BIGINT) AS rho2_ppm,
       |  CAST(CASE WHEN ok THEN round(dsya/dna * 1000000.0) END AS BIGINT) AS raw_a_e6,
       |  CAST(CASE WHEN ok THEN round((dsya/dna - num/denx * (dsxa/dna - dsx/dn)) * 1000000.0) END AS BIGINT) AS adj_a_e6,
       |  CAST(CASE WHEN ok THEN round(dsyb/dnb * 1000000.0) END AS BIGINT) AS raw_b_e6,
       |  CAST(CASE WHEN ok THEN round((dsyb/dnb - num/denx * (dsxb/dnb - dsx/dn)) * 1000000.0) END AS BIGINT) AS adj_b_e6
       |FROM e""".stripMargin

  /** [[qHll]] over the events table: per-day distinct users. */
  def eventsHllUsers(p: Int): String = {
    val c = hllEstConst(p)
    val src = "SELECT epoch_us(date_trunc('day', ts)) AS scope, user_id AS x FROM events"
    s"WITH ${hllRegisterCtes(p, src)},\n" +
      s"""ex AS (SELECT epoch_us(date_trunc('day', ts)) AS scope,
       |    count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
       |SELECT sk.scope AS day_us, ex.n_exact,
       |  CAST(floor($c / denom_x2p33 + 0.5) AS BIGINT) AS hll_est,
       |  CAST(v_zero AS BIGINT) AS v_zero, denom_x2p33
       |FROM sk JOIN ex ON sk.scope = ex.scope""".stripMargin
  }

  /** alpha_m · m² · 2^33 as the literal expression both engines evaluate
    * identically (only alpha's own rounding; m and 2^33 shift exponents).
    */
  private def hllEstConst(p: Int): String = {
    val m = 1 << p
    // the same alpha rules as native.hll_estimate: small-m literals from
    // the HLL paper, the asymptotic formula from m = 128 up
    val alpha =
      if (m >= 128) s"0.7213/(1.0 + 1.079/$m.0)"
      else if (m == 64) "0.709"
      else if (m == 32) "0.697"
      else "0.673"
    s"$alpha * $m * $m * 8589934592"
  }

  /** The shared register-replay CTE chain ending in
    * `sk(scope, denom_x2p33, v_zero)` (with `rr` exposed for merged-ALL
    * consumers) — see [[qHll]]'s scaladoc for the arithmetic contract.
    */
  private def hllRegisterCtes(p: Int,
      src: String = "SELECT l_returnflag AS scope, l_orderkey AS x FROM lineitem"): String = {
    val m = 1 << p
    val w1 = 32 - p + 1 // rho for a zero remainder
    s"""b AS ($src),
       |h0 AS (SELECT scope, xor(x, x >> 32) % 4294967296 AS h FROM b),
       |h1 AS (SELECT scope, CAST((CAST(h AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS h FROM h0),
       |h2 AS (SELECT scope, xor(h, h >> 16) AS h FROM h1),
       |h3 AS (SELECT scope, CAST((CAST(h AS HUGEINT) * 2246822519) % 4294967296 AS BIGINT) AS h FROM h2),
       |h4 AS (SELECT scope, xor(h, h >> 13) AS h FROM h3),
       |h5 AS (SELECT scope, CAST((CAST(h AS HUGEINT) * 3266489917) % 4294967296 AS BIGINT) AS h FROM h4),
       |h6 AS (SELECT scope, xor(h, h >> 16) AS h FROM h5),
       |rr AS (SELECT scope, h & ${m - 1} AS bucket,
       |    $w1 - (CASE WHEN (h >> $p) = 0 THEN 0
       |               ELSE length(printf('%b', h >> $p)) END) AS rho
       |  FROM h6),
       |reg AS (SELECT scope, bucket, max(rho) AS r FROM rr GROUP BY 1, 2),
       |sk AS (SELECT scope,
       |    CAST(sum(1::BIGINT << (33 - r)) + ($m - count(*)) * 8589934592 AS BIGINT) AS denom_x2p33,
       |    $m - count(*) AS v_zero
       |  FROM reg GROUP BY 1)""".stripMargin
  }

  /** Mirror of [[graft.operators.Sketches.kmvSourceOverlap]]: bottom-k
    * distinct token hashes per source, pairwise bottom-L-of-union overlap
    * estimates — all integer arithmetic, hash-exact.
    */
  def qKmvOverlap(k: Int, n: Int = 3): String =
    s"""WITH tk AS (SELECT source, string_split(text,' ') AS toks FROM documents),
       |tok AS (SELECT DISTINCT source, ${tokenId("g")} AS id FROM
       |    (SELECT source, unnest(${shingles("toks", n)}) AS g FROM tk)),
       |sk AS (SELECT source, id FROM (
       |    SELECT source, id, row_number() OVER (PARTITION BY source ORDER BY id) AS rn
       |    FROM tok) WHERE rn <= $k),
       |arr AS (SELECT source, list_sort(list(id)) AS ids FROM sk GROUP BY 1),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, a.ids AS ia, b.ids AS ib
       |  FROM arr a JOIN arr b ON a.source < b.source),
       |m AS (SELECT src_a, src_b, ia, ib,
       |    list_sort(list_distinct(list_concat(ia, ib))) AS uu FROM p),
       |n AS (SELECT src_a, src_b, ia, ib, uu, least($k, len(uu)) AS l FROM m),
       |s AS (SELECT src_a, src_b, l, len(uu) AS ulen,
       |    len(list_filter(list_slice(uu, 1, l),
       |      x -> list_contains(ia, x) AND list_contains(ib, x))) AS inter,
       |    uu[l] AS vl FROM n)
       |SELECT src_a, src_b, CAST(l AS BIGINT) AS l, CAST(inter AS BIGINT) AS inter,
       |  CAST((inter * 1000000) // l AS BIGINT) AS jaccard_ppm,
       |  CAST(CASE WHEN ulen < $k OR vl <= 0 THEN ulen
       |       ELSE ((l - 1) * 1000003) // vl END AS BIGINT) AS union_est
       |FROM s""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.ppsSample]]: sequential
    * cumulative sum + interval-contains-a-multiple-of-step selection.
    */
  def docSamplePps(nTarget: Int): String =
    s"""WITH w AS (SELECT doc_id, n_chars AS w FROM documents),
       |t AS (SELECT greatest(1, CAST(sum(w) AS BIGINT) // $nTarget) AS step FROM w),
       |c AS (SELECT doc_id, w, CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM w)
       |SELECT doc_id, CAST(w AS BIGINT) AS w, cum,
       |  CAST(cum // step - (cum - w) // step AS BIGINT) AS n_hits
       |FROM c, t WHERE cum // step - (cum - w) // step > 0""".stripMargin

  /** Mirror of [[graft.operators.Dedup.fuzzyNearestName]] over `part`:
    * first-token block, length band, full levenshtein + threshold filter
    * (value-identical to Spark's early-exit thresholded form on kept rows).
    */
  def dedupFuzzy(maxDist: Int, lenBand: Int, blockTokens: Int = 2): String =
    s"""WITH d AS (SELECT p_partkey AS k, p_name AS nm,
       |    array_to_string(list_slice(string_split(p_name,' '), 1, $blockTokens), ' ') AS blk,
       |    length(p_name) AS ln FROM part),
       |c AS (SELECT a.k AS a, b.k AS b, levenshtein(a.nm, b.nm) AS lv
       |  FROM d a JOIN d b ON a.blk = b.blk AND a.k <> b.k
       |    AND abs(a.ln - b.ln) <= $lenBand),
       |f AS (SELECT a, b, lv,
       |    row_number() OVER (PARTITION BY a ORDER BY lv, b) AS rn
       |  FROM c WHERE lv <= $maxDist)
       |SELECT a AS p_partkey, b AS match_key, CAST(lv AS BIGINT) AS dist
       |FROM f WHERE rn = 1""".stripMargin

  /** Mirror of [[graft.operators.TextAnalysis.paretoFrontier]]: per-level
    * min cost + running min over strictly higher quality levels.
    */
  def docPareto: String = {
    val allStops = operators.TextAnalysis.Stopwords.map(s => stopHits(s._1)).mkString(" + ")
    s"""WITH t AS (SELECT doc_id, n_chars, string_split(text,' ') AS toks,
       |    list_distinct(string_split(text,' ')) AS dt FROM documents),
       |b AS (SELECT doc_id, n_chars, (($allStops) * 1000) // len(toks) AS score FROM t),
       |l AS (SELECT score, min(n_chars) AS lvl_min FROM b GROUP BY 1),
       |l2 AS (SELECT score, lvl_min, min(lvl_min) OVER (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_higher FROM l)
       |SELECT b.doc_id, CAST(b.score AS BIGINT) AS score, b.n_chars
       |FROM b JOIN l2 ON b.score = l2.score
       |WHERE b.n_chars = l2.lvl_min
       |  AND (l2.min_higher IS NULL OR b.n_chars < l2.min_higher)""".stripMargin
  }

  /** Mirror of graft's transparent Bloom filter (`plans.BloomSketch`) over
    * per-source distinct shingle ids: the dual avalanche chains (h1 from
    * id, h2 from id + 2^32/phi) unrolled as CTE layers, Kirsch-
    * Mitzenmacher bit positions, 32-bit words rebuilt with `bit_or`, and a
    * source × word spine so empty words emit as zero exactly like Spark's
    * posexplode of the full array.
    */
  def qBloomSketch(mBits: Int, k: Int, n: Int = 3): String = {
    val kOff = graft.plans.BloomSketch.H2Offset
    def mulLayer(c: String) =
      s"CAST((CAST(a AS HUGEINT) * $c) % 4294967296 AS BIGINT) AS a, " +
        s"CAST((CAST(b AS HUGEINT) * $c) % 4294967296 AS BIGINT) AS b"
    def xorLayer(sh: Int) =
      s"xor(a, a >> $sh) AS a, xor(b, b >> $sh) AS b"
    s"""WITH tk AS (SELECT source, string_split(text,' ') AS toks FROM documents),
       |tok AS (SELECT DISTINCT source, ${tokenId("g")} AS id FROM
       |    (SELECT source, unnest(${shingles("toks", n)}) AS g FROM tk)),
       |j0 AS (SELECT source, xor(id, id >> 32) % 4294967296 AS a,
       |    xor(id + $kOff, (id + $kOff) >> 32) % 4294967296 AS b FROM tok),
       |j1 AS (SELECT source, ${mulLayer("2654435761")} FROM j0),
       |j2 AS (SELECT source, ${xorLayer(16)} FROM j1),
       |j3 AS (SELECT source, ${mulLayer("2246822519")} FROM j2),
       |j4 AS (SELECT source, ${xorLayer(13)} FROM j3),
       |j5 AS (SELECT source, ${mulLayer("3266489917")} FROM j4),
       |j6 AS (SELECT source, ${xorLayer(16)} FROM j5),
       |hx AS (SELECT source, a AS h1, b | 1 AS h2 FROM j6),
       |bits AS (SELECT DISTINCT source,
       |    ((h1 + i * h2) % 4294967296) % $mBits AS bit
       |  FROM hx, range($k) r(i)),
       |words AS (SELECT source, bit // 32 AS w,
       |    bit_or(1::BIGINT << CAST(bit % 32 AS INT)) AS word
       |  FROM bits GROUP BY 1, 2),
       |spine AS (SELECT DISTINCT source FROM tok),
       |allw AS (SELECT s.source, r.i AS w FROM spine s, range(${mBits / 32}) r(i))
       |SELECT a.source, CAST(a.w AS BIGINT) AS w,
       |  CAST(coalesce(words.word, 0) AS BIGINT) AS word,
       |  CAST(bit_count(coalesce(words.word, 0)) AS BIGINT) AS n_bits
       |FROM allw a LEFT JOIN words ON words.source = a.source AND words.w = a.w""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.triangleCensus]]: the
    * [[simKnnGraph]] edge list as a subquery, triangles enumerated once as
    * a < b < c, per-node counts + exact ppm clustering coefficients.
    */
  def simTriangles(nCells: Int, nProbe: Int, k: Int): String =
    s"""WITH g AS (SELECT a_id, b_id FROM (${simKnnGraph(nCells, nProbe, k)})),
       |p AS (SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
       |  FROM g e1 JOIN g e2 ON e2.a_id = e1.b_id),
       |t AS (SELECT a, b, c FROM p JOIN g e3 ON e3.a_id = p.a AND e3.b_id = p.c),
       |pn AS (SELECT vec_id, count(*) AS tri FROM (
       |    SELECT unnest([a, b, c]) AS vec_id FROM t) GROUP BY 1),
       |dg AS (SELECT vec_id, count(*) AS deg FROM (
       |    SELECT unnest([a_id, b_id]) AS vec_id FROM g) GROUP BY 1)
       |SELECT dg.vec_id, CAST(deg AS BIGINT) AS deg,
       |  CAST(coalesce(tri, 0) AS BIGINT) AS tri,
       |  CAST(CASE WHEN deg >= 2
       |       THEN (coalesce(tri, 0) * 2000000) // (deg * (deg - 1))
       |       ELSE 0 END AS BIGINT) AS clustering_ppm
       |FROM dg LEFT JOIN pn ON pn.vec_id = dg.vec_id""".stripMargin

  /** Mirror of [[graft.operators.Similarity.kCoreFromEdges]] over the
    * [[simKnnGraph]] edge list: exactly `maxRounds` peel layers unrolled
    * as CTE triples (degrees → alive set → surviving edges) — the same
    * round cap as the Spark loop, and past the fixpoint each extra layer
    * is a no-op, so the two engines agree whether or not the fixture
    * converges at the cap.
    */
  def simKcore(nCells: Int, nProbe: Int, k: Int, coreK: Int,
      maxRounds: Int = 12): String = {
    // every layer MATERIALIZED: DuckDB inlines plain CTEs, and each layer
    // references its predecessor three times (direct + twice via the
    // alive set), so inlining would expand the knn-graph scan ~3^rounds
    // times — measured as a too-many-open-files blowup at 12 rounds
    val ctes = Seq.newBuilder[String]
    ctes += s"e0 AS MATERIALIZED (SELECT a_id, b_id FROM (${simKnnGraph(nCells, nProbe, k)}))"
    for (i <- 1 to maxRounds) {
      ctes += s"d$i AS MATERIALIZED (SELECT vec_id, count(*) AS deg FROM (" +
        s"SELECT unnest([a_id, b_id]) AS vec_id FROM e${i - 1}) GROUP BY 1)"
      ctes += s"a$i AS MATERIALIZED (SELECT vec_id FROM d$i WHERE deg >= $coreK)"
      ctes += s"e$i AS MATERIALIZED (SELECT e.a_id, e.b_id FROM e${i - 1} e " +
        s"JOIN a$i x ON e.a_id = x.vec_id JOIN a$i y ON e.b_id = y.vec_id)"
    }
    s"""WITH ${ctes.result().mkString(",\n")}
       |SELECT vec_id, CAST(deg AS BIGINT) AS core_deg FROM (
       |  SELECT vec_id, count(*) AS deg FROM (
       |    SELECT unnest([a_id, b_id]) AS vec_id FROM e$maxRounds)
       |  GROUP BY 1)""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.labelPropagate]] over the
    * [[simKnnGraph]] adjacency: the synchronous rounds unrolled as
    * MATERIALIZED CTE layers (votes → window election with the same
    * (cnt DESC, lab) total order → clamped relabel), seeds = every fifth
    * vec_id keeping its stored label.
    */
  def simLabelProp(nCells: Int, nProbe: Int, k: Int, seedMod: Long,
      rounds: Int = 4): String = {
    val ctes = Seq.newBuilder[String]
    ctes += s"g AS MATERIALIZED (SELECT a_id, b_id FROM (${simKnnGraph(nCells, nProbe, k)}))"
    ctes += "adj AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM g " +
      "UNION ALL SELECT b_id, a_id FROM g)"
    ctes += s"nodes AS MATERIALIZED (SELECT vec_id, CASE WHEN vec_id % $seedMod = 0 " +
      "THEN CAST(label AS BIGINT) END AS seed_lab FROM embeddings)"
    ctes += "l0 AS MATERIALIZED (SELECT vec_id, seed_lab AS lab FROM nodes)"
    for (r <- 1 to rounds) {
      ctes += s"v$r AS MATERIALIZED (SELECT adj.src, l.lab, count(*) AS cnt " +
        s"FROM adj JOIN l${r - 1} l ON l.vec_id = adj.dst " +
        "WHERE l.lab IS NOT NULL GROUP BY 1, 2)"
      ctes += s"w$r AS MATERIALIZED (SELECT src, lab FROM (" +
        s"SELECT src, lab, row_number() OVER (PARTITION BY src " +
        s"ORDER BY cnt DESC, lab) AS rn FROM v$r) WHERE rn = 1)"
      ctes += s"l$r AS MATERIALIZED (SELECT n.vec_id, " +
        s"coalesce(n.seed_lab, w.lab, p.lab) AS lab FROM nodes n " +
        s"LEFT JOIN w$r w ON w.src = n.vec_id " +
        s"LEFT JOIN l${r - 1} p ON p.vec_id = n.vec_id)"
    }
    s"""WITH ${ctes.result().mkString(",\n")}
       |SELECT vec_id, CAST(coalesce(lab, -1) AS BIGINT) AS label
       |FROM l$rounds""".stripMargin
  }

  /** Mirror of [[graft.operators.Similarity.mmrSelect]]: the greedy MMR
    * rounds unrolled as CTE layers — layer r cross-joins the r−1 one-row
    * winners, scores `rel − λ·greatest(cos)` with the same expression
    * tree, and takes the (score DESC, vec_id) argmax.
    */
  def simMmr(queryId: Long, poolSize: Int, k: Int, lambda: Double = 0.5): String = {
    val ctes = Seq.newBuilder[String]
    ctes += "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    ctes += s"q AS (SELECT v AS qv FROM e WHERE vec_id = $queryId)"
    ctes += s"scored AS (SELECT e.vec_id, e.v, ${cosine("e.v", "q.qv")} AS rel" +
      s" FROM e, q WHERE e.vec_id <> $queryId)"
    ctes += s"pool AS (SELECT vec_id, v, rel FROM scored ORDER BY rel DESC, vec_id LIMIT $poolSize)"
    ctes += "s1 AS (SELECT vec_id, v, rel, rel AS score FROM pool ORDER BY rel DESC, vec_id LIMIT 1)"
    for (r <- 2 to k) {
      val prev = (1 until r).map(i => s"s$i")
      val cond = prev.map(p => s"p.vec_id <> $p.vec_id").mkString(" AND ")
      val sims = prev.map(p => cosine("p.v", s"$p.v")).mkString(", ")
      val g = if (prev.size == 1) sims else s"greatest($sims)"
      ctes += s"""s$r AS (SELECT p.vec_id, p.v, p.rel, p.rel - $lambda * $g AS score
         |  FROM pool p, ${prev.mkString(", ")} WHERE $cond
         |  ORDER BY score DESC, p.vec_id LIMIT 1)""".stripMargin
    }
    "WITH " + ctes.result().mkString(",\n") + "\n" +
      (1 to k).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rnk, vec_id," +
          s" CAST(round(rel * 1000000.0) AS BIGINT) AS rel_e6," +
          s" CAST(round(score * 1000000.0) AS BIGINT) AS score_e6 FROM s$r")
        .mkString("\nUNION ALL\n")
  }

  /** Mirror of [[graft.operators.Similarity.oodScore]]: argmin cell via the
    * (distance, cid) row_number, e6 fixed-point distances, exact integer
    * per-cell moments, and the identical fixed-double z expression tree.
    */
  def simOod(nCells: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |a AS (SELECT vec_id, cell, CAST(round(d2*1e6) AS BIGINT) AS d2_e6 FROM (
       |  SELECT e.vec_id, c.cid AS cell, ${sqdist("e.v", "c.cv")} AS d2,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |st AS (SELECT cell, count(*) AS cell_n, sum(d2_e6) AS s1,
       |    sum(d2_e6*d2_e6) AS s2 FROM a GROUP BY 1)
       |SELECT a.vec_id, a.cell, a.d2_e6, CAST(st.cell_n AS BIGINT) AS cell_n,
       |  CASE WHEN CAST(s2 AS DOUBLE) / CAST(st.cell_n AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / CAST(st.cell_n AS DOUBLE))
       |        * (CAST(s1 AS DOUBLE) / CAST(st.cell_n AS DOUBLE)) > 0
       |    THEN CAST(round((CAST(a.d2_e6 AS DOUBLE)
       |        - CAST(s1 AS DOUBLE) / CAST(st.cell_n AS DOUBLE))
       |      / sqrt(CAST(s2 AS DOUBLE) / CAST(st.cell_n AS DOUBLE)
       |        - (CAST(s1 AS DOUBLE) / CAST(st.cell_n AS DOUBLE))
       |          * (CAST(s1 AS DOUBLE) / CAST(st.cell_n AS DOUBLE))) * 1e6)
       |      AS BIGINT)
       |    END AS z_e6
       |FROM a JOIN st USING (cell)""".stripMargin

  def simKnnGraph(nCells: Int, nProbe: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |idx AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn <= $nProbe),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosine("a.v", "b.v")} AS c
       |  FROM idx a JOIN idx b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |d AS (SELECT a_id, b_id, c,
       |    row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rnk
       |  FROM cand)
       |SELECT d1.a_id, d1.b_id, CAST(round(d1.c*1e6) AS BIGINT) AS cos_e6,
       |  CAST(d1.rnk AS BIGINT) AS rnk_ab, CAST(d2.rnk AS BIGINT) AS rnk_ba
       |FROM d d1 JOIN d d2 ON d2.a_id = d1.b_id AND d2.b_id = d1.a_id
       |WHERE d1.rnk <= $k AND d2.rnk <= $k AND d1.a_id < d1.b_id""".stripMargin

  /** Mirror of [[graft.operators.Similarity.bfsHops]]: the [[simKnnGraph]]
    * edge list symmetrized, then a bounded recursive CTE walks every path
    * of length ≤ maxHops from the seed set; `min(hop)` per reached node is
    * exactly the BFS frontier distance (path multiplicity is bounded by
    * deg^maxHops with deg ≤ k — the mutual k-NN degree cap).
    */
  def simBfs(nCells: Int, nProbe: Int, k: Int, sources: Seq[Long],
      maxHops: Int): String =
    s"""WITH RECURSIVE g AS (SELECT a_id, b_id FROM (${simKnnGraph(nCells, nProbe, k)})),
       |sym AS (SELECT a_id AS s, b_id AS t FROM g
       |  UNION ALL SELECT b_id, a_id FROM g),
       |walk(id, hop) AS (
       |  SELECT CAST(unnest([${sources.mkString(", ")}]) AS BIGINT), 0
       |  UNION ALL
       |  SELECT sym.t, w.hop + 1 FROM walk w JOIN sym ON sym.s = w.id
       |  WHERE w.hop < $maxHops)
       |SELECT id AS vec_id, CAST(min(hop) AS BIGINT) AS hop
       |FROM walk GROUP BY 1""".stripMargin

  /** Mirror of the `km_wcr_log` bounded fit (KMeans.fit, seedFirstK seeds,
    * fxScale 1e4, tol 0.01, `steps` Lloyd iterations max): the append-only
    * WCR log as an UNROLLED CTE — step 0 = the deterministic first-k seeds,
    * step t = the lloyd re-average of step t−1's assignment (the
    * km_fit2_exact fragment chained), logged only while every PRIOR step's
    * total centroid movement stayed ≥ tol (the loop's stop rule: the step
    * that first drops below tol is still logged, the next one is not).
    * Centroid values replay Spark's `sumFx/scale/n` double arithmetic
    * exactly; the movement gate compares doubles far from the 0.01
    * threshold, so aggregate-order ulps cannot flip it.
    */
  def kmWcrLog(k: Int = 4, steps: Int = 3, tol: Double = 0.01): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${Tables.yhOrdersSql},\n"
    sb ++= s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j, x, y
              |  FROM (SELECT i, x, y FROM yh ORDER BY i LIMIT $k) t)""".stripMargin
    for (t <- 1 to steps) {
      val p = t - 1
      sb ++= s""",
                |a$t AS (SELECT i, x, y, j FROM (
                |  SELECT s.i, s.x, s.y, c.j,
                |    row_number() OVER (PARTITION BY s.i
                |      ORDER BY (s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y), c.j) AS rn
                |  FROM yh s CROSS JOIN c$p c) t WHERE rn = 1),
                |c$t AS (SELECT j,
                |  CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS x,
                |  CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS y
                |  FROM a$t GROUP BY j),
                |m$t AS (SELECT sum(sqrt((n.x-p.x)*(n.x-p.x)+(n.y-p.y)*(n.y-p.y))) AS mv
                |  FROM c$t n JOIN c$p p ON n.j = p.j)""".stripMargin
    }
    val parts = (0 to steps).map { t =>
      val gates = (1 until t).map(u => s"(SELECT mv FROM m$u) >= $tol")
      val where = if (gates.isEmpty) "" else s" WHERE ${gates.mkString(" AND ")}"
      s"SELECT CAST($t AS BIGINT) AS step, j, x AS cx, y AS cy FROM c$t$where"
    }
    sb ++= "\n" + parts.mkString("\nUNION ALL ")
    sb.toString
  }

  /** Mirror of `km_fit_bounded` — [[graft.operators.KMeans.InverseCdf]] fit over
    * the 2-D orders YH, END TO END: the flagship fit path cross-engine
    * hash-checked (closing the round-14 verdict's only reference-visible
    * oracle gap; reference k-means.sh:16-33 is this loop).
    *  - seeding rounds 2..k: the [[simIvfFitted]] machinery specialized to
    *    scalar (x, y) — anti-join by coordinates (NOT EXISTS), integer
    *    `round(min(sqdist))` D² weights (weightScale 1: orders coordinates
    *    are large), inclusive key-ordered windowed cumulative sum, the
    *    `cw·uD ≥ tw·uN` rational-threshold pick with KMeans.FixedUs;
    *  - Lloyd steps: [[kmWcrLog]]'s assign/re-average CTEs (fixed-point 1e4)
    *    with the movement gate as the j-ORDERED fold (the kmFitMinibatch
    *    form — plain `sum` would sum in engine order);
    *  - fin: the movement-gated union picking the stopped step's centroids;
    *  - tail: assign ALL points to fin and emit the (j, n, cx, cy) census —
    *    `km_fit_bounded`'s projection.
    */
  /** The exact inverse-CDF k-means++ seed chain over `yh` (rounds 2..k
    * with the [[operators.KMeans.FixedUs]] rational draws), shared by
    * [[kmFitBounded]] and [[kmFitFree]]: emits CTEs `c_1..c_k` (one seed
    * point each). Must follow a `yh AS (...)` CTE.
    */
  private def kmSeedCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++= "c_1 AS MATERIALIZED (SELECT x, y FROM yh ORDER BY i LIMIT 1)"
    for (r <- 2 to k) {
      val (uN, uD) = operators.KMeans.fixedU(r)
      val chosen = (1 until r).map(q => s"SELECT x, y FROM c_$q")
        .mkString(" UNION ALL ")
      sb ++= s""",
                |ch_$r AS MATERIALIZED ($chosen),
                |w_$r AS (SELECT p.i,
                |    CAST(round(min((p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y))) AS BIGINT) AS w
                |  FROM yh p CROSS JOIN ch_$r c
                |  WHERE NOT EXISTS (SELECT 1 FROM ch_$r q WHERE q.x = p.x AND q.y = p.y)
                |  GROUP BY p.i),
                |u_$r AS (SELECT ww.i,
                |    sum(ww.w) OVER (ORDER BY ww.i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                |    sum(ww.w) OVER () AS tw FROM w_$r ww),
                |c_$r AS MATERIALIZED (SELECT yh.x, yh.y FROM u_$r u JOIN yh ON yh.i = u.i
                |  WHERE u.cw*$uD >= u.tw*$uN ORDER BY u.cw, u.i LIMIT 1)""".stripMargin
    }
    sb.toString
  }

  /** The `f0` union labelling [[kmSeedCtes]]'s picks `j = 1..k`. */
  private def kmSeedUnion(k: Int): String = (1 to k)
    .map(q => s"SELECT CAST($q AS BIGINT) AS j, x, y FROM c_$q")
    .mkString(" UNION ALL ")

  def kmFitBounded(k: Int = 4, steps: Int = 3, tol: Double = 0.01): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${Tables.yhOrdersSql},\n"
    sb ++= kmSeedCtes(k)
    sb ++= s""",
              |f0 AS MATERIALIZED (${kmSeedUnion(k)})""".stripMargin
    for (t <- 1 to steps) {
      val p = t - 1
      sb ++= s""",
                |a_$t AS MATERIALIZED (SELECT i, x, y, j FROM (
                |  SELECT s.i, s.x, s.y, c.j,
                |    row_number() OVER (PARTITION BY s.i
                |      ORDER BY (s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y), c.j) AS rn
                |  FROM yh s CROSS JOIN f$p c) t WHERE rn = 1),
                |f$t AS MATERIALIZED (SELECT j,
                |  CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS x,
                |  CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS y
                |  FROM a_$t GROUP BY j),
                |m_$t AS MATERIALIZED (SELECT coalesce(list_reduce(list_prepend(0.0,
                |    list(sqrt((n.x-p.x)*(n.x-p.x)+(n.y-p.y)*(n.y-p.y)) ORDER BY n.j)),
                |    (a,b) -> a+b), 0.0) AS mv
                |  FROM f$t n JOIN f$p p ON p.j = n.j)""".stripMargin
    }
    val fin = (1 to steps).map { t =>
      val gates = (1 until t).map(u => s"(SELECT mv FROM m_$u) >= $tol")
      val stop = if (t < steps) Seq(s"(SELECT mv FROM m_$t) < $tol") else Nil
      val conds = gates ++ stop
      val where = if (conds.isEmpty) "" else s" WHERE ${conds.mkString(" AND ")}"
      s"SELECT j, x, y FROM f$t$where"
    }.mkString("\nUNION ALL ")
    sb ++= s""",
              |fin AS MATERIALIZED (
              |$fin)
              |SELECT t.j, CAST(count(*) AS BIGINT) AS n,
              |  any_value(t.x) AS cx, any_value(t.y) AS cy FROM (
              |  SELECT s.i, f.j, f.x, f.y,
              |    row_number() OVER (PARTITION BY s.i
              |      ORDER BY (s.x-f.x)*(s.x-f.x)+(s.y-f.y)*(s.y-f.y), f.j) AS rn
              |  FROM yh s CROSS JOIN fin f) t
              |WHERE rn = 1 GROUP BY t.j""".stripMargin
    sb.toString
  }

  /** Mirror of `km_fit_free` — the FREE-RUNNING fit: the reference's actual
    * lifecycle (k-means.sh:16-33 loops `while delta ≥ tol` with no step
    * budget) replayed as a RECURSIVE CTE, where every prior fit oracle
    * ([[kmFitBounded]], [[kmWcrLog]], [[kmFitMinibatch]]) had to unroll a
    * bounded chain. The working table carries step t's (j, x, y) plus that
    * step's total movement `mv`; each recursion assigns all points to the
    * previous centroids (the strict-< row_number argmin), re-averages with
    * the fixed-point 1e4 sums, and emits step t+1 only while the previous
    * movement stayed ≥ tol — data decides the iteration count (43 steps at
    * sf0.01, far past any practical unroll), both engines stop on the same
    * predicate, and the census over the LAST step hash-matches.
    *
    * Engine notes, hard-won: DuckDB 1.0 allows ONE aggregation level over
    * the recursive reference — the movement (an aggregate OF the
    * re-average aggregate) must be a window (`list(...) OVER (ORDER BY j
    * ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)`), not a
    * second grouped CTE (binder: "LATERAL join cannot contain
    * aggregates"). The j-ordered movement fold is the coalesce-padded
    * left-assoc chain `(((0+m₁)+m₂)+…` — tail-padding with +0.0 is exact,
    * so dropped (empty) clusters reproduce Scala's skip-absent fold.
    * `maxSteps` mirrors the Spark side's safety cap (both engines would
    * loop forever on a non-converging fixture otherwise); the fixture
    * converges at 43 ≪ 64, so the gate never decides.
    */
  def kmFitFree(k: Int = 4, tol: Double = 0.01, maxSteps: Int = 64): String = {
    require(k <= 4, s"movement fold is written for k <= 4 (got $k)")
    val fold = (1 to k).foldLeft("0.0") { (acc, q) =>
      s"($acc + coalesce(nm.ml[$q], 0.0))" }
    s"""WITH RECURSIVE ${Tables.yhOrdersSql},
       |${kmSeedCtes(k)},
       |f0 AS MATERIALIZED (${kmSeedUnion(k)}),
       |f(step, j, x, y, mv) AS (
       |  SELECT CAST(0 AS BIGINT), j, x, y, 1e308 FROM f0
       |  UNION ALL
       |  (WITH a AS (
       |    SELECT t.i, t.x, t.y, t.j, t.ox, t.oy, t.pstep, t.pmv FROM (
       |      SELECT s.i, s.x, s.y, c.j, c.x AS ox, c.y AS oy,
       |        c.step AS pstep, c.mv AS pmv,
       |        row_number() OVER (PARTITION BY s.i
       |          ORDER BY (s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y), c.j) AS rn
       |      FROM yh s CROSS JOIN f c) t WHERE rn = 1),
       |  nw AS (
       |    SELECT a.j,
       |      CAST(sum(CAST(round(a.x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS x,
       |      CAST(sum(CAST(round(a.y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS y,
       |      any_value(a.ox) AS ox, any_value(a.oy) AS oy,
       |      any_value(a.pstep) AS pstep, any_value(a.pmv) AS pmv
       |    FROM a GROUP BY a.j),
       |  nm AS (
       |    SELECT nw.*,
       |      list(sqrt((nw.x-nw.ox)*(nw.x-nw.ox)+(nw.y-nw.oy)*(nw.y-nw.oy)))
       |        OVER (ORDER BY nw.j
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ml
       |    FROM nw)
       |  SELECT nm.pstep + 1, nm.j, nm.x, nm.y, $fold
       |  FROM nm WHERE nm.pmv >= $tol AND nm.pstep < $maxSteps)
       |),
       |last AS (SELECT j, x, y FROM f WHERE step = (SELECT max(step) FROM f))
       |SELECT t.j, CAST(count(*) AS BIGINT) AS n,
       |  any_value(t.x) AS cx, any_value(t.y) AS cy FROM (
       |  SELECT s.i, l.j, l.x, l.y,
       |    row_number() OVER (PARTITION BY s.i
       |      ORDER BY (s.x-l.x)*(s.x-l.x)+(s.y-l.y)*(s.y-l.y), l.j) AS rn
       |  FROM yh s CROSS JOIN last l) t
       |WHERE rn = 1 GROUP BY t.j""".stripMargin
  }

  /** Mirror of `km_fit_minibatch` ([[graft.operators.KMeans.MiniBatch]],
    * Sculley 2010) as an UNROLLED CTE chain — the km_fit2_exact / kmWcrLog
    * discipline applied to the mini-batch loop. Every step t replays:
    *  - the LCG batch draw `(i·A + C₀+seed+t) mod M < cut` (pure integer,
    *    identical in both engines);
    *  - assignment of the batch to step t−1's centroids via the [[sqdist]]
    *    LEFT FOLD (the same element order as the Spark kernel's
    *    accumulation) with the (d², j) tie order of the strict-`<` argmin;
    *  - integer sufficient stats (Σ round(y·1e6) per (j, dim), batch count
    *    per j — exact longs, grouping order moot);
    *  - the learning-rate update `c ← c + (s/1e6 − cnt·c)/n` in DOUBLE with
    *    the exact operand order of the Scala fold (IEEE ops are
    *    deterministic given identical inputs, so the recursion is
    *    bit-identical), n = cumulative absorbed count per centroid;
    *  - the movement stop: steps run only while every PRIOR step's total
    *    centroid movement (per-j sqrt-of-sqdist, summed in j order by an
    *    ordered fold) stayed ≥ tol — the same gate form as [[kmWcrLog]].
    * The final SELECT assigns ALL points to the stopped step's centroids
    * and returns the per-cluster counts — `km_fit_minibatch`'s projection.
    */
  def kmFitMinibatch(k: Int = 8, dim: Int = 64, batchFrac: Double = 0.1,
      tol: Double = 0.01, maxIter: Int = 20, seed: Long = 42L): String = {
    val mod = 2147483647L
    val cut = (batchFrac * mod).toLong
    val dimP1 = dim + 1
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (SELECT vec_id AS i, embedding::DOUBLE[] AS v FROM embeddings),
              |dims AS (SELECT CAST(unnest(range(1, $dimP1)) AS BIGINT) AS d),
              |cl0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j, v AS cv
              |  FROM (SELECT i, v FROM e ORDER BY i LIMIT $k) t),
              |ab0 AS (SELECT j, CAST(0 AS BIGINT) AS n FROM cl0)""".stripMargin
    for (t <- 1 to maxIter) {
      val p = t - 1
      sb ++= s""",
                |a$t AS MATERIALIZED (SELECT i, v, j FROM (
                |  SELECT e.i, e.v, c.j,
                |    row_number() OVER (PARTITION BY e.i
                |      ORDER BY ${sqdist("e.v", "c.cv")}, c.j) AS rn
                |  FROM e CROSS JOIN cl$p c
                |  WHERE (e.i * 1103515245 + ${12345L + seed + t}) % $mod < $cut) t
                |  WHERE rn = 1),
                |sd$t AS (SELECT a.j, d.d,
                |    sum(CAST(round(a.v[d.d]*1e6) AS BIGINT)) AS sfx
                |  FROM a$t a CROSS JOIN dims d GROUP BY a.j, d.d),
                |st$t AS (SELECT j, list(sfx ORDER BY d) AS sl FROM sd$t GROUP BY j),
                |cn$t AS (SELECT j, CAST(count(*) AS BIGINT) AS cnt FROM a$t GROUP BY j),
                |ab$t AS MATERIALIZED (SELECT p.j, p.n + coalesce(c.cnt, 0) AS n
                |  FROM ab$p p LEFT JOIN cn$t c ON c.j = p.j),
                |cl$t AS MATERIALIZED (SELECT c.j,
                |    CASE WHEN cn.j IS NULL THEN c.cv
                |    ELSE list_transform(range(1, $dimP1), d -> c.cv[d]
                |      + (CAST(st.sl[d] AS DOUBLE)/1e6 - CAST(cn.cnt AS DOUBLE)*c.cv[d])
                |        / CAST(ab.n AS DOUBLE)) END AS cv
                |  FROM cl$p c LEFT JOIN cn$t cn ON cn.j = c.j
                |  LEFT JOIN st$t st ON st.j = c.j JOIN ab$t ab ON ab.j = c.j),
                |mv$t AS MATERIALIZED (SELECT coalesce(list_reduce(list_prepend(0.0,
                |    list(sqrt(${sqdist("n.cv", "p.cv")}) ORDER BY n.j)),
                |    (x,y) -> x+y), 0.0) AS mv
                |  FROM cl$t n JOIN cl$p p ON p.j = n.j)""".stripMargin
    }
    val fin = (1 to maxIter).map { t =>
      val gates = (1 until t).map(u => s"(SELECT mv FROM mv$u) >= $tol")
      val stop = if (t < maxIter) Seq(s"(SELECT mv FROM mv$t) < $tol") else Nil
      val conds = gates ++ stop
      val where = if (conds.isEmpty) "" else s" WHERE ${conds.mkString(" AND ")}"
      s"SELECT j, cv FROM cl$t$where"
    }.mkString("\nUNION ALL ")
    sb ++= s""",
              |fin AS MATERIALIZED (
              |$fin)
              |SELECT j, CAST(count(*) AS BIGINT) AS n FROM (
              |  SELECT e.i, f.j,
              |    row_number() OVER (PARTITION BY e.i
              |      ORDER BY ${sqdist("e.v", "f.cv")}, f.j) AS rn
              |  FROM e CROSS JOIN fin f) t
              |WHERE rn = 1 GROUP BY j""".stripMargin
    sb.toString
  }

  /** Mirror of `km_gap_fitted` ([[graft.operators.Quality.gapStatisticFitted]])
    * — the FITTED gap statistic fully unrolled: per set (data + `refSets`
    * transparent-LCG uniform references, the km_gap draw expressions),
    * nested exact inverse-CDF k-means++ seeding (the km_seed_next oracle
    * pattern chained: anti-join by coordinates, integer D² weights, window
    * cumulative sum, rational-threshold pick), then per k a movement-gated
    * ≤`steps`-iteration Lloyd chain (the kmWcrLog gate form, fixed-point
    * 1e4 re-averages) and the 0.01-scale fixed-point dispersion census;
    * the log/mean/sd/chosen tail is km_gap's verbatim.
    */
  def kmGapFitted(ks: Seq[Int] = 2 to 6, refSets: Int = 3, steps: Int = 3,
      tol: Double = 0.01): String = {
    require(refSets == 3, "stats tail is written for exactly 3 reference sets")
    val kMax = ks.max
    val us = Seq((1L, 2L), (1L, 3L), (2L, 5L), (3L, 7L), (5L, 11L),
      (7L, 13L), (11L, 17L))
    def uOf(r: Int) = us((r - 2) % us.size)
    def lcgC(idx: Int): Long = 12345L + idx.toLong * 999983L
    def lcgA(idx: Int): Long = 1103515245L + idx.toLong * 999983L
    val sb = new StringBuilder
    sb ++= s"WITH ${graft.Tables.yhOrdersSql},\n"
    sb ++= s"""s AS MATERIALIZED (SELECT i, x, y FROM yh WHERE i % 7 = 0),
              |box AS (SELECT min(x) AS lox, max(x) AS hix, min(y) AS loy, max(y) AS hiy FROM s),
              |set0 AS MATERIALIZED (SELECT i, x, y FROM s)""".stripMargin
    for (b <- 0 until refSets) {
      val (cx, cy) = (lcgC(b * 2), lcgC(b * 2 + 1))
      val (ax, ay) = (lcgA(b * 2), lcgA(b * 2 + 1))
      sb ++= s""",
                |set${b + 1} AS MATERIALIZED (SELECT s.i,
                |  CAST((s.i*$ax + $cx) % 2147483647 AS DOUBLE)/2147483647.0*(b.hix-b.lox)+b.lox AS x,
                |  CAST((s.i*$ay + $cy) % 2147483647 AS DOUBLE)/2147483647.0*(b.hiy-b.loy)+b.loy AS y
                |  FROM s CROSS JOIN box b)""".stripMargin
    }
    for (g <- 0 to refSets) {
      sb ++= s""",
                |c${g}_1 AS MATERIALIZED (SELECT x, y FROM set$g ORDER BY i LIMIT 1)""".stripMargin
      for (r <- 2 to kMax) {
        val (uN, uD) = uOf(r)
        val chosen = (1 until r).map(q => s"SELECT x, y FROM c${g}_$q")
          .mkString(" UNION ALL ")
        sb ++= s""",
                  |ch${g}_$r AS MATERIALIZED ($chosen),
                  |w${g}_$r AS (SELECT p.i, p.x, p.y,
                  |    CAST(round(min((p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y))) AS BIGINT) AS w
                  |  FROM set$g p CROSS JOIN ch${g}_$r c
                  |  WHERE NOT EXISTS (SELECT 1 FROM ch${g}_$r e WHERE e.x = p.x AND e.y = p.y)
                  |  GROUP BY p.i, p.x, p.y),
                  |u${g}_$r AS (SELECT i, x, y,
                  |    sum(w) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                  |    sum(w) OVER () AS tw FROM w${g}_$r),
                  |c${g}_$r AS MATERIALIZED (SELECT x, y FROM u${g}_$r
                  |  WHERE cw*$uD >= tw*$uN ORDER BY cw, i LIMIT 1)""".stripMargin
      }
      for (k <- ks) {
        val seed = (1 to k)
          .map(q => s"SELECT CAST($q AS BIGINT) AS j, x, y FROM c${g}_$q")
          .mkString(" UNION ALL ")
        sb ++= s""",
                  |g${g}k${k}_0 AS MATERIALIZED ($seed)""".stripMargin
        for (t <- 1 to steps) {
          val p = t - 1
          sb ++= s""",
                    |a${g}k${k}_$t AS (SELECT i, x, y, j FROM (
                    |  SELECT p.i, p.x, p.y, c.j,
                    |    row_number() OVER (PARTITION BY p.i
                    |      ORDER BY (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y), c.j) AS rn
                    |  FROM set$g p CROSS JOIN g${g}k${k}_$p c) z WHERE rn = 1),
                    |g${g}k${k}_$t AS MATERIALIZED (SELECT j,
                    |  CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS x,
                    |  CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS y
                    |  FROM a${g}k${k}_$t GROUP BY j),
                    |m${g}k${k}_$t AS MATERIALIZED (SELECT sum(sqrt((n.x-p.x)*(n.x-p.x)+(n.y-p.y)*(n.y-p.y))) AS mv
                    |  FROM g${g}k${k}_$t n JOIN g${g}k${k}_$p p ON n.j = p.j)""".stripMargin
        }
        val fin = (1 to steps).map { t =>
          val gates = (1 until t).map(u => s"(SELECT mv FROM m${g}k${k}_$u) >= $tol")
          val stop =
            if (t < steps) Seq(s"(SELECT mv FROM m${g}k${k}_$t) < $tol") else Nil
          val conds = gates ++ stop
          val where = if (conds.isEmpty) "" else s" WHERE ${conds.mkString(" AND ")}"
          s"SELECT j, x, y FROM g${g}k${k}_$t$where"
        }.mkString("\nUNION ALL ")
        sb ++= s""",
                  |fin${g}k$k AS MATERIALIZED (
                  |$fin),
                  |wc${g}k$k AS MATERIALIZED (SELECT
                  |    CAST(sum(CAST(round(msq*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS w
                  |  FROM (SELECT min((p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y)) AS msq
                  |    FROM set$g p CROSS JOIN fin${g}k$k c GROUP BY p.i) z)""".stripMargin
      }
    }
    val lrows = ks.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k,
         |  ln((SELECT w FROM wc1k$k)) AS l0, ln((SELECT w FROM wc2k$k)) AS l1,
         |  ln((SELECT w FROM wc3k$k)) AS l2, ln((SELECT w FROM wc0k$k)) AS ld,
         |  (ln((SELECT w FROM wc1k$k))+ln((SELECT w FROM wc2k$k))+ln((SELECT w FROM wc3k$k)))/3.0 AS mean""".stripMargin
    }.mkString("\nUNION ALL ")
    sb ++= s""",
              |l AS (
              |$lrows),
              |f AS (SELECT k,
              |    CAST(round((mean - ld)*1e6) AS BIGINT) AS gap_e6,
              |    CAST(round(sqrt(((l0-mean)*(l0-mean)+(l1-mean)*(l1-mean)+(l2-mean)*(l2-mean))/3.0)
              |      * sqrt(1.0 + 1.0/3.0) * 1e6) AS BIGINT) AS sk_e6
              |  FROM l),
              |sel AS (SELECT k, gap_e6, sk_e6,
              |    lead(gap_e6) OVER (ORDER BY k) AS ng,
              |    lead(sk_e6) OVER (ORDER BY k) AS nsk FROM f),
              |ch AS (SELECT coalesce(min(CASE WHEN ng IS NOT NULL AND gap_e6 >= ng - nsk
              |    THEN k END), $kMax) AS ck FROM sel)
              |SELECT k, gap_e6, sk_e6, CAST(CASE WHEN k = ch.ck THEN 1 ELSE 0 END AS BIGINT) AS chosen
              |FROM sel CROSS JOIN ch""".stripMargin
    sb.toString
  }

  /** Mirror of [[graft.operators.Similarity.pca1]]: exact sufficient stats
    * (mean vector + covariance from one pass of raw double sums), then the
    * SAME 100-round power iteration UNROLLED as `iters` chained CTEs —
    * w_t = cov·v_{t−1}, v_t = w_t/‖w_t‖ — with the identical dominant-sign
    * flip and λ/totVar variance ratio. Double aggregation order differs
    * between engines (Spark per-partition, DuckDB hash-agg), but the
    * iteration is contractive and every output is rounded to e6 on values
    * O(1), so sub-1e-12 ulp drift cannot move a rounded cell. Rounding
    * convention is ALIGNED: pca1 rounds half-away-from-zero (its local
    * `rnd`), exactly DuckDB `round()` — not Scala `math.round`'s half-up,
    * which would flip a negative loading landing on an exact .5e-6.
    */
  def embPca(dim: Int = 64, iters: Int = 100): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |  FROM embeddings),
              |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
              |dims AS (SELECT CAST(unnest(range(1, ${dim + 1})) AS BIGINT) AS d),
              |mean AS MATERIALIZED (SELECT d.d, sum(e.v[d.d]) / (SELECT n FROM nn) AS m
              |  FROM e, dims d GROUP BY d.d),
              |s2 AS MATERIALIZED (SELECT i.d AS di, j.d AS dj, sum(e.v[i.d]*e.v[j.d]) AS ss
              |  FROM e, dims i, dims j GROUP BY i.d, j.d),
              |cov AS MATERIALIZED (SELECT s2.di, s2.dj,
              |    s2.ss / (SELECT n FROM nn) - mi.m * mj.m AS c
              |  FROM s2 JOIN mean mi ON mi.d = s2.di JOIN mean mj ON mj.d = s2.dj),
              |v0 AS MATERIALIZED (SELECT d, CASE WHEN d = 1 THEN 1.0 ELSE 0.0 END AS v FROM dims)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |w$t AS MATERIALIZED (SELECT c.di AS d, sum(c.c * v.v) AS w FROM cov c
                |  JOIN v${t - 1} v ON v.d = c.dj GROUP BY c.di),
                |v$t AS MATERIALIZED (SELECT d, w / (SELECT sqrt(sum(w*w)) FROM w$t) AS v FROM w$t)""".stripMargin
    }
    sb ++= s""",
              |lam AS MATERIALIZED (SELECT sqrt(sum(w*w)) AS l FROM w$iters),
              |flip AS MATERIALIZED (SELECT CASE WHEN (SELECT v FROM v$iters
              |    ORDER BY abs(v) DESC, d LIMIT 1) < 0 THEN -1.0 ELSE 1.0 END AS f),
              |tv AS MATERIALIZED (SELECT sum(c) AS tot FROM cov WHERE di = dj)
              |SELECT v.d AS dim,
              |  CAST(round(m.m * 1e6) AS BIGINT) AS mean_e6,
              |  CAST(round(v.v * (SELECT f FROM flip) * 1e6) AS BIGINT) AS pc1_e6,
              |  CAST(round((SELECT l FROM lam) / (SELECT tot FROM tv) * 1e6) AS BIGINT)
              |    AS evr_e6
              |FROM v$iters v JOIN mean m ON m.d = v.d""".stripMargin
    sb.toString
  }

  /** Mirror of [[graft.operators.Similarity.whiten2]]: the [[embPca]]
    * sufficient stats and `iters`-round power iteration, then EXACT
    * rank-one deflation `cov₂ = cov − λ₁·v₁ᵢ·v₁ⱼ` (flip-invariant — v₁ is
    * flipped before deflating on both engines, and the product cancels the
    * sign either way) and the same chain again for PC2, then the per-vector
    * projection `(x − m)·v_c / √λ_c` rounded to e4. Whitened coordinates
    * are O(1) (unit variance by construction); the contractive-iteration
    * drift argument from [[embPca]] holds with 5e-5 half-spacing.
    */
  def embWhiten(dim: Int = 64, iters: Int = 100): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |  FROM embeddings),
              |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
              |dims AS (SELECT CAST(unnest(range(1, ${dim + 1})) AS BIGINT) AS d),
              |mean AS MATERIALIZED (SELECT d.d, sum(e.v[d.d]) / (SELECT n FROM nn) AS m
              |  FROM e, dims d GROUP BY d.d),
              |s2 AS MATERIALIZED (SELECT i.d AS di, j.d AS dj, sum(e.v[i.d]*e.v[j.d]) AS ss
              |  FROM e, dims i, dims j GROUP BY i.d, j.d),
              |cov AS MATERIALIZED (SELECT s2.di, s2.dj,
              |    s2.ss / (SELECT n FROM nn) - mi.m * mj.m AS c
              |  FROM s2 JOIN mean mi ON mi.d = s2.di JOIN mean mj ON mj.d = s2.dj),
              |a0 AS MATERIALIZED (SELECT d, CASE WHEN d = 1 THEN 1.0 ELSE 0.0 END AS v FROM dims)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |aw$t AS MATERIALIZED (SELECT c.di AS d, sum(c.c * v.v) AS w FROM cov c
                |  JOIN a${t - 1} v ON v.d = c.dj GROUP BY c.di),
                |a$t AS MATERIALIZED (SELECT d, w / (SELECT sqrt(sum(w*w)) FROM aw$t) AS v FROM aw$t)""".stripMargin
    }
    sb ++= s""",
              |l1 AS MATERIALIZED (SELECT sqrt(sum(w*w)) AS l FROM aw$iters),
              |f1 AS MATERIALIZED (SELECT CASE WHEN (SELECT v FROM a$iters
              |    ORDER BY abs(v) DESC, d LIMIT 1) < 0 THEN -1.0 ELSE 1.0 END AS f),
              |pc1 AS MATERIALIZED (SELECT d, v * (SELECT f FROM f1) AS v FROM a$iters),
              |cov2 AS MATERIALIZED (SELECT c.di, c.dj,
              |    c.c - (SELECT l FROM l1) * p1.v * p2.v AS c
              |  FROM cov c JOIN pc1 p1 ON p1.d = c.di JOIN pc1 p2 ON p2.d = c.dj),
              |b0 AS MATERIALIZED (SELECT d, CASE WHEN d = 1 THEN 1.0 ELSE 0.0 END AS v FROM dims)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |bw$t AS MATERIALIZED (SELECT c.di AS d, sum(c.c * v.v) AS w FROM cov2 c
                |  JOIN b${t - 1} v ON v.d = c.dj GROUP BY c.di),
                |b$t AS MATERIALIZED (SELECT d, w / (SELECT sqrt(sum(w*w)) FROM bw$t) AS v FROM bw$t)""".stripMargin
    }
    sb ++= s""",
              |l2 AS MATERIALIZED (SELECT sqrt(sum(w*w)) AS l FROM bw$iters),
              |f2 AS MATERIALIZED (SELECT CASE WHEN (SELECT v FROM b$iters
              |    ORDER BY abs(v) DESC, d LIMIT 1) < 0 THEN -1.0 ELSE 1.0 END AS f),
              |pc2 AS MATERIALIZED (SELECT d, v * (SELECT f FROM f2) AS v FROM b$iters),
              |proj AS (SELECT e.vec_id,
              |    sum((e.v[d.d] - m.m) * p1.v) / (SELECT sqrt(l) FROM l1) AS w1,
              |    sum((e.v[d.d] - m.m) * p2.v) / (SELECT sqrt(l) FROM l2) AS w2
              |  FROM e, dims d
              |  JOIN mean m ON m.d = d.d
              |  JOIN pc1 p1 ON p1.d = d.d
              |  JOIN pc2 p2 ON p2.d = d.d
              |  GROUP BY e.vec_id)
              |SELECT vec_id, CAST(round(w1 * 1e4) AS BIGINT) AS w1_e4,
              |  CAST(round(w2 * 1e4) AS BIGINT) AS w2_e4
              |FROM proj""".stripMargin
    sb.toString
  }

  /** Mirror of `mm_features`: the per-kind payload byte accounting, derived
    * in CLOSED FORM from the media generator's arithmetic
    * (Multimodal.mediaTable / bmpBytes / wavBytes / aviBytes) — BMP is
    * 54-byte header + 4-byte-padded BGR rows, WAV is the 44-byte canonical
    * RIFF/fmt/data header + 2 bytes per 16-bit sample, AVI is the fixed
    * 224-byte container framing + (8-byte chunk header + padded DIB frame)
    * per frame. The Spark side must generate the container, DECODE it back
    * (real RIFF/BMP parsers), and aggregate — so a hash match pins the
    * whole encode→decode loop against this arithmetic.
    */
  val mmFeatures: String =
    """WITH m AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS nc,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind
      |  FROM documents),
      |b AS (SELECT kind, CASE
      |    WHEN kind = 'image' THEN
      |      54 + ((id % 24 + 8) * 3 + 3) // 4 * 4 * (id % 16 + 8)
      |    WHEN kind = 'audio' THEN 44 + 2 * (nc % 480 + 48)
      |    ELSE 224 + (id % 5 + 2) *
      |      (8 + ((id % 16 + 8) * 3 + 3) // 4 * 4 * (id % 12 + 6))
      |    END AS nb
      |  FROM m)
      |SELECT kind, count(*) AS n, CAST(sum(nb) AS BIGINT) AS total_bytes
      |FROM b GROUP BY kind""".stripMargin

  // ------------------------------------------------------------- mm hashes
  //
  // The media fixtures are DETERMINISTIC functions of (doc_id, n_chars)
  // (Multimodal.mediaTable), so the binary-decode queries have closed-form
  // ANSI mirrors after all: the oracle re-derives each expected feature from
  // the generator arithmetic directly, while the Spark side must encode the
  // container, parse it back with the real RIFF/BMP/AVI walkers, and decode
  // pixels/PCM — a hash match pins the entire encode→decode→feature loop
  // against an independent derivation that never touches a byte buffer.
  //
  // Exactness discipline for the image/frame hashes: `resizeDibLuma`
  // accumulates per-cell luma in row-major order with per-step double
  // rounding, so the mirror uses DuckDB's ordered `list(... ORDER BY y, x)`
  // + `list_reduce` left fold — the bit-exact replay of Scala's `sum += l`
  // loop (plain SUM() reassociates and could flip the float cast on a
  // boundary). Cell values then round through FLOAT exactly like `.toFloat`,
  // and the 64-bit hash is assembled as a BIGINT sum of powers of two (bit
  // 63 contributes Long.MinValue — two's complement built by addition).

  /** The shared image-aHash CTE chain: `ih(id, ahash)` for every image row
    * (doc_id % 3 = 0), mirroring [[operators.Multimodal.aHashOf]] over the
    * [[operators.Multimodal.bmpPixel]] gradient — an 8×8 box filter over the
    * w×h geometry (w = id%24+8, h = id%16+8), cell bounds `t·dim/8` in
    * integer division, Rec.601 luma in the exact source evaluation order.
    */
  private val mmImageHashCtes: String =
    """img AS (SELECT doc_id AS id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |icell AS (SELECT img.id, c.c AS ci,
      |    (c.c % 8) * img.w // 8 AS x0, (c.c % 8 + 1) * img.w // 8 AS x1,
      |    (c.c // 8) * img.h // 8 AS y0, (c.c // 8 + 1) * img.h // 8 AS y1
      |  FROM img, (SELECT unnest(range(0, 64)) AS c) c),
      |icsum AS (SELECT icell.id, icell.ci, icell.x0, icell.x1, icell.y0, icell.y1,
      |    list_reduce(list(
      |      0.299 * CAST((p.x*37 + icell.id) % 256 AS DOUBLE)
      |      + 0.587 * CAST((p.y*53 + icell.id*7) % 256 AS DOUBLE)
      |      + 0.114 * CAST((p.x + p.y + icell.id*13) % 256 AS DOUBLE)
      |      ORDER BY p.y, p.x), (a, b) -> a + b) AS s
      |  FROM icell, LATERAL (SELECT x.x, y.y
      |    FROM (SELECT unnest(range(icell.x0, icell.x1)) AS x) x,
      |         (SELECT unnest(range(icell.y0, icell.y1)) AS y) y) p
      |  GROUP BY ALL),
      |igval AS (SELECT id, ci,
      |    CAST(s / ((y1 - y0) * (x1 - x0)) / 255.0 AS FLOAT) AS g FROM icsum),
      |igmean AS (SELECT id,
      |    list_reduce(list(CAST(g AS DOUBLE) ORDER BY ci), (a, b) -> a + b) / 64 AS m
      |  FROM igval GROUP BY id),
      |ih AS (SELECT igval.id,
      |    CAST(sum(CASE WHEN CAST(igval.g AS DOUBLE) > igmean.m THEN
      |      CASE WHEN igval.ci = 63 THEN -9223372036854775807::BIGINT - 1
      |           ELSE 1::BIGINT << igval.ci END ELSE 0 END) AS BIGINT) AS ahash
      |  FROM igval JOIN igmean ON igval.id = igmean.id GROUP BY igval.id)""".stripMargin

  /** The shared video-frame-aHash CTE chain: `vfh(id, f, ahash)` for every
    * (video, frame), mirroring [[operators.Multimodal.frameAHashesOf]]: the
    * [[operators.Multimodal.aviPixel]] pan (frame f reads the base gradient
    * at (x+2f, y+f)), the 8×min(8,h) grid clamp for short clips
    * (h = id%12+6 can dip below 8 rows), and the identical ordered-fold
    * luma accumulation as [[mmImageHashCtes]].
    */
  private val mmFrameHashCtes: String =
    """vid AS (SELECT doc_id AS id, doc_id % 16 + 8 AS w, doc_id % 12 + 6 AS h,
      |    doc_id % 5 + 2 AS nf, least(8, doc_id % 12 + 6) AS th
      |  FROM documents WHERE doc_id % 3 = 2),
      |vfr AS (SELECT vid.*, f.f
      |  FROM vid, LATERAL (SELECT unnest(range(0, vid.nf)) AS f) f),
      |vcell AS (SELECT vfr.id, vfr.f, vfr.th, c.c AS ci,
      |    (c.c % 8) * vfr.w // 8 AS x0, (c.c % 8 + 1) * vfr.w // 8 AS x1,
      |    (c.c // 8) * vfr.h // vfr.th AS y0, (c.c // 8 + 1) * vfr.h // vfr.th AS y1
      |  FROM vfr, LATERAL (SELECT unnest(range(0, 8 * vfr.th)) AS c) c),
      |vcsum AS (SELECT vcell.id, vcell.f, vcell.th, vcell.ci,
      |    vcell.x0, vcell.x1, vcell.y0, vcell.y1,
      |    list_reduce(list(
      |      0.299 * CAST(((p.x + 2*vcell.f)*37 + vcell.id) % 256 AS DOUBLE)
      |      + 0.587 * CAST(((p.y + vcell.f)*53 + vcell.id*7) % 256 AS DOUBLE)
      |      + 0.114 * CAST(((p.x + 2*vcell.f) + (p.y + vcell.f) + vcell.id*13) % 256
      |          AS DOUBLE)
      |      ORDER BY p.y, p.x), (a, b) -> a + b) AS s
      |  FROM vcell, LATERAL (SELECT x.x, y.y
      |    FROM (SELECT unnest(range(vcell.x0, vcell.x1)) AS x) x,
      |         (SELECT unnest(range(vcell.y0, vcell.y1)) AS y) y) p
      |  GROUP BY ALL),
      |vgval AS (SELECT id, f, th, ci,
      |    CAST(s / ((y1 - y0) * (x1 - x0)) / 255.0 AS FLOAT) AS g FROM vcsum),
      |vgmean AS (SELECT id, f,
      |    list_reduce(list(CAST(g AS DOUBLE) ORDER BY ci), (a, b) -> a + b)
      |      / (8 * any_value(th)) AS m
      |  FROM vgval GROUP BY id, f),
      |vfh AS (SELECT vgval.id, vgval.f,
      |    CAST(sum(CASE WHEN CAST(vgval.g AS DOUBLE) > vgmean.m THEN
      |      CASE WHEN vgval.ci = 63 THEN -9223372036854775807::BIGINT - 1
      |           ELSE 1::BIGINT << vgval.ci END ELSE 0 END) AS BIGINT) AS ahash
      |  FROM vgval JOIN vgmean ON vgval.id = vgmean.id AND vgval.f = vgmean.f
      |  GROUP BY vgval.id, vgval.f)""".stripMargin

  /** Mirror of `mm_thumbs`: output SIZES of the fixed-budget resamples —
    * images always emit the 4×4 = 16-value luma grid
    * ([[operators.Multimodal.thumbnails]]), videos keep min(nf, 4) frame
    * lumas ([[operators.Multimodal.frameSamples]]: uniform k-spacing, every
    * frame when the clip is shorter than k). Closed form from the generator
    * geometry; the Spark side must decode the real containers to count.
    */
  val mmThumbs: String =
    """SELECT doc_id AS media_id, 'image' AS kind, 16::BIGINT AS n_vals
      |FROM documents WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT doc_id, 'video', least(doc_id % 5 + 2, 4)::BIGINT
      |FROM documents WHERE doc_id % 3 = 2""".stripMargin

  /** Mirror of `mm_audio_seg`: [[operators.Multimodal.audioActivity]]'s
    * exact-integer window energies re-derived from the PCM generator —
    * sample t is `trunc(sin(2π·440(1+id%5)·t/16000) · (8000+(id%7)·3000))`
    * ([[operators.Multimodal.pcmSamples]] via Short truncation), windows of
    * 64 samples (the tail window partial), window active when
    * `e·10⁶ ≥ 250000·peak`, and the longest active run via the
    * gaps-and-islands inactive-prefix-count. sin() agreement across engines
    * is safe here: a last-ulp divergence only matters within ~3e-12 of an
    * integer boundary before truncation.
    */
  val mmAudioSeg: String =
    """WITH au AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) % 480 + 48 AS n,
      |    440.0 * (1 + doc_id % 5) AS freq, 8000 + (doc_id % 7) * 3000 AS amp
      |  FROM documents WHERE doc_id % 3 = 1),
      |smp AS (SELECT au.id, t.t, t.t // 64 AS wi,
      |    CAST(trunc(sin(2 * pi() * au.freq * t.t / 16000) * au.amp) AS BIGINT) AS s
      |  FROM au, LATERAL (SELECT unnest(range(0, au.n)) AS t) t),
      |win AS (SELECT id, wi, sum(s * s)::BIGINT AS e FROM smp GROUP BY id, wi),
      |pk AS (SELECT id, max(e) AS peak FROM win GROUP BY id),
      |act AS (SELECT win.id, win.wi, win.e, pk.peak,
      |    (win.e * 1000000 >= 250000 * pk.peak AND pk.peak > 0) AS is_active
      |  FROM win JOIN pk ON win.id = pk.id),
      |grp AS (SELECT id, wi, peak, is_active,
      |    sum(CASE WHEN is_active THEN 0 ELSE 1 END)
      |      OVER (PARTITION BY id ORDER BY wi ROWS UNBOUNDED PRECEDING) AS g
      |  FROM act),
      |runs AS (SELECT id, g, count(*)::BIGINT AS run_len
      |  FROM grp WHERE is_active GROUP BY id, g)
      |SELECT a.id AS media_id, 16000::BIGINT AS sample_rate,
      |  count(*)::BIGINT AS n_windows,
      |  sum(CASE WHEN a.is_active THEN 1 ELSE 0 END)::BIGINT AS n_active,
      |  coalesce((SELECT max(run_len) FROM runs r WHERE r.id = a.id), 0)::BIGINT
      |    AS max_run,
      |  any_value(a.peak)::BIGINT AS peak_win_e
      |FROM grp a GROUP BY a.id""".stripMargin

  /** Mirror of `mm_audio_fingerprint`:
    * [[operators.Multimodal.audioFingerprint]]'s exact-integer window
    * energies re-derived from the PCM generator ([[mmAudioSeg]]'s
    * arithmetic at `win = 16`), the lag-compare delta bits packed into one
    * BIGINT (bit `t−1` set when window `t`'s energy exceeds window
    * `t−1`'s, first 64 deltas), and the collision census. sin() agreement
    * is the [[mmAudioSeg]] argument; everything after trunc() is integer.
    */
  val mmAudioFingerprint: String =
    """WITH au AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) % 480 + 48 AS n,
      |    440.0 * (1 + doc_id % 5) AS freq, 8000 + (doc_id % 7) * 3000 AS amp
      |  FROM documents WHERE doc_id % 3 = 1),
      |smp AS (SELECT au.id, t.t, t.t // 16 AS wi,
      |    CAST(trunc(sin(2 * pi() * au.freq * t.t / 16000) * au.amp) AS BIGINT) AS s
      |  FROM au, LATERAL (SELECT unnest(range(0, au.n)) AS t) t),
      |win AS (SELECT id, wi, sum(s * s)::BIGINT AS e FROM smp GROUP BY id, wi),
      |del AS (SELECT id, wi, e,
      |    lag(e) OVER (PARTITION BY id ORDER BY wi) AS prev
      |  FROM win),
      |fps AS (SELECT id, coalesce(sum(CASE
      |      WHEN prev IS NOT NULL AND wi <= 64 AND e > prev
      |      THEN (CAST(1 AS BIGINT) << CAST(wi - 1 AS INTEGER)) ELSE 0 END),
      |    0)::BIGINT AS fp
      |  FROM del GROUP BY id)
      |SELECT fp, count(*)::BIGINT AS n_clips, min(id)::BIGINT AS min_id
      |FROM fps GROUP BY fp""".stripMargin

  /** Mirror of `mm_keyframes`: per-frame hashes from [[mmFrameHashCtes]],
    * the lag/XOR/popcount cut detector (frame 0 keys; a cut is a ≥33-bit
    * hamming delta), and the per-video census with `max_cut_hamming` = the
    * strongest CUT (0 for single-shot clips — sub-threshold deltas are not
    * cuts, the documented contract).
    */
  val mmKeyframes: String =
    s"""WITH $mmFrameHashCtes,
       |lagd AS (SELECT id, f, ahash,
       |    lag(ahash) OVER (PARTITION BY id ORDER BY f) AS prev
       |  FROM vfh),
       |kd AS (SELECT id, f,
       |    CASE WHEN prev IS NULL THEN NULL
       |         ELSE bit_count(xor(ahash, prev))::BIGINT END AS dh
       |  FROM lagd)
       |SELECT id AS media_id, count(*)::BIGINT AS n_frames,
       |  sum(CASE WHEN dh IS NULL OR dh >= 33 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_keyframes,
       |  coalesce(max(CASE WHEN dh >= 33 THEN dh END), 0)::BIGINT
       |    AS max_cut_hamming
       |FROM kd GROUP BY id""".stripMargin

  /** Mirror of `mm_phash`: image aHashes from [[mmImageHashCtes]] plus the
    * byte-identical id%5=0 copies under shifted ids, then the hamming-≤3
    * partner count. The Spark side generates candidates through the
    * pigeonhole chunk blocking; the mirror joins ALL pairs directly —
    * semantically identical because the 4-chunk split is COMPLETE for
    * hamming ≤ 3 (3 differing bits cannot touch all 4 chunks), so a hash
    * match also certifies the blocking loses no qualifying pair.
    */
  val mmPhash: String =
    s"""WITH $mmImageHashCtes,
       |hs AS (SELECT id AS media_id, ahash FROM ih
       |  UNION ALL SELECT id + 1000000, ahash FROM ih WHERE id % 5 = 0),
       |pr AS (SELECT a.media_id AS a_id, b.media_id AS b_id
       |  FROM hs a JOIN hs b ON a.media_id < b.media_id
       |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
       |du AS (SELECT id, count(*)::BIGINT AS n_dups FROM (
       |    SELECT a_id AS id FROM pr UNION ALL SELECT b_id FROM pr) u GROUP BY id)
       |SELECT hs.media_id, hs.ahash, coalesce(du.n_dups, 0)::BIGINT AS n_dups
       |FROM hs LEFT JOIN du ON hs.media_id = du.id""".stripMargin

  /** Mirror of the capped `mm_phash` (the r18 production default; was
    * published as `mm_phash_capped` in r17): unlike [[mmPhash]] (which may join all
    * pairs because the pigeonhole blocking is COMPLETE at hamming ≤ 3),
    * the capped form's semantics are defined BY the blocking — so the
    * mirror replays it: the 4×16-bit chunk decomposition (`(ahash >>
    * 16·chunk) & 0xFFFF` — the mask kills DuckDB's arithmetic-shift fill
    * bits, matching Spark's `shiftrightunsigned`), the bucket census, the
    * `HAVING count(*) <= cap` drop, DISTINCT pairs from surviving
    * buckets, the exact popcount refine, and the same n_dups rollup.
    */
  def mmPhashCapped(cap: Int): String =
    s"""WITH $mmImageHashCtes,
       |hs AS (SELECT id AS media_id, ahash FROM ih
       |  UNION ALL SELECT id + 1000000, ahash FROM ih WHERE id % 5 = 0),
       |blocked AS (SELECT media_id, ahash, c.chunk,
       |    (ahash >> (c.chunk * 16)) & 65535 AS v
       |  FROM hs, (VALUES (0),(1),(2),(3)) c(chunk)),
       |ok AS (SELECT chunk, v FROM blocked GROUP BY chunk, v
       |  HAVING count(*) <= $cap),
       |bl2 AS (SELECT b.media_id, b.ahash, b.chunk, b.v
       |  FROM blocked b JOIN ok USING (chunk, v)),
       |pr AS (SELECT DISTINCT x.media_id AS a_id, y.media_id AS b_id,
       |    x.ahash AS ha, y.ahash AS hb
       |  FROM bl2 x JOIN bl2 y
       |    ON x.chunk = y.chunk AND x.v = y.v AND x.media_id < y.media_id),
       |prh AS (SELECT a_id, b_id FROM pr
       |  WHERE bit_count(xor(ha, hb)) <= 3),
       |du AS (SELECT id, count(*)::BIGINT AS n_dups FROM (
       |    SELECT a_id AS id FROM prh UNION ALL SELECT b_id FROM prh) u
       |  GROUP BY id)
       |SELECT hs.media_id, hs.ahash, coalesce(du.n_dups, 0)::BIGINT AS n_dups
       |FROM hs LEFT JOIN du ON hs.media_id = du.id""".stripMargin

  /** Mirror of `mm_frame_dedup`: frame hashes from [[mmFrameHashCtes]] keyed
    * by the composite media_id·100+frame_ix (copies of id%5=1 clips ride in
    * under +10⁶ shifted ids), exact-equality pairs (maxHamming = 0), rolled
    * up to matched-frame counts per video pair.
    */
  val mmFrameDedup: String =
    s"""WITH $mmFrameHashCtes,
       |fh2 AS (SELECT id * 100 + f AS media_id, ahash FROM vfh
       |  UNION ALL SELECT (id + 1000000) * 100 + f, ahash FROM vfh
       |  WHERE id % 5 = 1),
       |pr AS (SELECT a.media_id AS a_id, b.media_id AS b_id
       |  FROM fh2 a JOIN fh2 b ON a.ahash = b.ahash AND a.media_id < b.media_id)
       |SELECT a_id // 100 AS a_vid, b_id // 100 AS b_vid,
       |  count(*)::BIGINT AS n_frames
       |FROM pr GROUP BY 1, 2""".stripMargin

  /** Mirror of the CAPPED `mm_frame_dedup` production form: at
    * maxHamming = 0 the pigeonhole decomposition is one chunk spanning all
    * 64 bits, so a bucket is an exact-equal-hash group — the mirror
    * replays the bucket census and the `HAVING count(*) <= cap` drop
    * before the equality pair join. At fixture scale no frame-hash bucket
    * exceeds 4 rows (census in `Multimodal.defaultMaxBucketRows`
    * scaladoc), so this equals [[mmFrameDedup]] row-for-row while still
    * verifying the capped plumbing end to end.
    */
  def mmFrameDedupCapped(cap: Int): String =
    s"""WITH $mmFrameHashCtes,
       |fh2 AS (SELECT id * 100 + f AS media_id, ahash FROM vfh
       |  UNION ALL SELECT (id + 1000000) * 100 + f, ahash FROM vfh
       |  WHERE id % 5 = 1),
       |ok AS (SELECT ahash FROM fh2 GROUP BY ahash HAVING count(*) <= $cap),
       |pr AS (SELECT a.media_id AS a_id, b.media_id AS b_id
       |  FROM fh2 a JOIN ok ON a.ahash = ok.ahash
       |  JOIN fh2 b ON a.ahash = b.ahash AND a.media_id < b.media_id)
       |SELECT a_id // 100 AS a_vid, b_id // 100 AS b_vid,
       |  count(*)::BIGINT AS n_frames
       |FROM pr GROUP BY 1, 2""".stripMargin

  /** Mirror of the `dedup_cluster_sizes` rollup: [[dedupComponents]]'s
    * label propagation nested as a subquery, sizes per representative,
    * then the (size → clusters, docs) histogram.
    */
  def dedupClusterSizes(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM (${dedupComponents(n, numHashes, bands, thrNum, thrDen)}) comp
       |  GROUP BY rep_id) sizes
       |GROUP BY cluster_size""".stripMargin

  /** Mirror of `dedup_soft`: the [[dedupComponents]] map joined with its
    * per-representative cluster sizes, every doc weighted `10⁶ // size`.
    * The iterative component chain is hoisted into ONE shared MATERIALIZED
    * CTE (DuckDB inlines plain CTEs per reference — two references would
    * run the whole label-propagation chain twice), mirroring the Spark
    * side's memoized reuse.
    */
  def dedupSoft(n: Int, numHashes: Int, bands: Int,
      thrNum: Int, thrDen: Int): String =
    s"""WITH comp AS MATERIALIZED (
       |${dedupComponents(n, numHashes, bands, thrNum, thrDen)})
       |SELECT comp.doc_id, comp.rep_id, sizes.cluster_size,
       |  CAST(1000000 // sizes.cluster_size AS BIGINT) AS weight_ppm
       |FROM comp
       |JOIN (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY rep_id) sizes ON comp.rep_id = sizes.rep_id""".stripMargin

  /** Mirror of `sim_cells_twolevel` ([[operators.Similarity
    * .assignTwoLevel]]): the child mapping (each centroid to its nearest
    * super by (d, sid)), the per-vector super pick, the within-children
    * argmin, and the flat argmin — every stage the same (d, id)
    * lexicographic row_number the Spark sorted-struct picks run, so the
    * per-vector agreement table hash-matches.
    */
  def simCellsTwoLevel(nCells: Int, nSuper: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |sup AS (SELECT cid AS sid, cv AS sv FROM cent WHERE cid <= $nSuper),
       |ch AS (SELECT cid, cv, sid FROM (
       |  SELECT c.cid, c.cv, s.sid,
       |    row_number() OVER (PARTITION BY c.cid
       |      ORDER BY ${sqdist("c.cv", "s.sv")}, s.sid) AS rn
       |  FROM cent c CROSS JOIN sup s) t WHERE rn = 1),
       |vs AS (SELECT vec_id, v, sid FROM (
       |  SELECT e.vec_id, e.v, s.sid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqdist("e.v", "s.sv")}, s.sid) AS rn
       |  FROM e CROSS JOIN sup s) t WHERE rn = 1),
       |two AS (SELECT vec_id, sid, cid FROM (
       |  SELECT vs.vec_id, vs.sid, ch.cid,
       |    row_number() OVER (PARTITION BY vs.vec_id
       |      ORDER BY ${sqdist("vs.v", "ch.cv")}, ch.cid) AS rn
       |  FROM vs JOIN ch ON ch.sid = vs.sid) t WHERE rn = 1),
       |flat AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1)
       |SELECT f.vec_id, f.cid AS cell_flat, t.cid AS cell_two,
       |  t.sid AS super_cell,
       |  CAST(CASE WHEN f.cid = t.cid THEN 1 ELSE 0 END AS BIGINT) AS agree
       |FROM flat f JOIN two t ON t.vec_id = f.vec_id""".stripMargin

  /** Mirror of [[operators.Similarity.routeDecision]] at oracle scale,
    * where the deterministic xxhash64 sample covers the whole corpus
    * (n ≤ sampleN): the [[simCellsTwoLevel]] per-vector agreement
    * aggregated to the one-row routed-or-flat verdict that
    * `buildIvfIndexAuto` acts on.
    */
  def simRouteDecision(nCells: Int, nSuper: Int, thresholdPpm: Long): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       |  CAST(sum(agree) AS BIGINT) AS n_agree,
       |  CAST(sum(agree) * 1000000 // count(*) AS BIGINT) AS agree_ppm,
       |  CAST($thresholdPpm AS BIGINT) AS threshold_ppm,
       |  CAST(CASE WHEN sum(agree) * 1000000 // count(*) >= $thresholdPpm
       |    THEN 1 ELSE 0 END AS BIGINT) AS routed
       |FROM (${simCellsTwoLevel(nCells, nSuper)}) AS tl""".stripMargin

  /** Mirror of [[operators.Similarity.cellBalance]]: [[simIvf]]'s cell
    * assignment CTEs, one occupancy rollup, the window total for the exact
    * ppm share and load factor.
    */
  def simCellBalance(nCells: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < $nCells),
       |cells AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqdist("e.v", "c.cv")}, c.cid) AS rn
       |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
       |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM cells GROUP BY cell)
       |SELECT cell, n_vecs,
       |  CAST(n_vecs * 1000000 // sum(n_vecs) OVER () AS BIGINT) AS share_ppm,
       |  CAST(n_vecs * $nCells * 100 // sum(n_vecs) OVER () AS BIGINT) AS load_x100
       |FROM occ""".stripMargin

  /** Mirror of [[operators.Similarity.rebalanceDecision]]: the
    * [[simCellBalance]] census aggregated to the one-row re-fit verdict.
    */
  def simCellRebalance(nCells: Int, boundX100: Long): String =
    s"""SELECT CAST(max(load_x100) AS BIGINT) AS max_load_x100,
       |  CAST(min(load_x100) AS BIGINT) AS min_load_x100,
       |  CAST(count(*) AS BIGINT) AS n_occupied,
       |  CAST($boundX100 AS BIGINT) AS bound_x100,
       |  CAST(CASE WHEN max(load_x100) > $boundX100 THEN 1 ELSE 0 END AS BIGINT) AS refit
       |FROM (${simCellBalance(nCells)}) AS bal""".stripMargin

  /** Mirror of [[operators.TextAnalysis.corpusDatasheet]]: the fused
    * per-doc (token count, quality keep, fingerprint) projection, the >1
    * fingerprint rollup joined back, one per-source aggregate. The keep
    * rule is [[textQuality]]'s double compare verbatim; the fingerprint is
    * [[textFingerprint]]'s fold verbatim.
    */
  def corpusDatasheet(minTokens: Int, maxTokens: Int): String =
    s"""WITH pd AS (SELECT source, lang,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
       |    CAST(len(string_split(text,' ')) >= $minTokens AND
       |      len(string_split(text,' ')) <= $maxTokens AND
       |      ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
       |        / length(text)) < 0.2 AS BIGINT) AS keep,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text,' '), t -> ${tokenId("t")})),
       |      (h,x) -> (h*131+x) % 1000000007) AS fp
       |  FROM documents),
       |d AS (SELECT fp FROM pd GROUP BY fp HAVING count(*) > 1),
       |j AS (SELECT pd.*, CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END AS is_dup
       |  FROM pd LEFT JOIN d USING (fp))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_tok) * 100 // count(*) AS BIGINT) AS tokens_per_doc_e2,
       |  CAST(sum(keep) * 1000000 // count(*) AS BIGINT) AS quality_keep_ppm,
       |  CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS exact_dup_ppm
       |FROM j GROUP BY source""".stripMargin

  /** Mirror of [[operators.Dedup.duplicationHotspots]]: ALL (non-distinct)
    * word n-grams per doc — `greatest(len−(n−1), 0)` grams, the `word_grams`
    * kernel's no-truncated-tail count — grouped to occurrence/spread
    * counts, `> 1` cut, (n_occ DESC, n_docs DESC, gram) total-order top-k.
    */
  def dedupHotspots(n: Int, k: Int): String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id,
       |    unnest(list_transform(range(1, greatest(len(toks) - ${n - 1}, 0) + 1),
       |      j -> array_to_string(list_slice(toks, j, j + ${n - 1}), ' '))) AS gram
       |  FROM tk),
       |c AS (SELECT gram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
       |  FROM g GROUP BY gram HAVING count(*) > 1)
       |SELECT gram, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs
       |FROM c ORDER BY n_occ DESC, n_docs DESC, gram LIMIT $k""".stripMargin

  /** Mirror of [[operators.TextAnalysis.gopherGate]]: the same six per-doc
    * rule flags (integer cross-multiplied, never a division), prefix
    * conjunctions in one aggregate, unpivoted to the six funnel rows.
    */
  def textGopherGate(minTokens: Int, maxTokens: Int, minMeanLen: Int,
      maxMeanLen: Int, minStops: Int, minDistinctPpm: Long,
      maxTopPpm: Long, maxRep2Ppm: Long): String = {
    val names = Seq("word_count", "mean_word_length", "required_stopwords",
      "distinct_ratio", "top_token_share", "repeated_2grams")
    val rows = names.zipWithIndex.map { case (nm, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS rule_id, '$nm' AS rule, " +
        s"CAST(p$i AS BIGINT) AS n_in, CAST(p$i - p${i + 1} AS BIGINT) AS n_drop, " +
        s"CAST(p${i + 1} AS BIGINT) AS n_out FROM f"
    }
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sig AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
       |    list_sum(list_transform(toks, x -> len(x))) AS sum_chars,
       |    len(list_filter(toks, x -> x IN ('the', 'a'))) AS stops,
       |    len(list_distinct(toks)) AS nd,
       |    (SELECT max(cnt) FROM (SELECT count(*) AS cnt
       |       FROM unnest(toks) AS u(tok) GROUP BY tok)) AS top,
       |    greatest(len(toks) - 1, 1) AS slots,
       |    greatest(len(toks) - 1, 1) - len(${shingles("toks", 2)}) AS rep2
       |  FROM tk),
       |g AS (SELECT
       |    (n >= $minTokens AND n <= $maxTokens) AS g1,
       |    (sum_chars >= n * $minMeanLen AND sum_chars <= n * $maxMeanLen) AS g2,
       |    (stops >= $minStops) AS g3,
       |    (nd * 1000000 >= n * $minDistinctPpm) AS g4,
       |    (top * 1000000 <= n * $maxTopPpm) AS g5,
       |    (rep2 * 1000000 <= slots * $maxRep2Ppm) AS g6
       |  FROM sig),
       |f AS (SELECT count(*) AS p0,
       |    sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS p1,
       |    sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS p2,
       |    sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS p3,
       |    sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END) AS p4,
       |    sum(CASE WHEN g1 AND g2 AND g3 AND g4 AND g5 THEN 1 ELSE 0 END) AS p5,
       |    sum(CASE WHEN g1 AND g2 AND g3 AND g4 AND g5 AND g6 THEN 1 ELSE 0 END) AS p6
       |  FROM g)
       |${rows.mkString("\n|UNION ALL\n|")}""".stripMargin
  }

  /** Mirror of [[operators.TextAnalysis.temperatureMix]]: the same
    * corrected isqrt, integer floor shares, largest-remainder top-up.
    */
  def docMixTemperature(budget: Long): String =
    s"""WITH ps AS (SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY source),
       |s0 AS (SELECT source, n_tok,
       |    CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS s FROM ps),
       |w AS (SELECT source, n_tok,
       |    CASE WHEN s > n_tok // s THEN s - 1
       |         WHEN s + 1 <= n_tok // (s + 1) THEN s + 1 ELSE s END AS w_sqrt
       |  FROM s0),
       |t AS (SELECT source, n_tok, w_sqrt,
       |    sum(w_sqrt) OVER () AS w_total,
       |    ($budget * w_sqrt) % sum(w_sqrt) OVER () AS rem,
       |    $budget * w_sqrt // sum(w_sqrt) OVER () AS base
       |  FROM w),
       |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk,
       |    $budget - sum(base) OVER () AS short FROM t)
       |SELECT source, n_tok, w_sqrt,
       |  CAST(w_sqrt * 1000000 // w_total AS BIGINT) AS share_ppm,
       |  CAST(base + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM r""".stripMargin

  /** Mirror of [[operators.TextAnalysis.curriculum]]: tf/df mean-document-
    * frequency difficulty, the easy→hard total order, and the equal-token
    * phase cut — as one windowed prefix sum (value-identical to the repo's
    * two-level bucket form).
    */
  def docCurriculum(phases: Int): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tok,
       |    1000000 * sum(tf.tf * dfr.df) // sum(tf.tf) AS mean_df_e6
       |  FROM tf JOIN dfr USING (token) GROUP BY doc_id),
       |r AS (SELECT doc_id, CAST(mean_df_e6 AS BIGINT) AS mean_df_e6, n_tok,
       |    CAST(row_number() OVER (ORDER BY mean_df_e6 DESC, doc_id) AS BIGINT) AS rnk,
       |    sum(n_tok) OVER (ORDER BY mean_df_e6 DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(n_tok) OVER () AS total
       |  FROM sc)
       |SELECT doc_id, mean_df_e6, n_tok, rnk,
       |  CAST((cum - n_tok) * $phases // total AS BIGINT) AS phase
       |FROM r""".stripMargin

  /** Mirror of [[operators.Similarity.kcenter]]: the farthest-point
    * traversal replayed as UNROLLED CTEs — round i picks the (d2 DESC, id)
    * head of the round-(i−1) min-distance relation, then folds
    * `least(d2, sqdist(v, pick.v))`. Same left-fold squared distance, same
    * double compares, same tie order — every pick is bit-identical.
    */
  def simKcenter(k: Int): String = {
    val rounds = (2 to k).map { i =>
      s"""p$i AS (SELECT vec_id, d2, v FROM d${i - 1}
         |  ORDER BY d2 DESC, vec_id LIMIT 1),
         |d$i AS (SELECT d.vec_id, d.v,
         |    least(d.d2, ${sqdist("d.v", "p.v")}) AS d2
         |  FROM d${i - 1} d, p$i p WHERE d.vec_id <> p.vec_id)""".stripMargin
    }
    val picks = (2 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rnk, vec_id, " +
        s"CAST(round(d2 * 1e6) AS BIGINT) AS cover_d2_e6 FROM p$i")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c1 AS (SELECT v FROM e WHERE vec_id = 0),
       |d1 AS (SELECT e.vec_id, e.v, ${sqdist("e.v", "c.v")} AS d2
       |  FROM e, c1 c WHERE e.vec_id <> 0),
       |${rounds.mkString(",\n|")}
       |SELECT CAST(1 AS BIGINT) AS rnk, CAST(0 AS BIGINT) AS vec_id,
       |  CAST(0 AS BIGINT) AS cover_d2_e6
       |${picks.map(p => "UNION ALL\n|" + p).mkString("\n|")}""".stripMargin
  }

  /** PINNED-FIXTURE oracle (the mm_* graduation pattern, applied round 16
    * to the three remaining rows-only fits): an expected per-cluster
    * assignment census `(j, n)` captured ONCE from the committed sf0.01
    * fixture and inlined as a VALUES literal. These fits (MLlib k-means‖ /
    * bisecting, and the engine's k-means‖ with its seeded driver-PRNG
    * refine) are structurally un-mirrorable in ANSI SQL — no DuckDB CTE
    * replays MLlib's internal float path — but they ARE deterministic:
    * measured identical across fresh JVMs and across local[4]/local[7]/
    * local[32] (round 16; the input is one parquet file, so split planning
    * and every aggregation tree are data-deterministic). The pin therefore
    * upgrades "rows-only" to a real hash gate against the committed
    * fixture. If /root/testdata regenerates, recapture with:
    * `tools/run.sh graft.Verify <sf0.01> /tmp/fit km_fit km_fit_mllib
    * km_fit_bisecting` and transcribe the censuses.
    */
  def pinnedCensus(pairs: Seq[(Int, Long)]): String = {
    val values = pairs.map { case (j, n) => s"($j, $n)" }.mkString(", ")
    s"SELECT CAST(j AS BIGINT) AS j, CAST(n AS BIGINT) AS n " +
      s"FROM (VALUES $values) AS t(j, n)"
  }
}
