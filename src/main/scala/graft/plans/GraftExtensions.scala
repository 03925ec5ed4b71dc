package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point: registers graft's native expressions
  * with the SQL function registry.
  *
  * Use either at session build time:
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * or via config `spark.sql.extensions=graft.plans.GraftExtensions`, or
  * post-hoc on a live session with [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("sq_dist"),
      SqDist.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SqDist(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      Dot.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Dot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("code_sq_dist"),
      CodeSqDist.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CodeSqDist(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("poly_hash"),
      PolyHash.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PolyHash(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      WordShingles.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordShingles(exprs(0), GraftExtensions.intArg(exprs(1), "word_shingles"))))
    e.injectFunction((
      FunctionIdentifier("shingle_ids"),
      ShingleIds.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleIds(exprs(0), GraftExtensions.intArg(exprs(1), "shingle_ids"))))
    e.injectFunction((
      FunctionIdentifier("word_grams"),
      WordGrams.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordGrams(exprs(0), GraftExtensions.intArg(exprs(1), "word_grams"))))
    e.injectFunction((
      FunctionIdentifier("token_ids"),
      TokenIds.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TokenIds(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("char_trigrams"),
      CharTrigrams.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CharTrigrams(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      MinhashSigs.info,
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashSigs(exprs(0), GraftExtensions.intArg(exprs(1), "minhash_sigs"))))
    e.injectFunction((
      FunctionIdentifier("hll_sketch"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HllSketch].getName, "hll_sketch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HllSketch(exprs(0), GraftExtensions.intArg(exprs(1), "hll_sketch"))
          .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("bloom_sketch"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[BloomSketch].getName, "bloom_sketch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BloomSketch(exprs(0), GraftExtensions.intArg(exprs(1), "bloom_sketch"),
          GraftExtensions.intArg(exprs(2), "bloom_sketch"))
          .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[BloomMightContain].getName, "bloom_might_contain"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BloomMightContain(exprs(0), exprs(1),
          GraftExtensions.intArg(exprs(2), "bloom_might_contain"),
          GraftExtensions.intArg(exprs(3), "bloom_might_contain"))))
  }
}

object GraftExtensions {
  /** Extract a foldable int argument (SQL-surface `n` parameters). */
  private[plans] def intArg(
      e: org.apache.spark.sql.catalyst.expressions.Expression, fn: String): Int = {
    require(e.foldable, s"$fn: n must be a literal")
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(
        s"$fn: n must be an integer literal, got $other")
    }
  }

  /** Register on an already-built session (tests, driver-owned sessions).
    * Mirrors [[GraftExtensions.apply]]: every function, same names.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "sq_dist", exprs => SqDist(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => Dot(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "code_sq_dist", exprs => CodeSqDist(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "poly_hash", exprs => PolyHash(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "word_shingles", exprs => WordShingles(exprs(0), intArg(exprs(1), "word_shingles")), "built-in")
    reg.createOrReplaceTempFunction(
      "shingle_ids", exprs => ShingleIds(exprs(0), intArg(exprs(1), "shingle_ids")), "built-in")
    reg.createOrReplaceTempFunction(
      "word_grams", exprs => WordGrams(exprs(0), intArg(exprs(1), "word_grams")), "built-in")
    reg.createOrReplaceTempFunction(
      "token_ids", exprs => TokenIds(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "char_trigrams", exprs => CharTrigrams(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sigs", exprs => MinhashSigs(exprs(0), intArg(exprs(1), "minhash_sigs")), "built-in")
    reg.createOrReplaceTempFunction(
      "hll_sketch",
      exprs => HllSketch(exprs(0), intArg(exprs(1), "hll_sketch")).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "bloom_sketch",
      exprs => BloomSketch(exprs(0), intArg(exprs(1), "bloom_sketch"),
        intArg(exprs(2), "bloom_sketch")).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "bloom_might_contain",
      exprs => BloomMightContain(exprs(0), exprs(1),
        intArg(exprs(2), "bloom_might_contain"),
        intArg(exprs(3), "bloom_might_contain")),
      "built-in")
  }
}

/** Column-API surface for graft's native expressions. */
object native {
  import org.apache.spark.sql.{Column, GraftColumnShim}
  import org.apache.spark.sql.functions._

  /** Codegen'd squared distance — drop-in, bit-identical replacement for
    * `VectorOps.sqDist` (see [[SqDist]]).
    */
  def sq_dist(a: Column, b: Column): Column =
    GraftColumnShim.column(SqDist(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  /** Codegen'd dot product — bit-identical to `VectorOps.dot`. */
  def dot(a: Column, b: Column): Column =
    GraftColumnShim.column(Dot(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  /** Codegen'd integer code distance — the SQ8 hot loop, bit-identical to
    * the `aggregate(zip_with(...))` HOF form (see [[CodeSqDist]]).
    */
  def code_sq_dist(a: Column, b: Column): Column =
    GraftColumnShim.column(CodeSqDist(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  /** Codegen'd polynomial codepoint hash — identical to `Dedup.tokenId`. */
  def poly_hash(s: Column): Column =
    GraftColumnShim.column(PolyHash(GraftColumnShim.expression(s)))

  /** Parameterized codegen'd codepoint hash `(h·base + cp) mod m` — the
    * content-fingerprint per-char fold (see [[PolyHashBase]]).
    */
  def poly_hash_base(s: Column, base: Long, mod: Long): Column =
    GraftColumnShim.column(PolyHashBase(GraftColumnShim.expression(s), base, mod))

  /** Codegen'd rolling fold `(h·base + x) mod m` over `array<long>` — the
    * token-id sequence fingerprint (see [[PolyFold]]).
    */
  def poly_fold(ids: Column, base: Long, mod: Long): Column =
    GraftColumnShim.column(PolyFold(GraftColumnShim.expression(ids), base, mod))

  /** Distinct word n-gram shingles — identical to `Dedup.shingles` over
    * `split(text, " ")` (see [[WordShingles]]).
    */
  def word_shingles(text: Column, n: Int): Column =
    GraftColumnShim.column(WordShingles(GraftColumnShim.expression(text), n))

  /** Distinct poly_hash ids of the distinct shingles — the fused
    * `array_distinct(transform(word_shingles(text, n), poly_hash))`.
    */
  def shingle_ids(text: Column, n: Int): Column =
    GraftColumnShim.column(ShingleIds(GraftColumnShim.expression(text), n))

  /** ALL positional word n-grams, duplicates kept, empty when shorter than
    * n tokens (see [[WordGrams]]) — posexplode this to get (pos, gram)
    * postings in one codegen'd pass.
    */
  def word_grams(text: Column, n: Int): Column =
    GraftColumnShim.column(WordGrams(GraftColumnShim.expression(text), n))

  /** Per-token poly_hash ids, duplicates kept — the fused
    * `transform(split(text, " "), poly_hash)`.
    */
  def token_ids(text: Column): Column =
    GraftColumnShim.column(TokenIds(GraftColumnShim.expression(text)))

  /** Content-defined chunk partition — the fused, codegen'd twin of
    * `Dedup.cdcChunkArray` (see [[CdcChunks]]; parity pinned in DedupSpec).
    */
  def cdc_chunks(text: Column, mod: Int): Column =
    GraftColumnShim.column(CdcChunks(GraftColumnShim.expression(text), mod))

  /** Distinct lowercase char trigrams — the fused
    * `array_distinct(transform(sequence(...), i -> substring(lower(t), i, 3)))`
    * (see [[CharTrigrams]]).
    */
  def char_trigrams(text: Column): Column =
    GraftColumnShim.column(CharTrigrams(GraftColumnShim.expression(text)))

  /** All n MinHash mins over an id array in one codegen'd pass — the fused
    * per-hash `array_min(transform(ids, x -> (x·a+b) % P))` (see
    * [[MinhashSigs]]).
    */
  def minhash_sigs(ids: Column, numHashes: Int): Column =
    GraftColumnShim.column(MinhashSigs(GraftColumnShim.expression(ids), numHashes))

  /** Single-expression elementwise long-vector sum (see [[VectorSumLong]]).
    * `c` must be `array<long>` (pre-rounded fixed-point values).
    */
  def vector_sum_long(c: Column, dim: Int): Column =
    GraftColumnShim.column(
      VectorSumLong(GraftColumnShim.expression(c), dim).toAggregateExpression())

  /** Count-min sketch aggregate over `array<long>` id rows (see
    * [[CmsSketch]]): one d×w long matrix summarizes any number of rows.
    */
  def cms_sketch(ids: Column, w: Int = 1024, d: Int = 4): Column =
    GraftColumnShim.column(
      CmsSketch(GraftColumnShim.expression(ids), w, d).toAggregateExpression())

  /** Point estimate from a [[CmsSketch]] matrix — min over the id's d
    * buckets, as plain element_at/least columns (relational end to end).
    */
  def cms_estimate(cms: Column, id: Column, w: Int = 1024, d: Int = 4): Column =
    (0 until d).map { i =>
      element_at(cms,
        (((id * CmsSketch.A(i) + CmsSketch.B(i)) % CmsSketch.P) % w +
          i * w + 1).cast("int"))
    }.reduce(least(_, _))

  /** HyperLogLog register-array aggregate (see [[HllSketch]]): m = 2^p
    * one-byte registers summarize the distinct count of any number of
    * nonnegative bigint ids; arrays for different slices union by
    * elementwise max (relationally: posexplode + groupBy(pos).max — see
    * q_hll's merged ALL row).
    */
  def hll_sketch(id: Column, p: Int = 8): Column =
    GraftColumnShim.column(
      HllSketch(GraftColumnShim.expression(id), p).toAggregateExpression())

  /** `1 << n` with a COLUMN shift (the functions-API `shiftleft` only
    * takes a literal shift) — exact powers of two as longs.
    */
  private def shl1(n: Column): Column =
    GraftColumnShim.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      GraftColumnShim.expression(lit(1L)), GraftColumnShim.expression(n)))

  /** EXACT integer HLL denominator `Σ_j 2^(33 − M_j)` over a register
    * array — the 2^33-scaled `Σ 2^-M_j` harmonic sum (every term an exact
    * long since M_j ≤ 33−p+... ≤ 29 for p ≥ 4; empty registers contribute
    * 2^33). Hash-exact across engines, so it can ride in oracle-checked
    * output while the floating estimate derives from it in one division.
    */
  def hll_denom_x2p33(regs: Column): Column =
    aggregate(regs, lit(0L), (acc, r) => acc + shl1(lit(33) - r))

  /** Count of zero registers — the linear-counting input, exported so
    * small-n callers can apply the correction downstream.
    */
  def hll_zeros(regs: Column): Column =
    size(filter(regs, r => r === 0)).cast("long")

  /** RAW HLL estimate `floor(alpha_m · m² / Σ 2^-M_j + 0.5)` as a BIGINT.
    * alpha·m²·2^33 folds to one double constant whose only rounding is
    * alpha's own (m and 2^33 are exact powers of two), and the denominator
    * is the exact integer [[hll_denom_x2p33]] — so the estimate is a single
    * correctly-rounded IEEE division, bit-identical in any engine
    * evaluating the same formula (the DuckDB oracle does, literally).
    * Valid for n ≳ 2.5·m; size p accordingly.
    */
  def hll_estimate(regs: Column, p: Int = 8): Column = {
    val m = 1 << p
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    val c = alpha * m * m * 8589934592.0 // · 2^33, exact exponent shifts
    floor(lit(c) / hll_denom_x2p33(regs).cast("double") + lit(0.5)).cast("long")
  }

  /** Bloom filter aggregate over nonnegative bigint ids (see
    * [[BloomSketch]]): mBits/32 longs of 32-bit words, merged by OR.
    */
  def bloom_sketch(id: Column, mBits: Int = 1024, k: Int = 3): Column =
    GraftColumnShim.column(
      BloomSketch(GraftColumnShim.expression(id), mBits, k).toAggregateExpression())

  /** Codegen'd membership probe against a [[BloomSketch]] word array —
    * true iff all k bits are set; geometry must match the sketch's.
    */
  def bloom_might_contain(words: Column, id: Column,
      mBits: Int = 1024, k: Int = 3): Column =
    GraftColumnShim.column(BloomMightContain(
      GraftColumnShim.expression(words), GraftColumnShim.expression(id), mBits, k))

  /** The silhouette pair stage as one codegen'd pass (see [[PairDistStats]]);
    * the sample rides in the plan, value-identical to the O(n²) pair join.
    */
  def pair_dist_stats(i: Column, y: Column, sampleIds: Array[Long],
      sampleJs: Array[Long], sampleYs: Array[Array[Double]], dScale: Double): Column =
    GraftColumnShim.column(PairDistStats(
      GraftColumnShim.expression(i), GraftColumnShim.expression(y),
      sampleIds, sampleJs, sampleYs, dScale))

  /** Squared distance to the nearest of a literal centroid set as ONE
    * codegen'd call — bit-identical, faster replacement for the interpreted
    * `VectorOps.nearestSqDist` HOF fold (see [[NearestSqDistLit]]).
    */
  def nearest_sq_dist(y: Column, cs: Seq[Seq[Double]]): Column =
    GraftColumnShim.column(NearestSqDistLit(
      GraftColumnShim.expression(y), cs.map(_.toArray).toArray))

  /** `VectorOps.nearestId` with the native distance kernel. */
  def nearestIdNative(y: Column, ids: Seq[Long], cs: Seq[Seq[Double]]): Column =
    nearestIdCols(y, typedlit(ids), typedlit(cs))

  /** [[nearestIdNative]] with the centroid set supplied as COLUMNS
    * (`ids: array<long>`, `cs: array<array<double>>`) instead of literals —
    * same fold order and tie-breaking, so assignments are identical. Lets
    * iterative callers ship centroids as broadcast DATA: the plan text stays
    * constant across rounds instead of being re-analyzed for every new
    * literal set. The `zip_with`/`aggregate` fold itself is not compiled —
    * Spark evaluates these higher-order functions interpreted, per row.
    */
  def nearestIdCols(y: Column, ids: Column, cs: Column): Column = {
    val pairs = zip_with(ids, cs,
      (j, c) => struct(j.as("j"), sq_dist(c, y).as("d")))
    aggregate(
      pairs,
      struct(lit(-1L).as("j"), lit(Double.MaxValue).as("d")),
      (acc, x) => when(x.getField("d") < acc.getField("d"), x).otherwise(acc),
      acc => acc.getField("j"))
  }
}
