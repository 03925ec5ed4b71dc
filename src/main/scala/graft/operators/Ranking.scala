package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Total-order operations that survive 100 TB: the naive form —
  * `row_number() OVER (ORDER BY …)` with no partition key — plans a
  * SINGLE-partition window, i.e. every row through one task. These are the
  * distributed equivalents.
  */
object Ranking {

  /** Global rank over a total order, terasort-shaped: range-partition on
    * the order columns (RangePartitioner's deterministic-seed sample picks
    * the bounds), sort within each partition, then assign
    * `rank = partition offset + local position` via `zipWithIndex` — whose
    * two internal jobs share the one shuffle, so the data moves once and
    * no task ever sees more than its own range slice.
    *
    * The order must be TOTAL (include a unique tie-break column): ranks are
    * then invariant to input partitioning and parallelism. Output appends
    * `rankCol` (1-based) to the input schema.
    *
    * (Row-conversion note: this materializes external `Row`s; the
    * InternalRow/`toRdd` twin of the same shape drops that overhead if the
    * rank ever shows up hot in a profile.)
    */
  def globalRank(df: DataFrame, order: Seq[Column], rankCol: String = "rnk",
      parts: Int = 0): DataFrame =
    globalRankAndCount(df, order, rankCol, parts)._1

  /** [[globalRank]] plus the TOTAL row count, recovered from the same
    * per-partition size pass `zipWithIndex` runs internally (made explicit
    * here) — so a caller needing n (ntile's bucket arithmetic) gets it for
    * free instead of launching `df.count()`, which builds a fresh physical
    * plan sharing no shuffle with the ranked one and therefore re-evaluates
    * the ENTIRE upstream (for an aggregate-derived input like the
    * LM-score deciles, a third corpus-scale pass). Both jobs here run over
    * the one RDD instance, so the range shuffle is written once and the
    * second pass resumes from its files.
    */
  def globalRankAndCount(df: DataFrame, order: Seq[Column],
      rankCol: String = "rnk", parts: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
    val schema = df.schema.add(rankCol, LongType, nullable = false)
    // InternalRow path (r19, the twin the scaladoc above promised): the
    // old `.rdd` deserialized EVERY row to an external Row in BOTH passes
    // (the count pass materialized rows just to drop them) and re-boxed
    // the whole row again via Row.fromSeq — measured as the dominant task
    // time of q_zorder_skip (3 ranks over lineitem) and doc_ppl_buckets.
    // `toRdd` streams the executed plan's unsafe rows; the rank is
    // appended by a codegen'd UnsafeProjection (one compact copy per row,
    // no boxing). Both jobs still run over the ONE RDD instance, so the
    // range shuffle is written once and the rank pass resumes from its
    // files, exactly as before.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    val rdd = ranged.queryExecution.toRdd
    val counts = org.apache.spark.GraftJobShim.run(rdd, "Ranking.globalRank.count") { (_, it) =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      c
    }
    val offsets = counts.scanLeft(0L)(_ + _)
    val withRank = rdd.mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      var r = offsets(i)
      it.map { row =>
        r += 1
        extra.update(0, r)
        proj(joined(row, extra)): InternalRow
      }
    }
    (org.apache.spark.sql.GraftPlanShim.ofInternalRows(spark, withRank, schema),
      offsets.last)
  }

  /** Exact `ntile(k)` over a TOTAL order, terasort-shaped: [[globalRank]]
    * plus the closed-form ntile bucket arithmetic — with n rows the first
    * `n mod k` buckets hold `n div k + 1` rows, the rest `n div k`, rows
    * assigned in rank order — which is EXACTLY the SQL window `ntile(k)`
    * (both engines), so swapping this in for the single-partition
    * `ntile(k) OVER (ORDER BY …)` changes the plan, never a value.
    *
    * Construction-eager like [[globalRank]] itself; the row count comes
    * from [[globalRankAndCount]]'s own partition-size pass, so there is no
    * extra job and never a re-evaluation of the (possibly aggregate-
    * derived) input.
    */
  def globalNtile(df: DataFrame, order: Seq[Column], k: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(k >= 1, s"ntile k must be >= 1, got $k")
    val (ranked, n) = globalRankAndCount(df, order, "__gn_rnk")
    val q = n / k
    val r = n % k
    val cut = r * (q + 1) // ranks 1..cut land in the q+1-sized buckets
    val qSafe = math.max(q, 1L) // q = 0 ⟹ rank > cut unreachable
    import org.apache.spark.sql.functions.{col, expr}
    ranked
      .withColumn(bucketCol, expr(
        s"CAST(CASE WHEN __gn_rnk <= $cut THEN (__gn_rnk - 1) div ${q + 1}" +
          s" ELSE $r + (__gn_rnk - 1 - $cut) div $qSafe END + 1 AS BIGINT)"))
      .drop(col("__gn_rnk"))
  }
}
