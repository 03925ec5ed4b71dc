package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for wrapping a hand-built `LogicalPlan` into a `DataFrame` —
  * `Dataset.ofRows` is `private[sql]` in Spark 4, so this lives in the
  * `org.apache.spark.sql` package. Only used by graft's custom logical
  * operators (as-of join).
  */
object GraftPlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap an `RDD[InternalRow]` into a `DataFrame` without a per-row
    * external-Row conversion — `internalCreateDataFrame` is `private[sql]`
    * in Spark 4. Used by `graft.operators.Ranking`'s terasort-shaped rank,
    * whose two passes otherwise deserialized every row to an external
    * `Row` (r19: the conversion dominated the rank's task time).
    */
  def ofInternalRows(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The generator behind `rand(seed)` — `XORShiftRandom` is
    * `private[spark]`. `rand(seed)` draws
    * `xorShiftRandom(seed + partitionIndex).nextDouble()` per evaluated
    * row; used by `graft.operators.KMeans`'s k-means++ round, which
    * replays it.
    */
  def xorShiftRandom(seed: Long): java.util.Random =
    new org.apache.spark.util.random.XORShiftRandom(seed)

  /** The error `element_at(a, index)` raises under ANSI on an array of
    * `n` elements (`INVALID_ARRAY_INDEX_IN_ELEMENT_AT`) —
    * `QueryExecutionErrors` is `private[sql]`. Used by
    * `graft.operators.KMeans`'s placement box, which replays
    * `min`/`max(element_at(Y, d + 1))`.
    */
  def elementAtError(index: Int, n: Int): Throwable =
    errors.QueryExecutionErrors.invalidElementAtIndexError(index, n, null)

  /** `a * b` and `a + b` on longs as Spark evaluates them under ANSI
    * (`ARITHMETIC_OVERFLOW` on overflow) — `MathUtils` is `private[sql]`.
    * Used by `graft.operators.Quality`'s gap reference sets, which replay
    * `i * A + C`.
    */
  def multiplyExact(a: Long, b: Long): Long = catalyst.util.MathUtils.multiplyExact(a, b)
  def addExact(a: Long, b: Long): Long = catalyst.util.MathUtils.addExact(a, b)
}
