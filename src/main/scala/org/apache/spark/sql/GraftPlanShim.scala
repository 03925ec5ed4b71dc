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
}
