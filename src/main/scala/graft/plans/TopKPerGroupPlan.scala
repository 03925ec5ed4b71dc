package graft.plans

import org.apache.spark.GraftJobShim
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BaseOrdering, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator top-k-per-group — the second custom plan tier next to
  * [[AsofJoinNode]], built for the single most repeated shape in this
  * engine: `row_number().over(partitionBy(g).orderBy(o)) <= k`.
  *
  * The window form shuffles and sorts EVERY row of every group before the
  * rank filter drops all but k of them. This operator plans the filter as
  * a two-phase physical pipeline, the same split partial aggregation gets:
  *
  *  - [[PartialTopKPerGroupExec]] runs BELOW the exchange, map-side: each
  *    input partition keeps a bounded buffer of at most k candidate rows
  *    per group it sees, so the shuffle carries at most
  *    k·|groups per partition| rows instead of the whole relation. At
  *    100 TB with k = 10 that is the difference between shuffling
  *    terabytes and shuffling megabytes.
  *  - [[FinalTopKPerGroupExec]] runs above it, clustered on the group key
  *    and sorted (group, order) by EnsureRequirements — both on the
  *    already-pruned relation — and streams out each group's first k rows
  *    with a minted LongType rank (exactly `row_number`'s 1-based,
  *    gap-free numbering).
  *
  * Determinism contract (same as the window form's): `sortOrder` must be a
  * TOTAL order within each group — callers append a unique tiebreak column
  * exactly as every `row_number` site in this repo already does. Rows and
  * groups with NULLs order by SortOrder's standard null rules, matching
  * the window sort.
  */
case class TopKPerGroupNode(
    child: LogicalPlan,
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankOut: AttributeReference) extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankOut
  // the rank is MINTED here, not consumed — keeps it out of missingInput
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankOut :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Plans [[TopKPerGroupNode]] as final-over-partial; a no-op elsewhere.
  * Installed idempotently via `spark.experimental.extraStrategies`.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(child, g, so, k, rank) =>
      FinalTopKPerGroupExec(g, so, k, rank,
        PartialTopKPerGroupExec(g, so, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared bounded per-group candidate store: group key (UnsafeRow copy) →
  * up to `2k` buffered rows, compacted back to the k best by `ord`
  * whenever a group's buffer doubles — O(k) space per group and amortized
  * O(log k) comparisons per row, with no full-partition sort anywhere.
  */
private[plans] final class GroupTopKBuffer(
    keyProj: UnsafeProjection, ord: BaseOrdering, k: Int) {
  private val groups =
    new java.util.HashMap[UnsafeRow, scala.collection.mutable.ArrayBuffer[InternalRow]]()

  def insert(row: InternalRow): Unit = {
    val key = keyProj(row)
    var buf = groups.get(key)
    if (buf == null) {
      buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      groups.put(key.copy(), buf)
    }
    buf += row.copy()
    if (buf.length >= 2 * k) {
      val kept = buf.sortInPlace()(ord).take(k)
      buf.clear()
      buf ++= kept
    }
  }

  /** The surviving rows, each group cut to its k best (group order across
    * groups is hash-map order — the downstream exchange+sort re-establishes
    * whatever the final phase needs).
    */
  def drain(): Iterator[InternalRow] = {
    val it = groups.values().iterator()
    new Iterator[Iterator[InternalRow]] {
      override def hasNext: Boolean = it.hasNext
      override def next(): Iterator[InternalRow] = {
        val buf = it.next()
        buf.sortInPlace()(ord).take(k).iterator
      }
    }.flatten
  }
}

/** Map-side pruning phase: emits at most k rows per (group, partition).
  * No distribution requirement — it runs where the data already is,
  * exactly like a partial aggregate.
  */
case class PartialTopKPerGroupExec(
    groupExprs: Seq[Expression], sortOrder: Seq[SortOrder], k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val (g, so, kk) = (groupExprs, sortOrder, k)
    GraftJobShim.mapPartitionsInternal(child.execute()) { iter =>
      val buffer = new GroupTopKBuffer(
        UnsafeProjection.create(g, childOut),
        RowOrdering.create(so, childOut), kk)
      iter.foreach(buffer.insert)
      buffer.drain()
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerGroupExec =
    copy(child = newChild)
}

/** Reduce phase: clustered on the group key and sorted (group, order) —
  * both inserted by EnsureRequirements over the PRUNED relation — then one
  * streaming pass numbers each group's first k rows.
  */
case class FinalTopKPerGroupExec(
    groupExprs: Seq[Expression], sortOrder: Seq[SortOrder], k: Int,
    rankOut: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankOut
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankOut :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(groupExprs.map(SortOrder(_, Ascending)) ++ sortOrder)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val (g, kk) = (groupExprs, k)
    val outExprs: Seq[Expression] = output
    val joinedSchema: Seq[Attribute] = childOut :+ rankOut
    GraftJobShim.mapPartitionsInternal(child.execute()) { iter =>
      val keyProj = UnsafeProjection.create(g, childOut)
      val resultProj = UnsafeProjection.create(outExprs, joinedSchema)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      var curKey: UnsafeRow = null
      var rank = 0L
      iter.flatMap { row =>
        val key = keyProj(row)
        if (curKey == null || key != curKey) {
          curKey = key.copy()
          rank = 0L
        }
        rank += 1
        if (rank <= kk) {
          extra.update(0, rank)
          Iterator.single(resultProj(joined(row, extra)))
        } else Iterator.empty
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKPerGroupExec =
    copy(child = newChild)
}
