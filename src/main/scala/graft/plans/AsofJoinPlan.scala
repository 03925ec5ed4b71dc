package graft.plans

import org.apache.spark.GraftJobShim
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join as a first-class Catalyst citizen — the (c)
  * tier of the custom-operator ladder: a logical node, a planner strategy,
  * and a physical exec with declared distribution + ordering requirements,
  * so EnsureRequirements plans the shuffles and sorts and the merge itself
  * never materializes more than two input iterators.
  *
  * Semantics (matching `Events.asofJoin`, the compositional
  * union+carry-forward form, and ANSI `ASOF LEFT JOIN` with
  * `l.key = r.key AND l.ts >= r.ts`): every left row is emitted exactly
  * once, extended with the greatest right-side `ts <= left.ts` within the
  * same key, or NULL when no such right row (or when the left key/ts is
  * NULL) exists. Same-instant right rows match. Keys and timestamps are
  * LONGs (micros) — the shape every event pipeline normalizes to anyway.
  *
  * Physical shape: both sides hash-cluster on the key and sort by
  * (key, ts); each co-partition then merges with a forward-only two-pointer
  * scan holding O(1) state — one (key, ts) pair — versus the window form's
  * carried last-value column. Per-partition cost is a single linear pass,
  * exactly the plan you want when one day of events is a billion rows.
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    passThrough: Seq[Attribute],
    asofOut: AttributeReference,
    broadcastHint: Option[Boolean] = None) extends BinaryNode {
  override def output: Seq[Attribute] = passThrough :+ asofOut
  // asof_us is MINTED here, not consumed — keeps it out of missingInput
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOut :: Nil)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinNode]] to [[AsofJoinExec]]; a no-op on every other node.
  * Installed idempotently via `spark.experimental.extraStrategies` by the
  * operator constructor, or through `GraftExtensions`.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt, pass, out, hint) =>
      // same decision rule as Spark's own joins: broadcast when the right
      // side's estimated size clears the session threshold (the dimension/
      // state side of an as-of join usually does); hint forces either way
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val broadcast = hint.getOrElse(
        threshold > 0 && r.stats.sizeInBytes <= BigInt(threshold))
      if (broadcast)
        BroadcastAsofJoinExec(lk, rk, lt, rt, pass, out,
          planLater(l), planLater(r)) :: Nil
      else
        AsofJoinExec(lk, rk, lt, rt, pass, out,
          planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** The broadcast form: the right side ships whole to every task
  * (IdentityBroadcastMode), gets indexed once per partition into a
  * key → sorted-ts map, and every left row answers with a binary search —
  * the LEFT SIDE IS NEVER SHUFFLED OR SORTED. This is the plan you want
  * when the right side is dimension-sized state (prices, config
  * generations, session starts) against a 100 TB event stream.
  */
case class BroadcastAsofJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    passThrough: Seq[Attribute], asofOut: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = passThrough :+ asofOut
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOut :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, lt, rk, rt) = (leftKey, leftTs, rightKey, rightTs)
    val outExprs: Seq[Expression] = output
    val joinedSchema: Seq[Attribute] = lOut :+ asofOut
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    GraftJobShim.mapPartitionsInternal(left.execute()) { lIter =>
      val rExtract = UnsafeProjection.create(Seq(rk, rt), rOut)
      // key -> ascending ts array, built once per partition from the
      // broadcast rows (dimension-sized by the strategy's own test)
      val index = new java.util.HashMap[Long, Array[Long]]()
      locally {
        val buf = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
        bcast.value.foreach { row =>
          val e = rExtract(row)
          if (!e.isNullAt(0) && !e.isNullAt(1)) {
            buf.computeIfAbsent(e.getLong(0),
              _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += e.getLong(1)
          }
        }
        buf.forEach { (k, v) => index.put(k, v.toArray.sorted) }
      }
      val lExtract = UnsafeProjection.create(Seq(lk, lt), lOut)
      val resultProj = UnsafeProjection.create(outExprs, joinedSchema)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      lIter.map { lRow =>
        val e = lExtract(lRow)
        extra.update(0, null)
        if (!e.isNullAt(0) && !e.isNullAt(1)) {
          val tss = index.get(e.getLong(0))
          if (tss != null) {
            // greatest ts <= t: binary search for the insertion point
            val t = e.getLong(1)
            var loI = 0
            var hiI = tss.length // first index with ts > t
            while (loI < hiI) {
              val mid = (loI + hiI) >>> 1
              if (tss(mid) <= t) loI = mid + 1 else hiI = mid
            }
            if (loI > 0) extra.update(0, tss(loI - 1))
          }
        }
        resultProj(joined(lRow, extra))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)
}

case class AsofJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    passThrough: Seq[Attribute], asofOut: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = passThrough :+ asofOut
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOut :: Nil)

  /** Hash-cluster both sides on the key: EnsureRequirements inserts
    * compatible exchanges (or none, when an upstream op already partitioned
    * this way — the same reuse contract shuffled joins get).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  /** (key, ts) ascending on both sides — the merge's only precondition. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, lt, rk, rt) = (leftKey, leftTs, rightKey, rightTs)
    val outExprs: Seq[Expression] = output
    val joinedSchema: Seq[Attribute] = lOut :+ asofOut
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lExtract = UnsafeProjection.create(Seq(lk, lt), lOut)
      val rExtract = UnsafeProjection.create(Seq(rk, rt), rOut)
      val resultProj = UnsafeProjection.create(outExprs, joinedSchema)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)

      new Iterator[InternalRow] {
        // the right cursor: next unconsumed (key, ts), nulls skipped
        private var rHas = false
        private var rKey = 0L
        private var rTs = 0L
        // the candidate: greatest right ts <= current left ts for lastKey
        private var haveLast = false
        private var lastKey = 0L
        private var lastTs = 0L

        private def advanceRight(): Unit = {
          rHas = false
          while (!rHas && rIter.hasNext) {
            val e = rExtract(rIter.next())
            if (!e.isNullAt(0) && !e.isNullAt(1)) {
              rKey = e.getLong(0); rTs = e.getLong(1); rHas = true
            }
          }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val e = lExtract(lRow)
          if (e.isNullAt(0) || e.isNullAt(1)) {
            extra.update(0, null)
            return resultProj(joined(lRow, extra))
          }
          val k = e.getLong(0)
          val t = e.getLong(1)
          // consume right rows at or before (k, t); keys below k can never
          // match again (left keys only grow), rows for key k refine the
          // candidate monotonically
          while (rHas && (rKey < k || (rKey == k && rTs <= t))) {
            if (rKey == k) { haveLast = true; lastKey = k; lastTs = rTs }
            advanceRight()
          }
          if (haveLast && lastKey == k) extra.update(0, lastTs)
          else extra.update(0, null)
          resultProj(joined(lRow, extra))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
