package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, JoinedRow, GenericInternalRow,
  RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Native as-of join: whole-operator Catalyst extension (SURVEY §7.3
  * preference (c) — logical node + planner strategy + physical operator).
  *
  * Semantics: for each left row, attach the single right row with the same
  * key and the greatest `rightTs <= leftTs` (left-outer — unmatched left
  * rows keep null right columns; null keys/timestamps never match). This is
  * the lookup-at-event-time the reference performs per record against
  * Phoenix (app/function/DimAsyncFunction.java:17-71, cache-aside reads at
  * arrival time) — here resolved exactly against a versioned history.
  *
  * Why a custom operator rather than a composition of built-ins: a
  * union+window form (tag both sides, union on (key, ts), carry the latest
  * right payload forward — AsOfJoinNativeSpec's oracle) must funnel BOTH
  * inputs through one window operator — the fact stream pays a
  * full sort alongside the history and every fact row carries a null-padded
  * copy of the dim payload struct through the shuffle. The built-in logical
  * `AsOfJoin` (Catalyst's pandas `merge_asof` node) is worse at scale: the
  * optimizer rewrites it to an expanded equi-join + `min_by` aggregate —
  * O(|left| × versions-per-key) intermediate pairs. This operator is the
  * classic streaming merge instead: each side shuffles ONCE on its own key,
  * sorts (key, ts) inside its own partitions, and a single forward pass
  * zips the two sorted streams with O(1) state (one candidate row per key).
  * Cost is O(|left| + |history|) rows moved, no pair expansion, no padded
  * union rows — the shape that survives 100 TB facts against deep dim
  * histories.
  *
  * At 1000 executors: both children's ClusteredDistribution requirements let
  * EnsureRequirements co-partition the sides (and reuse an existing
  * partitioning when an upstream stage already hashed on the key); the merge
  * itself is per-partition with no driver involvement and no buffering
  * beyond one candidate row.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    toleranceMicros: Option[Long] = None) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs matching, non-empty key lists")
  require(toleranceMicros.forall(_ >= 0L), "as-of tolerance must be >= 0")
  // the merge orderings (keyOrd/tsOrd in AsOfJoinExec) are built from the
  // LEFT side's types but compare RIGHT-side projections too — a type
  // mismatch (int vs bigint key) would compare garbage silently, so fail at
  // analysis time instead
  leftKeys.zip(rightKeys).zipWithIndex.foreach { case ((l, r), i) =>
    require(l.dataType == r.dataType,
      s"as-of join key #$i type mismatch: left is ${l.dataType.sql}, " +
        s"right is ${r.dataType.sql} — cast one side explicitly")
  }
  require(leftTs.dataType == rightTs.dataType,
    s"as-of join time-column type mismatch: left is ${leftTs.dataType.sql}, " +
      s"right is ${rightTs.dataType.sql} — cast one side explicitly")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Self-installed by
  * [[AsOfJoinNative.install]] (through `spark.experimental.extraStrategies`)
  * whenever [[AsOfJoinNative.asOfKeys]] builds a plan, so no session config
  * is needed.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, tol) =>
      AsOfJoinExec(lk, rk, lts, rts, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join execution: children hash-partitioned on their keys
  * and sorted by (keys, ts) ascending (nulls first), then one forward merge
  * pass per partition.
  *
  * State per partition = ONE candidate row (the latest right row at or
  * before the current left timestamp for the current key) — advancing the
  * left cursor can only move the candidate forward, so consumed right rows
  * never need revisiting. Null-keyed / null-ts rows sort first under the
  * required NULLS FIRST ordering and are drained or emitted unmatched
  * before any real key is reached.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    toleranceMicros: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  require(toleranceMicros.isEmpty ||
    (leftTs.dataType == org.apache.spark.sql.types.TimestampType &&
      rightTs.dataType == org.apache.spark.sql.types.TimestampType),
    "as-of tolerance requires TimestampType time columns on both sides")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  // one left row in, one row out, in left order — both properties survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTs = leftTs; val rTs = rightTs
    val lOutput = left.output; val rOutput = right.output
    val keyTypes = lKeys.map(_.dataType)
    val tsType = lTs.dataType
    val tol = toleranceMicros

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeys, rOutput)
      val lTsProj = UnsafeProjection.create(Seq(lTs), lOutput)
      val rTsProj = UnsafeProjection.create(Seq(rTs), rOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
      val nullRight = new GenericInternalRow(rOutput.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // the latest right row consumed for its key — valid iff candKey == lk
      var candKey: InternalRow = null
      var candRow: InternalRow = null
      var candTsMicros: Long = Long.MinValue

      lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        val lt = lTsProj(lRow)
        numOutputRows += 1
        if (lk.anyNull || lt.isNullAt(0)) {
          joined(lRow, nullRight) // null key/ts never matches (join semantics)
        } else {
          var done = false
          while (!done && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            if (rk.anyNull) { rBuf.next(); () } // null right keys never match
            else {
              val kc = keyOrd.compare(rk, lk)
              if (kc < 0) { rBuf.next(); () }   // key fully in the past
              else if (kc > 0) done = true      // future key — stop
              else {
                val rt = rTsProj(rBuf.head)
                if (rt.isNullAt(0)) { rBuf.next(); () } // null ts never matches
                else if (tsOrd.compare(rt, lt) <= 0) {
                  // consume as the new candidate (shuffle rows are reused
                  // buffers — copy before holding across iterations)
                  candRow = rBuf.next().copy()
                  candKey = rKeyProj(candRow).copy()
                  if (tol.isDefined) candTsMicros = rTsProj(candRow).getLong(0)
                } else done = true              // version after lt — keep for later lefts
              }
            }
          }
          val inTol = tol.forall(t => lt.getLong(0) - candTsMicros <= t)
          if (candKey != null && keyOrd.compare(candKey, lk) == 0 && inTol) {
            numMatched += 1
            joined(lRow, candRow)
          } else joined(lRow, nullRight)
        }
      }
    }
  }
}
