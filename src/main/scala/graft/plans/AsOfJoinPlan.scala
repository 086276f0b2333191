package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the (c)-tier Catalyst extension (SURVEY §7.4
  * phase 2): a first-class operator instead of the union+window rewrite.
  *
  * Semantics: for each left row, the single right row within the same key
  * group that is
  *  - backward (default): greatest `rightTs <= leftTs` (`<` when strict);
  *  - forward: least `rightTs >= leftTs` (`>` when strict);
  * optionally within `tolerance` ticks of the left timestamp. Unmatched
  * left rows keep nulls (left-outer flavor) — the tick-DB "latest quote
  * for each trade" / "next fill after each order" primitives the
  * reference's table surface promises (/root/reference/presented.h:409–430).
  *
  * Physical contract: both children hash-clustered on the equi-keys and
  * sorted by (keys, ts) — Spark inserts exchanges/sorts from
  * `requiredChildDistribution/Ordering`, so the operator composes with
  * AQE and bucketing (pre-bucketed tables elide the shuffle entirely).
  * Per partition it is one forward two-pointer merge: O(|L|+|R|) time,
  * O(1) state (a single held right row) — strictly less memory than the
  * window rewrite, which buffers the whole union per key frame.
  *
  * Timestamps must be non-null and physically long: LongType epochs, or
  * TimestampType/TimestampNTZType (both are long µs internally — the exec
  * reads the axis with getLong, so timestamp axes need no cast and
  * `tolerance` is in µs). A null ts has no position on the merge axis, so
  * the exec fails fast instead of silently treating it as epoch 0 (filter
  * nulls upstream if they are expected).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    strict: Boolean,
    tolerance: Option[Long] = None,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  /** One row per left row: the left side's row count, and its size scaled
    * by output width over left width, as `Project` scales. Spark's default
    * for a binary node is the product of both sides' sizes. */
  override def stats: Statistics = {
    val l = left.stats
    val size = l.sizeInBytes * EstimationUtils.getSizePerRow(output) /
      EstimationUtils.getSizePerRow(left.output)
    Statistics(sizeInBytes = size.max(1), rowCount = l.rowCount)
  }
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(left = l, right = r)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    strict: Boolean,
    tolerance: Option[Long],
    forward: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // float/double equi-keys: 0.0 and -0.0 are DIFFERENT under
  // Double.compare (the merge's RowOrdering, the sort, AND the hash)
  // but equal under SQL join equality — normalize the key expressions
  // everywhere they flow (distribution, ordering, merge projection) so
  // ±0.0 rows land in one partition, sort as one group with a monotone
  // ts run, and compare equal in the merge. NaNs likewise collapse to
  // one canonical NaN, matching Spark's own join-key normalization.
  // The optimizer-rule path arrives pre-normalized (idempotent); this
  // covers direct construction.
  private def normKeys(ks: Seq[Expression]): Seq[Expression] = ks.map { k =>
    k.dataType match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(k)
      case _ => k
    }
  }
  private lazy val lKeyNorm = normKeys(leftKeys)
  private lazy val rKeyNorm = normKeys(rightKeys)

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(lKeyNorm), ClusteredDistribution(rKeyNorm))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (lKeyNorm :+ leftTs).map(SortOrder(_, Ascending)),
    (rKeyNorm :+ rightTs).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = lKeyNorm; val rKeyExprs = rKeyNorm
    val lTsExpr = leftTs; val rTsExpr = rightTs
    val lOut = left.output; val rOut = right.output
    val strictLocal = strict
    val forwardLocal = forward
    val tolLocal = tolerance.getOrElse(Long.MaxValue)
    val keyTypes = leftKeys.map(_.dataType)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val keyOrd: Ordering[InternalRow] =
        RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _       // lookahead right row (copied)
        private var rHeadKey: InternalRow = _    // its key (copied)
        private var rHeadTs: Long = _
        private var held: InternalRow = _        // best backward match (copied)
        private var heldKey: InternalRow = _
        private var heldTs: Long = _

        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            rHead = rIter.next().copy()
            rHeadKey = rKeyProj(rHead).copy()
            val tsRow = rTsProj(rHead)
            if (tsRow.isNullAt(0))
              throw new IllegalArgumentException(
                "as-of join: null right-side timestamp (filter nulls before joining)")
            rHeadTs = tsRow.getLong(0)
          } else rHead = null
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTsRow = lTsProj(l)
          if (lTsRow.isNullAt(0))
            throw new IllegalArgumentException(
              "as-of join: null left-side timestamp (filter nulls before joining)")
          val lTs = lTsRow.getLong(0)
          if (held != null && keyOrd.compare(heldKey, lKey) != 0) held = null
          // consume right rows in (key, ts) order up to the left cursor:
          // backward keeps the last eligible row; forward stops AT the
          // first eligible row and matches it without consuming it
          var continue = rHead != null
          while (continue) {
            val kc = keyOrd.compare(rHeadKey, lKey)
            val behind =
              if (forwardLocal) kc == 0 && (if (strictLocal) rHeadTs <= lTs else rHeadTs < lTs)
              else kc == 0 && (if (strictLocal) rHeadTs < lTs else rHeadTs <= lTs)
            if (kc < 0 || behind) {
              if (!forwardLocal && kc == 0) { held = rHead; heldKey = rHeadKey; heldTs = rHeadTs }
              advanceRight()
              continue = rHead != null
            } else continue = false
          }
          // overflow-safe tolerance: `ts - ts' <= tol` as a raw Long
          // subtraction wraps when the axes are >2^63 apart (e.g. a
          // Long.MinValue sentinel epoch) and would ACCEPT the out-of-
          // band row; compare against a saturating bound instead
          if (forwardLocal) {
            val hi = // lTs + tol, saturating to MaxValue
              if (lTs > Long.MaxValue - tolLocal) Long.MaxValue
              else lTs + tolLocal
            if (rHead != null && keyOrd.compare(rHeadKey, lKey) == 0 &&
                rHeadTs <= hi) joined(l, rHead)
            else joined(l, nullRight)
          } else {
            val lo = // lTs - tol, saturating to MinValue
              if (lTs < Long.MinValue + tolLocal) Long.MinValue
              else lTs - tolLocal
            if (held != null && keyOrd.compare(heldKey, lKey) == 0 &&
                heldTs >= lo) joined(l, held)
            else joined(l, nullRight)
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

/** Planner strategy lowering the logical node; registered through
  * SparkSessionExtensions in [[graft.Engine]]. */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, strict, tol, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, strict, tol, fwd) :: Nil
    case _ => Nil
  }
}
