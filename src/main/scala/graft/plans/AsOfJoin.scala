package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** AS-OF join as a first-class operator: custom `LogicalPlan` node +
  * planner `Strategy` + physical `BinaryExecNode` — route (c) of the
  * custom-operator preference order, complementing the composition-based
  * form in [[graft.operators.Extras.asofLastPurchase]] (both are
  * arbitrated by the same DuckDB `ASOF LEFT JOIN` oracle).
  *
  * Semantics: for every left row, attach the right row with the same
  * key and the greatest right-time ≤ left-time (right columns null when
  * none exists) — `left ASOF LEFT JOIN right ON l.key = r.key AND
  * l.time >= r.time`.
  *
  * Execution: both children are hash-clustered on the key and sorted by
  * (key, time) — declared via `requiredChildDistribution`/`Ordering`, so
  * EnsureRequirements inserts exactly the exchanges/sorts a sort-merge
  * join would get — then a single forward merge pass per partition
  * carries the latest in-window right row. O(|L|+|R|) per partition, no
  * state beyond one held row: the shape that survives 100 TB.
  *
  * v1 constraint: key and time must be long-backed types (bigint or
  * timestamp — internally micros), which covers the fixture surface.
  */
object AsOfJoin {

  /** Match direction: Backward = greatest right-time ≤ left-time (the
    * classic as-of); Forward = smallest right-time ≥ left-time. */
  sealed trait Direction extends Serializable
  case object Backward extends Direction
  case object Forward extends Direction

  /** Logical node; output = left columns ++ right's non-key columns
    * (nullable — it's a left outer shape). toleranceUs < 0 = unbounded;
    * otherwise a match must lie within `toleranceUs` of the left time. */
  case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
      leftKey: Attribute, rightKey: Attribute,
      leftTime: Attribute, rightTime: Attribute,
      direction: Direction = Backward,
      toleranceUs: Long = -1L) extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ right.output.filterNot(_.exprId == rightKey.exprId)
        .map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
      copy(left = newLeft, right = newRight)
  }

  object AsOfStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case j: AsOfJoinPlan =>
        AsOfJoinExec(planLater(j.left), planLater(j.right),
          j.leftKey, j.rightKey, j.leftTime, j.rightTime,
          j.direction, j.toleranceUs, j.output) :: Nil
      case _ => Nil
    }
  }

  case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
      leftKey: Attribute, rightKey: Attribute,
      leftTime: Attribute, rightTime: Attribute,
      direction: Direction, toleranceUs: Long,
      override val output: Seq[Attribute]) extends BinaryExecNode {

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
        SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
      Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
        SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

    override def outputPartitioning: Partitioning = left.outputPartitioning

    override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

    override protected def doExecute(): RDD[InternalRow] = {
      val rightPayload = right.output.filterNot(_.exprId == rightKey.exprId)
      val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
      val lTimeOrd = left.output.indexWhere(_.exprId == leftTime.exprId)
      val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
      val rTimeOrd = right.output.indexWhere(_.exprId == rightTime.exprId)
      // capture only serializable schema pieces; build codegen'd
      // projections inside each partition (generated classes don't ship)
      val rightOut = right.output
      val leftOut = left.output
      val out = output
      // bind the output projection against NULLABLE right-payload slots:
      // the no-match row carries nulls even where right declared non-null
      val rightPayloadNullable = rightPayload.map(_.withNullability(true))

      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val payloadProj = UnsafeProjection.create(rightPayload, rightOut)
        val outProj = UnsafeProjection.create(out, leftOut ++ rightPayloadNullable)
        val nulls = new GenericInternalRow(rightPayload.size)
        val fwd = direction == Forward
        val tol = toleranceUs
        new Iterator[InternalRow] {
          private val joined = new JoinedRow
          private val rBuf = rIter.buffered
          private var heldKey = 0L
          private var heldTime = 0L
          private var held: InternalRow = _ // latest right row for heldKey

          override def hasNext: Boolean = lIter.hasNext
          override def next(): InternalRow = {
            val l = lIter.next()
            // ASOF LEFT JOIN: a NULL key or time never matches — emit the
            // null-padded row instead of letting nulls decode as 0
            if (l.isNullAt(lKeyOrd) || l.isNullAt(lTimeOrd)) {
              outProj(joined(l, nulls))
            } else {
              val k = l.getLong(lKeyOrd)
              val t = l.getLong(lTimeOrd)
              if (fwd) {
                // drop right rows no current/future left row can match:
                // smaller key, or same key with rTime strictly before t
                // (left times ascend within a key). The candidate head is
                // only PEEKED — one right row may serve many left rows.
                var advancing = true
                while (advancing && rBuf.hasNext) {
                  val r = rBuf.head
                  if (r.isNullAt(rKeyOrd) || r.isNullAt(rTimeOrd)) rBuf.next()
                  else {
                    val rk = r.getLong(rKeyOrd)
                    if (rk < k || (rk == k && r.getLong(rTimeOrd) < t)) rBuf.next()
                    else advancing = false
                  }
                }
                val matched =
                  if (rBuf.hasNext) {
                    val r = rBuf.head
                    !r.isNullAt(rKeyOrd) && !r.isNullAt(rTimeOrd) &&
                      r.getLong(rKeyOrd) == k &&
                      (tol < 0 || r.getLong(rTimeOrd) - t <= tol)
                  } else false
                outProj(joined(l, if (matched) payloadProj(rBuf.head) else nulls))
              } else {
                if (held != null && heldKey != k) held = null
                // advance right side to the last row with rKey==k, rTime<=t
                var advancing = true
                while (advancing && rBuf.hasNext) {
                  val r = rBuf.head
                  if (r.isNullAt(rKeyOrd) || r.isNullAt(rTimeOrd)) {
                    rBuf.next() // null-keyed/timed right rows match nothing
                  } else {
                    val rk = r.getLong(rKeyOrd)
                    if (rk < k || (rk == k && r.getLong(rTimeOrd) <= t)) {
                      if (rk == k) {
                        heldKey = k
                        heldTime = r.getLong(rTimeOrd)
                        held = payloadProj(r).copy()
                      }
                      rBuf.next()
                    } else advancing = false
                  }
                }
                val inWindow = held != null && heldKey == k &&
                  (tol < 0 || t - heldTime <= tol)
                outProj(joined(l, if (inWindow) held else nulls))
              }
            }
          }
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)
  }

  private def longBacked(a: Attribute): Boolean =
    a.dataType == LongType || a.dataType == TimestampType ||
      a.dataType == TimestampNTZType

  /** Build `left ASOF LEFT JOIN right` on `key`: Backward matches the
    * greatest rightTime ≤ leftTime (`l.t >= r.t`), Forward the smallest
    * rightTime ≥ leftTime (`l.t <= r.t`); `toleranceUs ≥ 0` additionally
    * requires |leftTime − rightTime| ≤ tolerance (out-of-window lefts
    * get the null-padded row). Right's key column is dropped from the
    * output; name the two time columns differently to avoid clashes. */
  def join(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      direction: Direction = Backward, toleranceUs: Long = -1L): DataFrame = {
    val lp = GraftBridge.planOf(left)
    // re-alias every right column so the two sides never share exprIds
    // (self-join safe: the analyzer's DeduplicateRelations would rewrite
    // the right child underneath our stored attribute fields otherwise)
    val rp = GraftBridge.planOf(
      right.select(right.columns.map(n => right(n).as(n)).toIndexedSeq: _*))
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val (lk, rk) = (attr(lp, key), attr(rp, key))
    val (lt, rt) = (attr(lp, leftTime), attr(rp, rightTime))
    require(Seq(lk, rk, lt, rt).forall(longBacked),
      "as-of v1 requires bigint/timestamp key and time columns")
    GraftBridge.ofRows(left.sparkSession,
      AsOfJoinPlan(lp, rp, lk, rk, lt, rt, direction, toleranceUs))
  }
}
