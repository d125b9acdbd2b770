package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Match direction for the native as-of join.
  *
  * - [[AsOfDirection.Backward]]: greatest right-ts ≤ left-ts; equal-ts
  *   ties resolve to the GREATEST tie-break (the §2.4 rule, same row the
  *   `ORDER BY ts DESC, tie DESC / rn = 1` rewrite picks).
  * - [[AsOfDirection.Forward]]: smallest right-ts ≥ left-ts; ties to the
  *   SMALLEST tie-break (`ORDER BY ts ASC, tie ASC / rn = 1`).
  * - [[AsOfDirection.Nearest]]: minimal |right-ts − left-ts|, either
  *   side; distance ties to the EARLIER right-ts, then smallest
  *   tie-break — exactly [[graft.ops.Temporal.joinAsofNearest]]'s window
  *   order (abs-µs ASC, ts ASC, id ASC).
  */
sealed trait AsOfDirection
object AsOfDirection {
  case object Backward extends AsOfDirection
  case object Forward extends AsOfDirection
  case object Nearest extends AsOfDirection
  def of(name: String): AsOfDirection = name match {
    case "backward" => Backward
    case "forward"  => Forward
    case "nearest"  => Nearest
    case other => throw new IllegalArgumentException(
      s"as-of direction must be backward|forward|nearest, got '$other'")
  }
}

/** Native as-of join — the full custom-operator extension point
  * (LogicalPlan → Strategy → SparkPlan), SURVEY.md §4.3's reserved slot.
  *
  * Semantics (inner as-of): for each left row, the single right row with
  * the same key that the [[AsOfDirection]] selects; left rows with no
  * such right row are dropped. Unlike the join+window rewrite (which
  * materializes every qualifying pair, O(p·s) per key) or the cogroup
  * form (which buffers a key's right rows in memory), this physical
  * operator is a true streaming sorted merge: both sides arrive
  * hash-partitioned on the key and sorted by (key, ts) — Spark inserts
  * the exchanges/sorts to satisfy the declared requirements — and each
  * partition is merged with one forward pass holding at most TWO
  * buffered right rows (the bracketing below/above candidates).
  * O(p+s) time, O(1) state, for every direction.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightTieBreak: Option[Attribute],
    direction: AsOfDirection = AsOfDirection.Backward)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, tb, dir) =>
      AsOfJoinExec(lk, rk, lts, rts, tb, planLater(l), planLater(r), dir) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTieBreak: Option[Expression],
    left: SparkPlan,
    right: SparkPlan,
    direction: AsOfDirection = AsOfDirection.Backward)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Both sides sort ascending by (key, ts, tie-break). The merge then
    * consumes equal-(key, ts) right groups atomically, so direction tie
    * rules fall out of buffer position alone: Backward keeps the LAST
    * consumed row of a group (greatest tie-break — the rewrite's
    * `ORDER BY ts DESC, tie DESC / rn = 1` pick), while Forward/Nearest
    * read the FIRST row of the lookahead/below group (smallest tie-break —
    * their rewrites' `ORDER BY ts ASC, tie ASC / rn = 1` pick).
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTs, Ascending) +: rightTieBreak.toSeq.map(SortOrder(_, Ascending))))

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def outputPartitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyGen = UnsafeProjection.create(leftKeys, left.output)
      val rKeyGen = UnsafeProjection.create(rightKeys, right.output)
      val lTsGen = UnsafeProjection.create(Seq(leftTs), left.output)
      val rTsGen = UnsafeProjection.create(Seq(rightTs), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val resultProj = UnsafeProjection.create(output, output)
      val joined = new JoinedRow

      val fwd = direction != AsOfDirection.Backward // consume strictly-below only
      val nearest = direction == AsOfDirection.Nearest

      new Iterator[InternalRow] {
        // One-row lookahead on the right side (rows are copied when
        // buffered — Spark reuses row objects across next() calls).
        private var rKey: UnsafeRow = _
        private var rTs: Long = _
        private var rRow: UnsafeRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next()
            rKey = rKeyGen(r).copy()
            rTs = rTsGen(r).getLong(0)
            rRow = r.copy().asInstanceOf[UnsafeRow]
          } else { rKey = null; rRow = null }
        advanceRight()

        // Below-candidate per key: Backward keeps the latest consumed row
        // at-or-before the left ts (last of its ts group → greatest tie);
        // Nearest keeps the FIRST row of the latest strictly-below ts
        // group (smallest tie). Forward needs no below state.
        private var candKey: UnsafeRow = _
        private var candTs: Long = 0L
        private var candRow: UnsafeRow = _
        private var nextOut: UnsafeRow = _

        private def computeNext(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val l = lIter.next()
            val lKey = lKeyGen(l)
            val lTsV = lTsGen(l).getLong(0)
            var advancing = true
            while (advancing && rKey != null) {
              val c = keyOrd.compare(rKey, lKey)
              // Forward/Nearest must leave rows at ts == left-ts buffered
              // (they are "at-or-above" matches); Backward consumes them.
              if (c < 0 || (c == 0 && (if (fwd) rTs < lTsV else rTs <= lTsV))) {
                if (c == 0) {
                  // Nearest: keep the first row of each ts group; a new
                  // key or new ts resets the group.
                  if (!nearest || candRow == null || candTs != rTs ||
                      keyOrd.compare(candKey, rKey) != 0) {
                    candKey = rKey; candTs = rTs; candRow = rRow
                  }
                } else { candKey = null; candRow = null }
                advanceRight()
              } else advancing = false
            }
            val below =
              if (!fwd || nearest)
                if (candRow != null && keyOrd.compare(candKey, lKey) == 0) candRow else null
              else null
            val above =
              if (fwd && rKey != null && keyOrd.compare(rKey, lKey) == 0) rRow else null
            val pick = direction match {
              case AsOfDirection.Backward => below
              case AsOfDirection.Forward  => above
              case AsOfDirection.Nearest  =>
                if (below == null) above
                else if (above == null) below
                // Both exist: candTs < lTsV <= rTs. Equal distance keeps
                // the earlier-ts row (below), matching the rewrite.
                else if (rTs - lTsV < lTsV - candTs) above
                else below
            }
            if (pick != null) nextOut = resultProj(joined(l, pick))
          }
        }

        // Lazy: the shared projection buffer is only overwritten once the
        // consumer asks for the FOLLOWING row (standard SparkPlan row-reuse
        // contract, as in SortMergeJoinExec).
        override def hasNext: Boolean = {
          if (nextOut == null) computeNext()
          nextOut != null
        }
        override def next(): InternalRow = {
          if (nextOut == null) computeNext()
          val out = nextOut
          nextOut = null
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API. */
object AsOf {

  /** Inner as-of join: the `right` row per key that `direction` selects —
    * backward (latest rightTs ≤ leftTs, the default), forward (earliest
    * rightTs ≥ leftTs), or nearest (minimal |rightTs − leftTs|). Key/ts
    * columns are resolved by name on each side; ts columns must be
    * timestamp or long typed. `rightTieBreak` names a unique right column
    * that breaks equal-ts ties deterministically (greatest wins backward,
    * smallest wins forward/nearest — each matching its rewrite's window
    * order; see [[AsOfDirection]]).
    *
    * SQL-NULL semantics match the join+window rewrite: rows with a NULL
    * key or NULL ts on either side never match (the raw merge would treat
    * null keys as equal via RowOrdering and read a null ts as epoch-0), so
    * they are filtered out before the plan is built.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTsCol: String, rightTsCol: String,
      rightTieBreak: Option[String] = None,
      direction: String = "backward"): DataFrame = {
    val spark: SparkSession = left.sparkSession
    import org.apache.spark.sql.functions.col
    val lPlan = left.filter(col(leftKey).isNotNull && col(leftTsCol).isNotNull)
      .queryExecution.analyzed
    val rPlan = right.filter(col(rightKey).isNotNull && col(rightTsCol).isNotNull)
      .queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not found in [${p.output.map(_.name).mkString(", ")}]"))
    val lts = attr(lPlan, leftTsCol)
    val rts = attr(rPlan, rightTsCol)
    require(Seq(lts, rts).forall(a => a.dataType == TimestampType || a.dataType == LongType),
      s"as-of ts columns must be timestamp/long, got ${lts.dataType}/${rts.dataType}")
    GraftPlanBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan,
        Seq(attr(lPlan, leftKey)), Seq(attr(rPlan, rightKey)), lts, rts,
        rightTieBreak.map(attr(rPlan, _)), AsOfDirection.of(direction)))
  }
}
