package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.GraftSql

/** As-of join as a first-class Catalyst operator — SURVEY §4.3 option (b),
  * the one batch as-of kernel behind `join_asof`, `join_asof_tolerance`
  * and `join_asof_merge`.
  *
  * Semantics (LEFT ASOF): every left row joins the LATEST right row with an
  * equal (non-null) key and `rightTime <= leftTime`, within an optional
  * max-staleness tolerance; unmatched left rows keep nulls on the right —
  * exactly DuckDB's `ASOF LEFT JOIN ... ON l.k = r.k AND l.t >= r.t`, which
  * is the oracle that validates the operator.
  *
  * Each side shuffles with only ITS OWN columns, then both sorted sides
  * stream through a two-pointer merge holding exactly ONE buffered right
  * row per partition — the textbook merge-as-of every time-series system
  * implements: no window frame buffer, no null-padded union.
  *
  * Planner integration is the standard pair: a logical [[AsofJoin]] node
  * built directly into the DataFrame by [[AsofJoin.join]] (via the
  * org.apache.spark.sql.graft bridge) and [[AsofJoinStrategy]] (registered
  * through `spark.experimental.extraStrategies` — the public extension
  * point) planning it as [[MergeAsofExec]]. EnsureRequirements then inserts
  * the hash exchanges + per-partition sorts from the exec's declared
  * distribution/ordering requirements — co-partitioning, AQE coalescing
  * and reuse all compose exactly as they do for SortMergeJoin, which
  * declares the same requirement shape.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Option[Long]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {
  /** LEFT as-of join of two DataFrames on `leftKey = rightKey AND
    * rightTime <= leftTime`, optionally nulling matches older than
    * `toleranceUs` microseconds; the output is every left column then every
    * right column. Time columns are TimestampType or LongType (both
    * physical longs).
    *
    * Among right rows with an equal (key, time) the winner is
    * engine-arbitrary, as it is for DuckDB's ASOF: callers that need a
    * deterministic result supply right sides unique on (key, time).
    *
    * The two sides must carry distinct attribute ids. When both derive from
    * one relation, alias every right column: a custom binary node gets no
    * analyzer self-join dedup. */
  def join(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           toleranceUs: Option[Long]): DataFrame = {
    val spark = left.sparkSession
    AsofJoinStrategy.register(spark)
    val lp = GraftSql.analyzed(left)
    val rp = GraftSql.analyzed(right)
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      "as-of sides share attribute ids; alias the right side's columns")
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    GraftSql.ofRows(spark, AsofJoin(lp, rp, attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, leftTime), attr(rp, rightTime), toleranceUs))
  }
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tol) =>
      MergeAsofExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }

  /** Idempotent registration through the PUBLIC planner extension point
    * (`spark.experimental.extraStrategies`) — the same per-operator
    * self-registration discipline as [[VectorFunctions.register]], so the
    * operator works in any session with no builder-time config. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(AsofJoinStrategy))
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ AsofJoinStrategy
  }
}

/** Streaming merge as-of execution.
  *
  * Requirements: both children hash-clustered on their key and sorted by
  * (key, time) — declared, not hand-built, so the planner owns the
  * exchanges and can elide them when an upstream operator already
  * satisfies the clustering.
  *
  * Per-partition state is ONE buffered right row + the current match —
  * O(1) beyond the sort.
  * Null keys never match (ASOF/equi-join convention); null timestamps on
  * the right are skipped, on the left they yield an unmatched row.
  */
case class MergeAsofExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
        SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
        SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): MergeAsofExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeyExpr = leftKey
    val rKeyExpr = rightKey
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val tol = toleranceUs
    val outAttrs = output
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val lKeyProj = UnsafeProjection.create(Seq(lKeyExpr), leftOut)
        val rKeyProj = UnsafeProjection.create(Seq(rKeyExpr), rightOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lKeyExpr.dataType))
        val lTimeBound = BindReferences.bindReference(lTimeExpr, leftOut)
        val rTimeBound = BindReferences.bindReference(rTimeExpr, rightOut)
        val nullRight = new GenericInternalRow(rightOut.size)
        val joined = new JoinedRow
        val resultProj = UnsafeProjection.create(outAttrs.map(_.asInstanceOf[Expression]), outAttrs)

        // one-row lookahead over the right side; rows are COPIED because the
        // upstream sort iterator reuses its UnsafeRow buffer
        var rRow: UnsafeRow = null
        var rKey: UnsafeRow = null
        var rTime: Long = 0L
        def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val raw = rIter.next()
            val t = rTimeBound.eval(raw)
            if (t != null) {
              rRow = raw.asInstanceOf[UnsafeRow].copy()
              rKey = rKeyProj(rRow).copy()
              rTime = t.asInstanceOf[Long]
            } // null right timestamps can never be "latest at-or-before": skip
          }
        }
        advanceRight()

        var matched: UnsafeRow = null
        var matchedKey: UnsafeRow = null
        var matchedTime: Long = 0L

        lIter.map { lRaw =>
          val lKey = lKeyProj(lRaw)
          val lt = lTimeBound.eval(lRaw)
          if (lt != null) {
            val lTimeV = lt.asInstanceOf[Long]
            // consume right rows that can no longer match a FUTURE left row
            // later than this one: smaller keys, or same key at-or-before
            // this timestamp (left times ascend within a key, so everything
            // consumed stays valid as "latest so far")
            var advance = true
            while (advance && rRow != null) {
              val c = keyOrd.compare(rKey, lKey)
              if (c < 0) advanceRight()
              else if (c == 0 && rTime <= lTimeV) {
                matched = rRow; matchedKey = rKey; matchedTime = rTime
                advanceRight()
              } else advance = false
            }
            val ok = matched != null && !lKey.anyNull &&
              keyOrd.compare(matchedKey, lKey) == 0 &&
              tol.forall(t => lTimeV - matchedTime <= t)
            resultProj(joined(lRaw, if (ok) matched else nullRight))
          } else {
            resultProj(joined(lRaw, nullRight))
          }
        }
    }
  }
}
