package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.DataType

/** Planner-visible as-of join: a custom `LogicalPlan` node, planned by
  * [[AsOfJoinStrategy]] into [[AsOfJoinExec]] — a sort-merge physical
  * operator.
  *
  * [[graft.operators.AsOfJoin]] composes the same semantics from
  * built-ins (union + running `last` window). This is the deeper
  * extension tier for when composition is not enough: the exec node
  * DECLARES its needs to the planner — `ClusteredDistribution` on the
  * key for both children and a (key, ts) sort per child — and
  * `EnsureRequirements` inserts only the exchanges/sorts the incoming
  * partitioning doesn't already satisfy. That is the property the
  * window form can't offer: inputs already hash-distributed by key
  * (e.g. bucketed tables or a previous keyed stage) re-sort locally
  * with ZERO shuffle, where the union form always pays a full-width
  * exchange of left+right. The merge itself is a single forward pass
  * per partition (no window buffer): left and right both sorted by
  * (key, ts); for each left row the iterator consumes right rows up to
  * the left timestamp and keeps the newest — O(|L| + |R|) time, O(1)
  * state per partition, and the right payload never travels through a
  * window frame.
  *
  * Tie semantics match [[graft.operators.AsOfJoin]] and DuckDB ASOF:
  * a right row at exactly `leftTs` IS a match (backward direction);
  * null keys and null timestamps never match (SQL equality/comparison
  * semantics); unmatched left rows keep null payloads (left-outer).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfJoinExec]]. Registered either via
  * `spark.experimental.extraStrategies` ([[PhysicalAsOf.install]]) or
  * the `spark.sql.extensions` config ([[GraftExtensions]]).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, fwd) =>
      AsOfJoinExec(lk, rk, lts, rts, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` registration:
  * the as-of planner strategy plus every graft SQL function (the
  * config-based twin of `GraftFunctions.registerAll`, for sessions the
  * library user doesn't construct; both install
  * `GraftFunctions.builders`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    graft.GraftFunctions.builders.foreach { case (name, build) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          graft.GraftFunctions.getClass.getName, name),
        build))
    }
  }
}

/** Sort-merge as-of join exec node. Children are key-clustered and
  * (key, ts)-sorted — ts descending in forward mode, so "nearest later
  * right row" is always the last one consumed, symmetric with the
  * backward direction.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def tsOrder(e: Expression): SortOrder =
    if (forward) SortOrder(e, Descending) else SortOrder(e, Ascending)

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ tsOrder(leftTs),
    rightKeys.map(SortOrder(_, Ascending)) :+ tsOrder(rightTs))

  // One output row per left row, in left order, left partitioning — the
  // planner can reuse both downstream (e.g. a groupBy on the same key
  // plans zero additional exchanges).
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lk = leftKeys; val rk = rightKeys; val lts = leftTs; val rts = rightTs
    val lOut = left.output; val rOut = right.output
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val fwd = forward
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new AsOfMergeIterator(lIter, rIter, lk, rk, lts, rts, lOut, rOut,
        keyTypes, tsType, fwd, numOutputRows)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Per-partition merge: both inputs sorted by (key, ts·dir). Keeps the
  * single newest (backward) / nearest-later (forward) right row per
  * left row — O(1) state, every right row visited once.
  */
private[plans] final class AsOfMergeIterator(
    lIter: Iterator[InternalRow],
    rIter: Iterator[InternalRow],
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    lOut: Seq[Attribute],
    rOut: Seq[Attribute],
    keyTypes: Seq[DataType],
    tsType: DataType,
    fwd: Boolean,
    numOutputRows: SQLMetric) extends Iterator[InternalRow] {

  private val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
  private val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
  private val lTsProj = UnsafeProjection.create(Seq(leftTs), lOut)
  private val rTsProj = UnsafeProjection.create(Seq(rightTs), rOut)
  private val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
  private val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
  // Forward mode sorts ts descending; negating the comparison keeps the
  // single merge loop direction-agnostic ("<= 0" = visible to this left
  // row in sort order).
  private def tsCmp(a: InternalRow, b: InternalRow): Int = {
    val c = tsOrd.compare(a, b); if (fwd) -c else c
  }

  private val joined = new JoinedRow
  private val nullRight = new GenericInternalRow(rOut.size)
  private val outProj =
    UnsafeProjection.create(lOut ++ rOut.map(_.withNullability(true)), lOut ++ rOut)

  // Lookahead right row (copies — projection buffers are reused).
  private var rRow: InternalRow = _
  private var rKey: InternalRow = _
  private var rTs: InternalRow = _
  // Newest right row consumed for its key; guarded by matchKey compare.
  private var matchRow: InternalRow = _
  private var matchKey: InternalRow = _

  advanceRight()

  private def advanceRight(): Unit = {
    rRow = null
    while (rRow == null && rIter.hasNext) {
      val r = rIter.next()
      val k = rKeyProj(r)
      val t = rTsProj(r)
      // Null join keys and null timestamps can never match — drop here
      // so the merge loop never has to order against nulls.
      if (!k.anyNull && !t.isNullAt(0)) {
        rRow = r.copy(); rKey = k.copy(); rTs = t.copy()
      }
    }
  }

  override def hasNext: Boolean = lIter.hasNext

  override def next(): InternalRow = {
    val l = lIter.next()
    val lKey = lKeyProj(l)
    val lTsRow = lTsProj(l)
    val lNull = lKey.anyNull || lTsRow.isNullAt(0)
    if (!lNull) {
      var scanning = true
      while (scanning && rRow != null) {
        val kc = keyOrd.compare(rKey, lKey)
        if (kc < 0) advanceRight() // right key already passed by: discard
        else if (kc == 0 && tsCmp(rTs, lTsRow) <= 0) {
          matchRow = rRow; matchKey = rKey; advanceRight()
        } else scanning = false
      }
    }
    val isMatch = !lNull && matchRow != null && keyOrd.compare(matchKey, lKey) == 0
    numOutputRows += 1
    outProj(joined(l, if (isMatch) matchRow else nullRight))
  }
}

/** DataFrame-level API over [[AsOfJoinNode]], mirroring
  * [[graft.operators.AsOfJoin.asOf]] exactly (same arguments, same
  * output shape, same tie semantics) so the two forms are
  * interchangeable and cross-checkable.
  */
object PhysicalAsOf {

  /** Idempotently register [[AsOfJoinStrategy]] on a live session. */
  def install(spark: SparkSession): Unit = {
    val em = spark.experimental
    if (!em.extraStrategies.contains(AsOfJoinStrategy)) {
      em.extraStrategies = AsOfJoinStrategy +: em.extraStrategies
    }
  }

  def asOf(
      left: DataFrame,
      right: DataFrame,
      on: String,
      leftTs: String,
      rightTs: String,
      payloadPrefix: String = "right_",
      forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val lPlan = GraftPlanShim.analyzed(left)
    val rPlan0 = GraftPlanShim.analyzed(right)
    // Self-join safety: re-alias the right side when it shares
    // attribute ids with the left (same source scanned twice).
    val rPlan =
      if (rPlan0.outputSet.intersect(lPlan.outputSet).isEmpty) rPlan0
      else Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val node = AsOfJoinNode(
      lPlan, rPlan,
      Seq(attr(lPlan, on)), Seq(attr(rPlan, on)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), forward)
    val payload = rPlan.output.filterNot(a => a.name == on || a.name == rightTs)
    require(payload.nonEmpty, "right side must carry at least one payload column")
    val projectList = lPlan.output ++
      payload.map(a => Alias(a.withNullability(true), payloadPrefix + a.name)())
    GraftPlanShim.ofRows(spark, Project(projectList, node))
  }
}
