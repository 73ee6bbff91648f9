package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst as-of join: logical node + planner strategy + a
  * single-pass sort-merge-carry physical operator (SURVEY.md §7.3 tier c —
  * built after profiling showed the union+window rewrite pays for buffering
  * every entity group in WindowExec).
  *
  * Semantics identical to graft.operators.AsOf.join (property-tested):
  * for each left row, the value columns of the latest right row with
  * rightTs <= leftTs (strict: <) on the same entity, plus matched_ts;
  * zero temporal leakage by construction — the merge NEVER absorbs a
  * right row past the current left timestamp (rows past the last left
  * row are read only to drain the input, never matched).
  *
  * Physical properties: both children clustered on the entity key and
  * sorted by (entity, ts) — EnsureRequirements inserts exactly one
  * exchange + one sort per side (same as a SortMergeJoin); the merge is
  * O(1) state per row: one carried value row, no per-group buffering.
  *
  * Key/ts/value columns are held as real Attributes so column pruning and
  * the optimizer see this node's references.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftEntity: Attribute,
    leftTs: Attribute,
    rightEntity: Attribute,
    rightTs: Attribute,
    rightValues: Seq[Attribute],
    strict: Boolean,
    // constructor param so copy()/withNewChildren keep the exprId stable
    matchedTs: AttributeReference) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true)) :+ matchedTs

  // matched_ts is minted by this operator, not derived from children
  override def producedAttributes: AttributeSet = AttributeSet(Seq(matchedTs))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftEntity: Attribute,
    leftTs: Attribute,
    rightEntity: Attribute,
    rightTs: Attribute,
    rightValues: Seq[Attribute],
    strict: Boolean,
    matchedTs: AttributeReference,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true)) :+ matchedTs

  override def producedAttributes: AttributeSet = AttributeSet(Seq(matchedTs))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftEntity)) ::
      ClusteredDistribution(Seq(rightEntity)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftEntity, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightEntity, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "left rows with a matched feature"))

  private def ordinal(out: Seq[Attribute], a: Attribute): Int = {
    val i = out.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"attribute $a missing from ${out.mkString(",")}")
    i
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val leftOut = left.output
    val rightOut = right.output
    val entityOrd0 = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftEntity.dataType)
    // ts columns are REQUIRED LongType (AsOfNative.join enforces it; the
    // merge below reads them with primitive getLong — no per-row boxing)
    require(leftTs.dataType == org.apache.spark.sql.types.LongType &&
      rightTs.dataType == org.apache.spark.sql.types.LongType,
      "AsOfJoinExec requires LongType ts columns")
    // null-safe, NULLS FIRST (matching requiredChildOrdering's default):
    // the interpreted ordering NPEs on null operands, and the batch
    // window rewrite groups null keys rather than crashing — parity
    // demands null==null matches here too
    def nullsFirst(ord: Ordering[Any]): (Any, Any) => Int = (a, b) =>
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else ord.compare(a, b)
    val entityOrd = nullsFirst(entityOrd0)
    // primitive null-first ts compare (ts is LongType by the require)
    def tsCmp(aNull: Boolean, a: Long, bNull: Boolean, b: Long): Int =
      if (aNull && bNull) 0 else if (aNull) -1 else if (bNull) 1
      else java.lang.Long.compare(a, b)
    val strictB = strict
    val lEntityIdx = ordinal(leftOut, leftEntity)
    val lTsIdx = ordinal(leftOut, leftTs)
    val rEntityIdx = ordinal(rightOut, rightEntity)
    val rTsIdx = ordinal(rightOut, rightTs)
    val rValIdx = rightValues.map(a => ordinal(rightOut, a))
    // hoisted primitive arrays: the absorb loop runs once per RIGHT row,
    // and a per-row Seq.zipWithIndex would allocate a list + tuples for
    // every one of them
    val rValIdxArr = rValIdx.toArray
    val rValTypesArr = rightValues.map(_.dataType).toArray
    // primitive-copy codes for the hot absorb loop: 0=double, 1=long,
    // 2=int, 3=float, -1=generic copyValue (boxes)
    val rValCodeArr = rValTypesArr.map {
      case org.apache.spark.sql.types.DoubleType => 0
      case org.apache.spark.sql.types.LongType => 1
      case org.apache.spark.sql.types.IntegerType => 2
      case org.apache.spark.sql.types.FloatType => 3
      case _ => -1
    }
    val entityType = leftEntity.dataType
    val rValTypes = rightValues.map(_.dataType)
    val carrySchema = rValTypes :+ rightTs.dataType
    val outAttrs = output
    val joinedSchema = leftOut ++ (rightValues.map(_.withNullability(true)) :+ matchedTs)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outAttrs, joinedSchema)
      // carry row layout: value columns ++ matched_ts; null row when no match
      val carry = new SpecificInternalRow(carrySchema)
      val nullCarry = new SpecificInternalRow(carrySchema)
      carrySchema.indices.foreach(nullCarry.setNullAt)
      var carryEntity: Any = null
      var hasCarry = false
      var rHead: InternalRow = null
      var rHeadDone = !rIter.hasNext
      if (!rHeadDone) rHead = rIter.next()

      def rightApplies(le: Any, ltNull: Boolean, lt: Long): Boolean = {
        val ec = entityOrd(rHead.get(rEntityIdx, entityType), le)
        if (ec < 0) true
        else if (ec > 0) false
        else {
          val rNull = rHead.isNullAt(rTsIdx)
          val tc = tsCmp(rNull, if (rNull) 0L else rHead.getLong(rTsIdx),
            ltNull, lt)
          if (strictB) tc < 0 else tc <= 0
        }
      }

      // the merge is only correct over (entity, ts)-sorted children; when a
      // child's order is a CLAIM, [[AssumeOrderedExec]] verifies it row by
      // row, so the merge reads both inputs to the end (see the drain below)
      lIter.map { lRow =>
        val le = lRow.get(lEntityIdx, entityType)
        val ltNull = lRow.isNullAt(lTsIdx)
        val lt = if (ltNull) 0L else lRow.getLong(lTsIdx)
        while (!rHeadDone && rightApplies(le, ltNull, lt)) {
          // absorb this right row into the carry (copies — the sorter
          // reuses row objects); copy the entity only when it CHANGES
          // (one copy per entity, not one per absorbed row)
          val re = rHead.get(rEntityIdx, entityType)
          if (!hasCarry || entityOrd(re, carryEntity) != 0)
            carryEntity = InternalRow.copyValue(re)
          var vi = 0
          while (vi < rValIdxArr.length) {
            val ri = rValIdxArr(vi)
            if (rHead.isNullAt(ri)) carry.setNullAt(vi)
            else rValCodeArr(vi) match {
              case 0 => carry.setDouble(vi, rHead.getDouble(ri))
              case 1 => carry.setLong(vi, rHead.getLong(ri))
              case 2 => carry.setInt(vi, rHead.getInt(ri))
              case 3 => carry.setFloat(vi, rHead.getFloat(ri))
              case _ => carry.update(vi,
                InternalRow.copyValue(rHead.get(ri, rValTypesArr(vi))))
            }
            vi += 1
          }
          if (rHead.isNullAt(rTsIdx)) carry.setNullAt(carrySchema.length - 1)
          else carry.setLong(carrySchema.length - 1, rHead.getLong(rTsIdx))
          hasCarry = true
          if (rIter.hasNext) rHead = rIter.next() else { rHeadDone = true; rHead = null }
        }
        val matches = hasCarry && entityOrd(carryEntity, le) == 0
        numOutputRows += 1
        if (matches) numMatched += 1
        project(joined(lRow, if (matches) carry else nullCarry))
      } ++ {
        // drain: right rows past the last left row are never matched, but
        // an ordering check below must still see them
        rIter.foreach(_ => ())
        Iterator.empty
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Ordering CLAIM: pass-through node declaring that its child's rows are
  * already sorted by `orderCols` (ascending, nulls first) within each
  * partition — problem knowledge the optimizer cannot derive (guide §8),
  * e.g. "a per-doc frame array explodes in frame order, so sorting the
  * COMPACT doc rows by key makes the exploded stream (key, ts)-sorted" —
  * which lets EnsureRequirements skip a full sort of the exploded
  * timeline.
  *
  * The claim is verified where it is made: [[AssumeOrderedExec]] checks
  * every row it emits against the previous one and throws on the first
  * row out of order. The as-of merge reads both of its inputs to the end,
  * so a false claim under it fails whenever the join's output is read to
  * the end; any other consumer (e.g. a sort-merge join) is checked on the
  * rows it reads. */
case class AssumeOrderedNode(child: LogicalPlan, orderCols: Seq[Attribute])
    extends UnaryNode {
  require(orderCols.nonEmpty, "an ordering claim needs at least one column")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): AssumeOrderedNode =
    copy(child = c)
}

case class AssumeOrderedExec(child: SparkPlan, orderCols: Seq[Attribute])
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    orderCols.map(a => SortOrder(a, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyCols = orderCols
    val childOut = child.output
    val ordering = new LazilyGeneratedOrdering(outputOrdering, keyCols)
    val keyTypes = keyCols.map(_.dataType)
    val show = (key: InternalRow) => key.toSeq(keyTypes).mkString("(", ", ", ")")
    val claim = keyCols.map(_.name).mkString(", ")
    child.execute().mapPartitions({ rows =>
      // the key goes into one of two alternating projections (each reuses
      // its own output row), so the previous key survives without a copy
      val keys = Array.fill(2)(UnsafeProjection.create(keyCols, childOut))
      var prev: InternalRow = null
      var cur = 0
      rows.map { row =>
        val key = keys(cur)(row)
        if (prev != null && ordering.compare(prev, key) > 0)
          throw new IllegalStateException(
            s"ordering claim violated: rows not sorted by ($claim): key " +
              s"${show(prev)} is followed by ${show(key)} " +
              "(AsOfNative.assumeSorted on unsorted data?)")
        prev = key
        cur ^= 1
        row
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): AssumeOrderedExec =
    copy(child = c)
}

/** Optimizer BARRIER: a pass-through the optimizer cannot push predicates
  * through. Use it between an expensive aliased array computation and an
  * explode: InferFiltersFromGenerate adds a size(child)>0 filter above
  * every explode, and predicate pushdown substitutes the full expression
  * into it (evaluating e.g. a frame loop 3x per row); above the barrier
  * the filter tests the already-computed column. Column pruning still
  * reaches below it (ColumnPruning prunes under any unary node that
  * passes its child's output through); PlanFingerprintSpec pins the
  * ReadSchema of every site. */
case class PlanBarrierNode(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): PlanBarrierNode =
    copy(child = c)
}

/** [[PlanBarrierNode]] lowered: the child's rows, partitioning and
  * ordering, unchanged. */
case class PlanBarrierExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): PlanBarrierExec =
    copy(child = c)
}

object PlanBarrier {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    AsOfNative.install(spark)
    Bridge.ofRows(spark, PlanBarrierNode(df.queryExecution.analyzed))
  }
}

/** Planner strategy lowering the logical nodes; injected per-session via
  * spark.experimental.extraStrategies (no session-construction-time
  * extension needed). */
object AsOfJoinStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftEntity, n.leftTs, n.rightEntity, n.rightTs,
        n.rightValues, n.strict, n.matchedTs,
        planLater(n.left), planLater(n.right)) :: Nil
    case n: AssumeOrderedNode =>
      AssumeOrderedExec(planLater(n.child), n.orderCols) :: Nil
    case n: PlanBarrierNode => PlanBarrierExec(planLater(n.child)) :: Nil
    case _ => Nil
  }
}

object AsOfNative {

  /** Register the strategy on the session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[AsOfJoinStrategy.type]))
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
  }

  /** Declare `df` already sorted by `cols` (ascending, nulls first)
    * within each partition (see [[AssumeOrderedNode]]); feed the result
    * to [[join]] to skip the planner's sort on that side. Every row the
    * claim emits is checked against the previous one, and unsorted data
    * fails loudly. [[join]] reads both inputs to the end, so under it the
    * whole claimed input is checked; any other consumer is checked only
    * on the rows it reads. */
  def assumeSorted(df: DataFrame, cols: String*): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val lp = df.queryExecution.analyzed
    val attrs = cols.map(c => lp.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"no column $c in ${lp.output.map(_.name)}")))
    Bridge.ofRows(spark, AssumeOrderedNode(lp, attrs))
  }

  /** Native as-of join; same contract as graft.operators.AsOf.join. */
  def join(queries: DataFrame, features: DataFrame, entityCol: String,
      tsCol: String, valueCols: Seq[String], strict: Boolean = false): DataFrame = {
    require(features.schema(tsCol).dataType ==
      org.apache.spark.sql.types.LongType &&
      queries.schema(tsCol).dataType ==
      org.apache.spark.sql.types.LongType,
      "native as-of join requires LongType ts columns (integer ns/us) on BOTH sides")
    // the exec reads right-side fields with the LEFT side's data types —
    // a silent cross-side dtype mismatch would read wrong bytes from the
    // UnsafeRow, not error
    require(queries.schema(entityCol).dataType ==
      features.schema(entityCol).dataType,
      s"entity dtype mismatch: queries ${queries.schema(entityCol).dataType} " +
        s"vs features ${features.schema(entityCol).dataType}")
    val spark = queries.sparkSession
    install(spark)
    val lp = queries.queryExecution.analyzed
    val rp0 = features.queryExecution.analyzed
    // self-join hygiene: custom nodes bypass the analyzer's
    // DeduplicateRelations, so shared exprIds between the sides (queries
    // and features derived from one table) would confuse column pruning —
    // re-alias the right side with fresh exprIds when outputs overlap
    val rp: LogicalPlan =
      if (rp0.outputSet.intersect(lp.outputSet).isEmpty) rp0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rp0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${p.output.map(_.name)}"))
    Bridge.ofRows(spark, AsOfJoinNode(lp, rp,
      attr(lp, entityCol), attr(lp, tsCol),
      attr(rp, entityCol), attr(rp, tsCol),
      valueCols.map(c => attr(rp, c)), strict,
      AttributeReference("matched_ts",
        org.apache.spark.sql.types.LongType, nullable = true)()))
  }
}
