package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst as-of join: logical node + planner strategy + a
  * single-pass sort-merge-carry physical operator (SURVEY.md §7.3 tier c —
  * built after profiling showed the union+window rewrite pays for buffering
  * every entity group in WindowExec). Every production as-of runs here;
  * the entry point is graft.operators.AsOf.join.
  *
  * Semantics identical to the reference spec graft.operators.AsOf.referenceJoin
  * (property-tested): for each left row, the value columns of the latest
  * right row with rightTs <= leftTs (strict: <) on the same entity, plus
  * matched_ts; zero temporal leakage by construction — the merge NEVER
  * reads a right row past the current left timestamp.
  *
  * Physical properties: both children clustered on the entity key and
  * sorted by (entity, ts) — EnsureRequirements inserts exactly one
  * exchange + one sort per side (same as a SortMergeJoin); the merge is
  * O(1) state per row: one carried value row, no per-group buffering.
  * `presorted` drops the sort requirement (distribution is still
  * required): the caller asserts both sides already stream in
  * (entity, ts) order, and the merge verifies every row it reads.
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
    presorted: Boolean,
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
    presorted: Boolean,
    matchedTs: AttributeReference,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true)) :+ matchedTs

  override def producedAttributes: AttributeSet = AttributeSet(Seq(matchedTs))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftEntity)) ::
      ClusteredDistribution(Seq(rightEntity)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (presorted) Seq(Nil, Nil)
    else Seq(
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
    // ts columns are REQUIRED LongType (AsOf.join enforces it; the merge
    // below reads them with primitive getLong — no per-row boxing)
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

      // Input-ordering verification: the merge is only correct over
      // (entity, ts)-sorted children. The planner guarantees that unless
      // the join is `presorted`, whose promise it cannot check — so the
      // merge verifies as it streams (one compare per row read) and
      // throws instead of silently emitting wrong matches. Each right row
      // is checked when it is READ, against the previous row read, and
      // the rest of the right stream is drained and checked once the
      // left side runs out: a row that is never absorbed is checked too.
      def orderViolation(side: String, e: Any, t: Any): Nothing =
        throw new IllegalStateException(
          s"as-of merge: $side side not sorted by (entity, ts) — saw " +
            s"($e, $t) after a later row; a presorted as-of join " +
            "(AsOf.join(presorted = true)) over unsorted data?")

      // the right head: read and verified, not yet absorbed. Its entity
      // is copied only when it CHANGES (the sorter reuses row buffers, so
      // a held reference must be a copy — but one copy per entity, not
      // one per row); the copy is immutable, so the carry shares it.
      var rHead: InternalRow = null
      var rHeadEntity: Any = null
      var rHeadTsNull = true
      var rHeadTs = 0L
      var rHeadDone = false
      var haveRPrev = false
      def advanceRight(): Unit =
        if (rIter.hasNext) {
          val r = rIter.next()
          val re = r.get(rEntityIdx, entityType)
          val rtNull = r.isNullAt(rTsIdx)
          val rt = if (rtNull) 0L else r.getLong(rTsIdx)
          if (haveRPrev) {
            val ec = entityOrd(re, rHeadEntity)
            if (ec < 0 || (ec == 0 && tsCmp(rtNull, rt, rHeadTsNull, rHeadTs) < 0))
              orderViolation("right", re, if (rtNull) null else rt)
            if (ec != 0) rHeadEntity = InternalRow.copyValue(re)
          } else rHeadEntity = InternalRow.copyValue(re)
          haveRPrev = true
          rHead = r
          rHeadTsNull = rtNull
          rHeadTs = rt
        } else { rHeadDone = true; rHead = null }
      advanceRight()

      def rightApplies(le: Any, ltNull: Boolean, lt: Long): Boolean = {
        val ec = entityOrd(rHeadEntity, le)
        if (ec < 0) true
        else if (ec > 0) false
        else {
          val tc = tsCmp(rHeadTsNull, rHeadTs, ltNull, lt)
          if (strictB) tc < 0 else tc <= 0
        }
      }

      var prevLe: Any = null
      var prevLtNull = true
      var prevLt = 0L
      var haveLPrev = false
      val out = lIter.map { lRow =>
        val le = lRow.get(lEntityIdx, entityType)
        val ltNull = lRow.isNullAt(lTsIdx)
        val lt = if (ltNull) 0L else lRow.getLong(lTsIdx)
        if (haveLPrev) {
          val ec = entityOrd(le, prevLe)
          if (ec < 0 || (ec == 0 && tsCmp(ltNull, lt, prevLtNull, prevLt) < 0))
            orderViolation("left", le, if (ltNull) null else lt)
          // copy the held entity only when it CHANGES (same rule as the
          // right head above) — one clone per entity, not one per left row
          if (ec != 0) prevLe = InternalRow.copyValue(le)
        } else prevLe = InternalRow.copyValue(le)
        prevLtNull = ltNull
        prevLt = lt
        haveLPrev = true
        while (!rHeadDone && rightApplies(le, ltNull, lt)) {
          // absorb the head into the carry (copies — the sorter reuses
          // row objects)
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
          if (rHeadTsNull) carry.setNullAt(carrySchema.length - 1)
          else carry.setLong(carrySchema.length - 1, rHeadTs)
          carryEntity = rHeadEntity
          hasCarry = true
          advanceRight()
        }
        val matches = hasCarry && entityOrd(carryEntity, le) == 0
        numOutputRows += 1
        if (matches) numMatched += 1
        project(joined(lRow, if (matches) carry else nullCarry))
      }
      new Iterator[InternalRow] {
        def hasNext: Boolean = out.hasNext || {
          while (!rHeadDone) advanceRight()
          false
        }
        def next(): InternalRow = out.next()
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Optimizer BARRIER: a pass-through the optimizer cannot push
  * predicates or pruning through. It claims nothing: its output
  * partitioning and ordering are its child's. Use it between an
  * expensive aliased array computation and an explode:
  * InferFiltersFromGenerate adds a size(child)>0 filter above every
  * explode, and predicate pushdown substitutes the full expression into
  * it (evaluating e.g. a frame loop 3x per row); above the barrier the
  * filter tests the already-computed column. Project exactly the needed
  * columns BELOW the barrier — column pruning stops at it too. */
case class PlanBarrierNode(child: LogicalPlan)
    extends org.apache.spark.sql.catalyst.plans.logical.UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): PlanBarrierNode =
    copy(child = c)
}

case class PlanBarrierExec(child: SparkPlan)
    extends org.apache.spark.sql.execution.UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): PlanBarrierExec =
    copy(child = c)
}

/** Planner strategy lowering the logical nodes; installed on the session
  * by [[AsOfNative.install]] (or at session build by GraftExtensions). */
object AsOfJoinStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftEntity, n.leftTs, n.rightEntity, n.rightTs,
        n.rightValues, n.strict, n.presorted, n.matchedTs,
        planLater(n.left), planLater(n.right)) :: Nil
    case n: PlanBarrierNode =>
      PlanBarrierExec(planLater(n.child)) :: Nil
    case _ => Nil
  }
}

object PlanBarrier {
  /** `df` behind a [[PlanBarrierNode]]. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    AsOfNative.install(spark)
    Bridge.ofRows(spark, PlanBarrierNode(df.queryExecution.analyzed))
  }
}

object AsOfNative {

  /** Register the strategy on the session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[AsOfJoinStrategy.type]))
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
  }
}
