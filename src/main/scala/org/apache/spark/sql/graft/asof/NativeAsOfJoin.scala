package org.apache.spark.sql.graft.asof

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

/** Native partitioned merge-scan as-of join with k fact slots (SURVEY.md
  * §4: "if still hot at 100 TB: custom SparkStrategy for a partitioned
  * merge-scan as-of join — the only place a custom strategy is plausibly
  * warranted").
  *
  * Physical contract: both sides hash-clustered on the key and sorted by
  * (key, ts) — EnsureRequirements inserts the exchanges/sorts exactly as it
  * does for SortMergeJoin — then ONE forward pass per partition merges them.
  * Every fact carries an int slot (`rightSlot`; a one-slot join passes the
  * literal of its only slot value), and the merge keeps one carried fact per
  * slot: for each spine row the fact iterator advances through facts with
  * (key < spineKey) — skipped, no later spine row can see them — or
  * (key == spineKey && ts <= spineTs), each of which replaces the carried
  * fact of its slot. All slots reset when the spine key changes. The spine
  * row then emits, for each of the k slots in `slotValues` order, that
  * slot's `payload` values (nulls for a slot with no eligible fact).
  * O(S + F) per partition, zero intermediate rows, no window buffer, and
  * one scan, shuffle and sort of the facts for any number of slots.
  *
  * Semantics (differentially tested against graft.operators.AsOfJoin
  * .thetaWindow, per slot): inclusive `ts <=`, equal-ts ties resolved to the
  * greatest tie column (right side is additionally sorted by the tie
  * expression), unmatched spine rows null-extended. Null is a key value,
  * and null fact timestamps map to Long.MinValue, so they sort first and DO
  * match every spine timestamp — a null-ts fact is carried until a real
  * observation overrides it. A fact whose slot is null or not in
  * `slotValues` is skipped.
  *
  * `slotOutput` holds the attributes this node PRODUCES (slot-major:
  * slot 0's payload, then slot 1's, ...), so both the node and the exec
  * declare them in `producedAttributes` — without that CheckAnalysis sees
  * them as references missing from the children's output.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTie: Expression,
    rightSlot: Expression,
    payload: Seq[Attribute],
    slotValues: Seq[Int],
    slotOutput: Seq[Attribute])
  extends BinaryNode {

  require(slotValues.distinct.size == slotValues.size, s"as-of slot values must be distinct: $slotValues")
  require(slotOutput.size == slotValues.size * payload.size,
    s"${slotValues.size} slots x ${payload.size} payload columns need as many output attributes, " +
      s"got ${slotOutput.size}")

  override def output: Seq[Attribute] = left.output ++ slotOutput
  override def producedAttributes: AttributeSet = AttributeSet(slotOutput)

  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object NativeAsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, rtie, rslot, payload, slots, out) =>
      AsOfJoinExec(lk, rk, lts, rts, rtie, rslot, payload, slots, out, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** The physical merge of [[AsOfJoinNode]]; whole-stage codegen with an
  * interpreted `doExecute` fallback that computes the same rows.
  *
  * SQL metrics (both paths): `numSpineRows` (spine rows merged, one output
  * row each), `numFactRows` (facts merged into a slot — those visible to at
  * least one spine row of their key; facts skipped because no spine row
  * can see them are not counted) and `numFilledSlots` (output slots that
  * carry a fact, i.e. non-null slot timestamps).
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTie: Expression,
    rightSlot: Expression,
    payload: Seq[Attribute],
    slotValues: Seq[Int],
    slotOutput: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan)
  extends SparkPlan with BinaryExecNode with CodegenSupport {

  // long-backed timestamps ONLY, enforced at PLAN time for both execution
  // paths alike: the interpreted fallback reads eval() results with
  // asInstanceOf[Long], while whole-stage codegen would silently WIDEN an
  // int-backed expression (IntegerType/DateType) via Java conversion —
  // the same plan must not succeed under codegen and fail (or, worse,
  // compare date-days against timestamp-micros) under the fallback
  require(Seq(leftTs, rightTs).forall(e =>
    e.dataType == TimestampType || e.dataType == TimestampNTZType || e.dataType == LongType),
    s"as-of join timestamps must be timestamp- or long-typed, got " +
      s"${leftTs.dataType.simpleString} / ${rightTs.dataType.simpleString} — cast first")
  require(rightSlot.dataType == IntegerType, s"as-of slot must be int-typed, got ${rightSlot.dataType}")

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numSpineRows" -> SQLMetrics.createMetric(sparkContext, "number of spine rows"),
    "numFactRows" -> SQLMetrics.createMetric(sparkContext, "number of fact rows merged"),
    "numFilledSlots" -> SQLMetrics.createMetric(sparkContext, "number of filled slots"))

  override def output: Seq[Attribute] = left.output ++ slotOutput
  override def producedAttributes: AttributeSet = AttributeSet(slotOutput)

  // spine rows pass through untouched, in order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending) :+ SortOrder(rightTie, Ascending))

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  private def k: Int = slotValues.size
  // position of each payload attribute in a fact row
  private def payloadOrdinals: Seq[Int] = payload.map { a =>
    val i = right.output.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"as-of payload $a is not a column of the fact side")
    i
  }

  // ---- whole-stage codegen -----------------------------------------------
  // Same two-iterator shape SortMergeJoinExec uses: this node is the stage's
  // produce root over BOTH children's row iterators (the sorts below are
  // pipeline breakers anyway, so nothing is lost by not chaining their
  // produce), and downstream projects/filters fuse through consume().
  // If janino rejects the generated code Spark silently falls back to
  // doExecute() — the interpreted merge below stays the semantic reference.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];")
    val headRow = ctx.addMutableState("InternalRow", "asofHead")
    // the carried fact of each slot (null: none); a key change resets them
    val slots = ctx.addMutableState("InternalRow[]", "asofSlots",
      v => s"$v = new InternalRow[$k];", forceInline = true)
    // the last merged fact: its key is the current key, and while it is
    // null every slot is empty
    val lastFact = ctx.addMutableState("InternalRow", "asofLastFact")
    val numSpine = metricTerm(ctx, "numSpineRows")
    val numFacts = metricTerm(ctx, "numFactRows")
    val numFilled = metricTerm(ctx, "numFilledSlots")

    val leftRow = ctx.freshName("asofLeftRow")
    ctx.currentVars = null

    // evaluate `exprs` bound against `attrs` with INPUT_ROW = `row`
    def evalOn(row: String, exprs: Seq[Expression], attrs: Seq[Attribute]): Seq[ExprCode] = {
      val saved = ctx.INPUT_ROW
      ctx.INPUT_ROW = row
      val codes = exprs.map(BindReferences.bindReference(_, attrs).genCode(ctx))
      ctx.INPUT_ROW = saved
      codes
    }
    // cascade per-key comparisons (nulls first, null == null) into cmpVar
    def keyCompare(cmpVar: String, a: Seq[ExprCode], b: Seq[ExprCode]): String =
      leftKeys.zipWithIndex.map { case (key, i) =>
        val c = ctx.freshName("c")
        s"""
           |if ($cmpVar == 0) {
           |  int $c;
           |  if (${a(i).isNull} && ${b(i).isNull}) $c = 0;
           |  else if (${a(i).isNull}) $c = -1;
           |  else if (${b(i).isNull}) $c = 1;
           |  else $c = ${ctx.genComp(key.dataType, a(i).value.toString, b(i).value.toString)};
           |  $cmpVar = $c;
           |}
         """.stripMargin
      }.mkString("\n")

    val lKeys = evalOn(leftRow, leftKeys, left.output)
    val lTs = evalOn(leftRow, Seq(leftTs), left.output).head
    val lts = ctx.freshName("lts")

    val gKeys = evalOn(lastFact, rightKeys, right.output)
    val cmpGroup = ctx.freshName("cmpGroup")

    val hKeys = evalOn(headRow, rightKeys, right.output)
    val hTs = evalOn(headRow, Seq(rightTs), right.output).head
    val hSlot = evalOn(headRow, Seq(rightSlot), right.output).head
    val hts = ctx.freshName("hts")
    val cmpAdv = ctx.freshName("cmpAdv")
    val idx = ctx.freshName("slotIdx")
    val slotCases = slotValues.zipWithIndex.map { case (v, i) => s"case $v: $idx = $i; break;" }.mkString("\n")
    val filled = ctx.freshName("filled")

    // output: left attrs straight off leftRow; each slot's payload
    // null-guarded off that slot's carried fact
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      val saved = ctx.INPUT_ROW
      ctx.INPUT_ROW = leftRow
      val ev = BoundReference(i, a.dataType, a.nullable).genCode(ctx)
      ctx.INPUT_ROW = saved
      ev
    }
    val slotRows = (0 until k).map(_ => ctx.freshName("asofSlotRow"))
    val slotVars = for (slotRow <- slotRows; (a, ord) <- payload.zip(payloadOrdinals)) yield {
      val isNull = ctx.freshName("sIsNull")
      val value = ctx.freshName("sValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val src =
        s"""
           |boolean $isNull = ($slotRow == null) || $slotRow.isNullAt($ord);
           |$jt $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} :
           |  (${CodeGenerator.getValue(slotRow, a.dataType, ord.toString)});
         """.stripMargin
      ExprCode(code"$src", JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
    }
    val bindSlotRows = slotRows.zipWithIndex.map { case (r, i) =>
      s"""
         |InternalRow $r = $slots[$i];
         |if ($r != null) $filled++;
       """.stripMargin
    }.mkString("\n")

    // the loop stops through shouldStop() alone, as SortMergeJoinExec's
    // does: Spark reserves limitNotReachedCond for leaf and blocking nodes
    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  $numSpine.add(1);
       |  ${lKeys.map(_.code.toString).mkString("\n")}
       |  ${lTs.code}
       |  long $lts = ${lTs.isNull} ? Long.MIN_VALUE : ${lTs.value};
       |  if ($lastFact != null) {
       |    ${gKeys.map(_.code.toString).mkString("\n")}
       |    int $cmpGroup = 0;
       |    ${keyCompare(cmpGroup, gKeys, lKeys)}
       |    if ($cmpGroup != 0) { java.util.Arrays.fill($slots, null); $lastFact = null; }
       |  }
       |  while (true) {
       |    if ($headRow == null) {
       |      if (!$rightInput.hasNext()) break;
       |      $headRow = (InternalRow) $rightInput.next();
       |    }
       |    ${hKeys.map(_.code.toString).mkString("\n")}
       |    int $cmpAdv = 0;
       |    ${keyCompare(cmpAdv, hKeys, lKeys)}
       |    if ($cmpAdv > 0) break;
       |    if ($cmpAdv == 0) {
       |      ${hTs.code}
       |      long $hts = ${hTs.isNull} ? Long.MIN_VALUE : ${hTs.value};
       |      if ($hts > $lts) break;
       |      ${hSlot.code}
       |      int $idx = -1;
       |      if (!${hSlot.isNull}) {
       |        switch (${hSlot.value}) {
       |          $slotCases
       |          default: break;
       |        }
       |      }
       |      if ($idx >= 0) {
       |        $slots[$idx] = $headRow.copy();
       |        $lastFact = $slots[$idx];
       |        $numFacts.add(1);
       |      }
       |    }
       |    $headRow = null;
       |  }
       |  long $filled = 0L;
       |  $bindSlotRows
       |  $numFilled.add($filled);
       |  ${consume(ctx, leftVars ++ slotVars)}
       |  $shouldStopCheckCode
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val ltsExpr = leftTs; val rtsExpr = rightTs; val slotExpr = rightSlot
    val out = output
    val nSlots = k
    val ords = payloadOrdinals.toArray
    val types = payload.map(_.dataType).toArray
    val slotIndex = slotValues.zipWithIndex.toMap
    val (numSpine, numFacts, numFilled) =
      (longMetric("numSpineRows"), longMetric("numFactRows"), longMetric("numFilledSlots"))

    left.execute().zipPartitions(right.execute()) { (lIter, rIter0) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val boundLts = BindReferences.bindReference(ltsExpr, lOut)
      val boundRts = BindReferences.bindReference(rtsExpr, rOut)
      val boundSlot = BindReferences.bindReference(slotExpr, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joiner = new JoinedRow
      val slotRow = new GenericInternalRow(nSlots * ords.length)
      val resultProj = UnsafeProjection.create(out, out)
      val rIter = rIter0.buffered

      // same state as the codegen path: the carried fact per slot
      val slots = new Array[InternalRow](nSlots)
      var lastFact: InternalRow = null

      def tsOf(e: Expression, row: InternalRow): Long = {
        val v = e.eval(row)
        if (v == null) Long.MinValue else v.asInstanceOf[Long]
      }

      lIter.map { lrow =>
        numSpine += 1
        val lkey = lKeyProj(lrow)
        val lts = tsOf(boundLts, lrow)
        if (lastFact != null && keyOrd.compare(rKeyProj(lastFact), lkey) != 0) {
          java.util.Arrays.fill(slots.asInstanceOf[Array[AnyRef]], null)
          lastFact = null
        }
        var advance = true
        while (advance && rIter.hasNext) {
          val head = rIter.head
          val cmp = keyOrd.compare(rKeyProj(head), lkey)
          if (cmp < 0) rIter.next()
          else if (cmp == 0 && tsOf(boundRts, head) <= lts) {
            val r = rIter.next()
            Option(boundSlot.eval(r)).flatMap(s => slotIndex.get(s.asInstanceOf[Int])).foreach { i =>
              slots(i) = r.copy()
              lastFact = slots(i)
              numFacts += 1
            }
          } else {
            advance = false
          }
        }
        var i = 0
        while (i < nSlots) {
          val live = slots(i) != null
          if (live) numFilled += 1
          var j = 0
          while (j < ords.length) {
            val pos = i * ords.length + j
            if (live && !slots(i).isNullAt(ords(j))) slotRow.update(pos, slots(i).get(ords(j), types(j)))
            else slotRow.setNullAt(pos)
            j += 1
          }
          i += 1
        }
        resultProj(joiner(lrow, slotRow))
      }
    }
  }
}
