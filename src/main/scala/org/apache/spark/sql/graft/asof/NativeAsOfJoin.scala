package org.apache.spark.sql.graft.asof

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}

/** Native partitioned merge-scan as-of join (SURVEY.md §4: "if still hot at
  * 100 TB: custom SparkStrategy for a partitioned merge-scan as-of join —
  * the only place a custom strategy is plausibly warranted").
  *
  * Physical contract: both sides hash-clustered on the key and sorted by
  * (key, ts) — EnsureRequirements inserts the exchanges/sorts exactly as it
  * does for SortMergeJoin — then ONE forward pass per partition merges them:
  * for each spine row, the right iterator advances through facts with
  * (key < spineKey) or (key == spineKey && ts <= spineTs), remembering the
  * last fact per key. O(S + F) per partition, zero intermediate rows, no
  * window buffer: strictly less work than both the theta-join (O(S*F) pairs)
  * and a union+window carry-forward (sorts S+F rows together and carries
  * struct state through a window frame).
  *
  * Semantics (differentially tested against graft.operators.AsOfJoin
  * .thetaWindow): inclusive `ts <=`, equal-ts ties resolved to the greatest
  * tie column (right side is additionally sorted by the tie expression),
  * unmatched spine rows null-extended. Null is a key value, and null fact
  * timestamps map to Long.MinValue, so they sort first and DO match every
  * spine timestamp — a null-ts fact is carried until a real observation
  * overrides it.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTie: Expression)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object NativeAsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, rtie) =>
      AsOfJoinExec(lk, rk, lts, rts, rtie, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTie: Expression,
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
    e.dataType == org.apache.spark.sql.types.TimestampType ||
      e.dataType == org.apache.spark.sql.types.TimestampNTZType ||
      e.dataType == org.apache.spark.sql.types.LongType),
    s"as-of join timestamps must be timestamp- or long-typed, got " +
      s"${leftTs.dataType.simpleString} / ${rightTs.dataType.simpleString} — cast first")

  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))

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
    val carriedRow = ctx.addMutableState("InternalRow", "asofCarried")
    val carriedTs = ctx.addMutableState("long", "asofCarriedTs",
      v => s"$v = Long.MIN_VALUE;")

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
      leftKeys.zipWithIndex.map { case (k, i) =>
        val c = ctx.freshName("c")
        s"""
           |if ($cmpVar == 0) {
           |  int $c;
           |  if (${a(i).isNull} && ${b(i).isNull}) $c = 0;
           |  else if (${a(i).isNull}) $c = -1;
           |  else if (${b(i).isNull}) $c = 1;
           |  else $c = ${ctx.genComp(k.dataType, a(i).value.toString, b(i).value.toString)};
           |  $cmpVar = $c;
           |}
         """.stripMargin
      }.mkString("\n")

    val lKeys = evalOn(leftRow, leftKeys, left.output)
    val lTs = evalOn(leftRow, Seq(leftTs), left.output).head
    val lts = ctx.freshName("lts")

    val hKeys = evalOn(headRow, rightKeys, right.output)
    val hTs = evalOn(headRow, Seq(rightTs), right.output).head
    val hts = ctx.freshName("hts")
    val cmpAdv = ctx.freshName("cmpAdv")

    val cKeys = evalOn(carriedRow, rightKeys, right.output)
    val cmpMatch = ctx.freshName("cmpMatch")
    val matched = ctx.freshName("matched")
    val rightRowTerm = ctx.freshName("asofRightRow")

    // output: left attrs straight off leftRow; right attrs null-guarded off
    // the matched carried row
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      val saved = ctx.INPUT_ROW
      ctx.INPUT_ROW = leftRow
      val ev = org.apache.spark.sql.catalyst.expressions.BoundReference(i, a.dataType, a.nullable).genCode(ctx)
      ctx.INPUT_ROW = saved
      ev
    }
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("rIsNull")
      val value = ctx.freshName("rValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val src =
        s"""
           |boolean $isNull = ($rightRowTerm == null) || $rightRowTerm.isNullAt($i);
           |$jt $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} :
           |  (${CodeGenerator.getValue(rightRowTerm, a.dataType, i.toString)});
         """.stripMargin
      ExprCode(code"$src", JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
    }

    s"""
       |while ($limitNotReachedCond $leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  ${lKeys.map(_.code.toString).mkString("\n")}
       |  ${lTs.code}
       |  long $lts = ${lTs.isNull} ? Long.MIN_VALUE : ${lTs.value};
       |  while (true) {
       |    if ($headRow == null) {
       |      if (!$rightInput.hasNext()) break;
       |      $headRow = (InternalRow) $rightInput.next();
       |    }
       |    ${hKeys.map(_.code.toString).mkString("\n")}
       |    ${hTs.code}
       |    long $hts = ${hTs.isNull} ? Long.MIN_VALUE : ${hTs.value};
       |    int $cmpAdv = 0;
       |    ${keyCompare(cmpAdv, hKeys, lKeys)}
       |    if ($cmpAdv < 0 || ($cmpAdv == 0 && $hts <= $lts)) {
       |      $carriedRow = $headRow.copy();
       |      $carriedTs = $hts;
       |      $headRow = null;
       |    } else {
       |      break;
       |    }
       |  }
       |  boolean $matched = false;
       |  if ($carriedRow != null && $carriedTs <= $lts) {
       |    ${cKeys.map(_.code.toString).mkString("\n")}
       |    int $cmpMatch = 0;
       |    ${keyCompare(cmpMatch, cKeys, lKeys)}
       |    $matched = ($cmpMatch == 0);
       |  }
       |  InternalRow $rightRowTerm = $matched ? $carriedRow : null;
       |  ${consume(ctx, leftVars ++ rightVars)}
       |  $shouldStopCheckCode
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val ltsExpr = leftTs; val rtsExpr = rightTs
    val out = output
    val nRight = rOut.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter0) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val boundLts = BindReferences.bindReference(ltsExpr, lOut)
      val boundRts = BindReferences.bindReference(rtsExpr, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joiner = new JoinedRow
      val nullRight: InternalRow = new GenericInternalRow(nRight)
      val resultProj = UnsafeProjection.create(out, out)
      val rIter = rIter0.buffered

      var carriedKey: UnsafeRow = null
      var carriedFact: InternalRow = null

      def tsOf(e: Expression, row: InternalRow): Long = {
        val v = e.eval(row)
        if (v == null) Long.MinValue else v.asInstanceOf[Long]
      }

      lIter.map { lrow =>
        val lkey = lKeyProj(lrow)
        val lts = tsOf(boundLts, lrow)
        var advance = true
        while (advance && rIter.hasNext) {
          val head = rIter.head
          val cmp = keyOrd.compare(rKeyProj(head), lkey)
          if (cmp < 0 || (cmp == 0 && tsOf(boundRts, head) <= lts)) {
            val r = rIter.next()
            carriedKey = rKeyProj(r).copy()
            carriedFact = r.copy()
          } else {
            advance = false
          }
        }
        val matched = carriedFact != null &&
          keyOrd.compare(carriedKey, lkey) == 0 &&
          tsOf(boundRts, carriedFact) <= lts
        resultProj(joiner(lrow, if (matched) carriedFact else nullRight))
      }
    }
  }
}
