package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one document's postings in one pass —
  * `text_postings(array<string> tokens, boolean positions) →
  * array<struct<term, tf, pos>>`, one element per DISTINCT token in
  * first-occurrence order, `tf` its occurrence count and `pos` its
  * 1-based token positions, ascending (NULL when `positions` is false).
  *
  * Semantics are the per-document group it replaces in
  * [[graft.operators.FullText.postingsOf]]: `posexplode(tk)` then
  * `groupBy(doc, term).agg(count, array_sort(collect_list(p + 1)))` —
  * pinned bit-equal by PostingsSpec. A NULL token array yields NULL (the
  * explode produced no row for it, and neither does a Generate over
  * NULL); an empty one the empty array. A NULL token element groups as
  * its own term, like the groupBy key did — unreachable from
  * [[graft.operators.Analyzer.tokens]], whose splits never yield nulls.
  *
  * Why an expression: postings are row-local in meaning, but the
  * groupBy/collect_list spelling paid a shuffle of every (doc, term)
  * pair plus a sort-based collect per group. This operator builds the
  * postings inside the projection, so a Generate over it emits the
  * postings rows directly and the plan has no Exchange — which is what
  * makes commit-time text index maintenance a single stage.
  *
  * Registered through `GraftExtensions` like [[WordGrams]].
  */
case class TextPostings(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = TextPostings.Type
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val tokOk = left.dataType match {
      case ArrayType(StringType, _) | NullType => true
      case _ => false
    }
    if (!tokOk) TypeCheckResult.TypeCheckFailure(
      s"text_postings expects array<string> tokens, got ${left.dataType.catalogString}")
    else if (right.dataType != BooleanType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "text_postings expects a literal boolean positions flag")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val withPositions: Boolean = right.eval() == true

  override def nullSafeEval(toks: Any, positions: Any): Any =
    TextPostings.compute(toks.asInstanceOf[ArrayData], withPositions)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, _) =>
      s"${ev.value} = graft.functions.TextPostings.compute($toks, $withPositions);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TextPostings =
    copy(left = newLeft, right = newRight)
}

object TextPostings {
  val Type: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("tf", LongType, nullable = false),
    StructField("pos", ArrayType(IntegerType, containsNull = false), nullable = true))),
    containsNull = false)

  /** Column-level entry point (resolves through the session's function
    * registry — sessions must be built with GraftExtensions). */
  def textPostings(tokens: Column, positions: Boolean): Column =
    call_function("text_postings", tokens,
      org.apache.spark.sql.functions.lit(positions))

  /** Distinct terms in first-occurrence order with their counts and
    * (when `positions`) ascending 1-based positions. Called from
    * generated code — must stay static-shaped. */
  def compute(toks: ArrayData, positions: Boolean): ArrayData = {
    val num = toks.numElements()
    val slotOf = new java.util.HashMap[UTF8String, Integer]()
    val terms = new Array[UTF8String](num)
    val tf = new Array[Int](num)
    val tokSlot = new Array[Int](num)
    var distinct = 0
    var i = 0
    while (i < num) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val known = slotOf.get(t)
      val s = if (known != null) known.intValue else {
        slotOf.put(t, distinct); terms(distinct) = t; distinct += 1
        distinct - 1
      }
      tf(s) += 1
      tokSlot(i) = s
      i += 1
    }
    // second pass: each slot's positions, ascending because tokens are
    // visited in order
    val pos = if (positions) Array.tabulate(distinct)(s => new Array[Int](tf(s))) else null
    if (positions) {
      val filled = new Array[Int](distinct)
      i = 0
      while (i < num) {
        val s = tokSlot(i)
        pos(s)(filled(s)) = i + 1
        filled(s) += 1
        i += 1
      }
    }
    val out = new Array[AnyRef](distinct)
    var s = 0
    while (s < distinct) {
      out(s) = new GenericInternalRow(Array[Any](terms(s), tf(s).toLong,
        if (positions) UnsafeArrayData.fromPrimitiveArray(pos(s)) else null))
      s += 1
    }
    new GenericArrayData(out)
  }
}
