package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, InSet, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value from
  * the codegen references array instead of spelling it into the Java
  * source. Two filters that differ only by key then generate the same
  * source and share one compiled class from Spark's codegen cache (the
  * tokenized-literal idea of SnappyData's `ParamLiteral`).
  *
  * The value takes part in equality and canonicalization (a case-class
  * field), so two plans that differ by key never share a reused exchange.
  * It is not foldable, and it renders exactly as the [[Literal]] it
  * replaces, so EXPLAIN text is unchanged. Only [[ParameterizeFilterLiterals]]
  * creates it, on physical plans, after the optimizer has run.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val term = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(term, dataType))
  }
}

/** Physical rule, run before whole-stage codegen collapses the plan:
  * rewrites the non-null primitive literals of every `FilterExec`
  * condition that sit as a direct operand of a binary comparison or as an
  * `IN` list item into [[ParamLiteral]]s. Without it every point, value
  * and range read with a new key compiles fresh Janino classes, since
  * Spark writes primitive literals into the generated source.
  *
  * An `INSET` over an int-like column codegens its keys as `switch` cases
  * up to `spark.sql.optimizer.inSetSwitchThreshold` keys, so such a set is
  * turned back into an `IN` list of parameters. Larger sets, and sets over
  * other types, already read their keys from a referenced hash set.
  *
  * Scans keep their own data and pushed filters, so Parquet pruning is
  * untouched, and logical plans never see the parameter.
  */
object ParameterizeFilterLiterals extends Rule[SparkPlan] {
  private val paramTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType)
  private val switchTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType, DateType)

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && paramTypes(t) => ParamLiteral(v, t)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      case in: In => in.withNewChildren(in.value +: in.list.map(param))
      case s: InSet if switchTypes(s.child.dataType) &&
          s.hset.size <= SQLConf.get.optimizerInSetSwitchThreshold =>
        In(s.child, s.hset.toSeq.map(v => param(Literal(v, s.child.dataType))))
    })
  }
}
