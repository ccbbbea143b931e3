package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types._

/** A primitive literal whose generated code reads its value from the
  * plan's `references[]` once, into a field, instead of inlining it.
  *
  * Spark's `Literal.doGenCode` writes int, long, date, timestamp and
  * float values into the Java source, so every new key of a point lookup
  * (or every fresh TPC-H date) yields new source text, misses the
  * compiled-class cache and pays a Janino compile. With the value behind a
  * reference, plans that differ only in such literals generate identical
  * source and share one compiled class. Evaluation, equality and printing
  * are the literal's, so plan strings and exchange reuse do not change.
  */
case class RefLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("literal", value, boxed)
    val field = ctx.addMutableState(javaType, "refLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule, run before columnar transitions (and so before
  * whole-stage codegen): turns the primitive literals that are direct
  * operands of a comparison in a `FilterExec` or a join condition into
  * [[RefLiteral]]s.
  *
  * Left alone on purpose:
  *  - scan `dataFilters`/`partitionFilters`, which Parquet pushdown and
  *    partition pruning read as plain literals;
  *  - literals that codegen reads only when `foldable` (the `Like`
  *    pattern, the `Round` scale and similar), where a reference would
  *    lose the one-time compile of a specialised kernel;
  *  - strings and decimals, which Spark already loads from `references[]`.
  */
object TokenizeLiterals extends Rule[SparkPlan] {

  private def tokenizable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def operand(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && tokenizable(dt) => RefLiteral(v, dt)
    case other => other
  }

  private def tokenize(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(operand))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = tokenize(f.condition))
    case j: BroadcastHashJoinExec if j.condition.isDefined =>
      j.copy(condition = j.condition.map(tokenize))
    case j: ShuffledHashJoinExec if j.condition.isDefined =>
      j.copy(condition = j.condition.map(tokenize))
    case j: SortMergeJoinExec if j.condition.isDefined =>
      j.copy(condition = j.condition.map(tokenize))
    case j: BroadcastNestedLoopJoinExec if j.condition.isDefined =>
      j.copy(condition = j.condition.map(tokenize))
    case j: CartesianProductExec if j.condition.isDefined =>
      j.copy(condition = j.condition.map(tokenize))
  }

  /** The rule as `SparkSessionExtensions.injectColumnar` takes it. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = TokenizeLiterals
  }
}
