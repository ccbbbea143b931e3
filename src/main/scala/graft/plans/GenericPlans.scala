package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast, Expression, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, NullPropagation}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.types.{DataType, StringType}

/** Placeholder `$index` of a generic plan: `graft_param(index)` in the
  * template text. String-typed, the type the bound-text path gives a
  * parameter (a quoted literal), so the template analyzes with the same
  * coercions; never foldable, so the optimizer cannot fold a value into
  * the plan.
  */
case class ParamRef(index: Int) extends LeafExpression with Unevaluable {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def toString: String = s"$$$index"
}

/** Generic plans for extended-protocol statements (Postgres's generic
  * vs. custom plans): a `$n` template is analyzed and optimized once with
  * [[ParamRef]] placeholders; each execution binds its values into that
  * optimized plan, folds the casts and runs physical planning only.
  */
object GenericPlans {

  /** The template text the engine plans: each `$n` becomes a call the
    * parser accepts and the analyzer resolves to a [[ParamRef]].
    */
  def templateText(sql: String): String =
    graft.engine.SqlText.substituteParams(sql, i => s"graft_param($i)")

  private def isParam(e: Expression): Boolean = e match {
    case _: ParamRef => true
    case c: Cast => c.child.isInstanceOf[ParamRef]
    case _ => false
  }

  /** A template is sound to reuse when every placeholder is a comparison
    * operand (under at most a cast) in a filter of the main plan: there
    * the bound value decides only which rows pass, never the plan's shape
    * or result type. A placeholder anywhere else (a LIMIT, a projection,
    * a LIKE pattern, a subquery) sends the statement down the bound-text
    * path.
    */
  def eligible(plan: LogicalPlan): Boolean = {
    var placed = 0
    plan.foreach {
      case Filter(cond, _) => cond.foreach {
        case c: BinaryComparison => placed += c.children.count(isParam)
        case _ =>
      }
      case _ =>
    }
    val total = plan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect { case r: ParamRef => r }.size).sum
    }.sum
    total > 0 && placed == total
  }

  /** One execution of a template: the bound values replace the
    * placeholders in its optimized plan, the casts over them fold, and
    * the result plans physically from there.
    */
  def bind(spark: SparkSession, template: DataFrame, params: Seq[String]): DataFrame = {
    val bound = template.queryExecution.optimizedPlan.transformAllExpressionsWithSubqueries {
      case ParamRef(i) => Literal.create(params(i - 1), StringType)
    }
    org.apache.spark.sql.graftbridge.Bridge.ofOptimized(spark,
      NullPropagation(ConstantFolding(bound)))
  }
}
