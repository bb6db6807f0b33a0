package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** A non-null literal whose value lives in the generated class's
  * `references` array instead of its source text. Spark's compiled-class
  * cache is keyed by source text, so two queries that differ only in such
  * a value share one class: a dashboard whose date window moves compiles
  * nothing. The value is read once per class instance into a primitive
  * field, so rows pay no unboxing. Renders exactly as the [[Literal]] it
  * replaces, so plan strings do not change. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral holds a non-null value")
  private def literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: the literal operands of comparisons in a [[FilterExec]]
  * condition become [[ParamLiteral]]s, for the types whose `Literal`
  * codegen inlines the value (long, int, double, date, timestamp). Scans
  * are not touched: their pushed and partition filters keep real
  * literals, so parquet row-group and partition pruning are unchanged. */
object ParamLiterals extends Rule[SparkPlan] {
  private def inlined(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case other => other
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transformUp {
        case b: BinaryComparison => b.withNewChildren(b.children.map(param))
      }
      if (c.fastEquals(f.condition)) f else f.copy(condition = c)
  }
}

/** Optimizer rule: partition bounds for a table partitioned by
  * `p_date = to_date(tsCol)`, derived from the comparisons of `tsCol`
  * with a constant. The relation names its `tsCol` in the reader option
  * [[OptionKey]] (`Store.readFact` sets it; parquet ignores the key). For
  * a `Filter` directly over such a relation, each conjunct `tsCol > b`,
  * `>=`, or the flipped form adds `p_date >= date(b) - 1`; `<`, `<=` add
  * `p_date <= date(b) + 1`; `=` adds both. `date(b)` is the UTC date of
  * the bound, and the writer's session-local date of an instant is at
  * most one day from its UTC date, so the slack keeps every partition
  * that can hold a matching row, whatever time zone wrote the table. The
  * original `tsCol` predicate still decides which rows survive. A bound
  * already present is not added again, so the rule is idempotent. */
object DatePartitionBounds extends Rule[LogicalPlan] with PredicateHelper {
  val OptionKey = "graft.datePartitionOf"

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) => rel.relation match {
      case fs: HadoopFsRelation if fs.partitionSchema.fieldNames.contains("p_date") =>
        (for {
          tsCol <- fs.options.get(OptionKey)
          pDate <- rel.output.find(a => a.name == "p_date" && a.dataType == DateType)
        } yield withBounds(f, tsCol, pDate)).getOrElse(f)
      case _ => f
    }
  }

  private def withBounds(f: Filter, tsCol: String, pDate: Attribute): Filter = {
    def isTs(e: Expression): Boolean = e match {
      case a: AttributeReference => conf.resolver(a.name, tsCol) &&
        (a.dataType == TimestampType || a.dataType == TimestampNTZType)
      case _ => false
    }
    def day(b: Expression, slack: Int): Option[Literal] =
      if (!b.foldable || !b.deterministic) None
      else Option(Cast(b, DateType, Some("UTC")).eval())
        .map(d => Literal(d.asInstanceOf[Int] + slack, DateType))
    def lower(b: Expression) = day(b, -1).map(GreaterThanOrEqual(pDate, _)).toSeq
    def upper(b: Expression) = day(b, 1).map(LessThanOrEqual(pDate, _)).toSeq

    val conjuncts = splitConjunctivePredicates(f.condition)
    val derived = conjuncts.flatMap {
      case GreaterThan(t, b) if isTs(t) => lower(b)
      case GreaterThanOrEqual(t, b) if isTs(t) => lower(b)
      case LessThan(b, t) if isTs(t) => lower(b)
      case LessThanOrEqual(b, t) if isTs(t) => lower(b)
      case LessThan(t, b) if isTs(t) => upper(b)
      case LessThanOrEqual(t, b) if isTs(t) => upper(b)
      case GreaterThan(b, t) if isTs(t) => upper(b)
      case GreaterThanOrEqual(b, t) if isTs(t) => upper(b)
      case EqualTo(t, b) if isTs(t) => lower(b) ++ upper(b)
      case EqualTo(b, t) if isTs(t) => lower(b) ++ upper(b)
      case _ => Nil
    }
    val present = ExpressionSet(conjuncts)
    val fresh = derived.distinct.filterNot(present.contains)
    if (fresh.isEmpty) f else f.copy(condition = (f.condition +: fresh).reduce(And))
  }
}
