package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Planner extension for family scans — relations opened by
  * [[TimeSeriesTable.open]], which carry the [[Marker]] read option.
  * [[install]] puts it on a session through `spark.experimental`
  * (idempotent; `open` calls it, so it reaches every session that opens
  * a family, including ones the library did not build). Two parts:
  *
  *  - [[InferDtBounds]] (optimizer): a `Filter` directly over a family
  *    relation whose conjuncts bound `ts` by timestamp literals gets the
  *    implied `dt` bounds added, so the scan prunes date partitions. The
  *    bounds rest on the layout contract stated on [[TimeSeriesTable]].
  *  - [[StableFilterCodegen]] (physical planning): the `FilterExec`
  *    over a family scan gets its comparison literals replaced by
  *    [[Parameter]]s, which reach generated code through the references
  *    array, so requests that differ only in their literals generate the
  *    same Java source and hit the JVM-wide compiled-code cache instead
  *    of compiling it afresh. The scan's partition and pushed filters
  *    keep plain literals, so pruning and row-group pushdown see values.
  */
object FamilyScan {

  /** Read option [[TimeSeriesTable.open]] sets on every family relation. */
  private[sources] val Marker = "graft.family"

  private[sources] def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(InferDtBounds))
        x.extraOptimizations = x.extraOptimizations :+ InferDtBounds
      if (!x.extraStrategies.contains(StableFilterCodegen))
        x.extraStrategies = StableFilterCodegen +: x.extraStrategies
    }
  }

  private def isFamily(r: LogicalRelation): Boolean = r.relation match {
    case fs: HadoopFsRelation => fs.options.get(Marker).contains("true")
    case _ => false
  }

  /** Adds `dt >= to_date(lo) AND dt <= to_date(hi)` to a family filter
    * from its conjunctive `ts` comparisons against timestamp literals.
    * A disjunction yields no bound, and a filter that already constrains
    * `dt` is left as it is (which also keeps the rule idempotent). */
  private object InferDtBounds extends Rule[LogicalPlan] with PredicateHelper {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, r: LogicalRelation) if isFamily(r) =>
        (r.output.find(_.name == "ts"), r.output.find(_.name == "dt")) match {
          case (Some(ts), Some(dt)) if dt.dataType == DateType &&
              !cond.references.contains(dt) =>
            dtBounds(cond, ts, dt).fold(f)(b => f.copy(condition = And(cond, b)))
          case _ => f
        }
    }

    private def dtBounds(cond: Expression, ts: Attribute, dt: Attribute): Option[Expression] = {
      val zone = DateTimeUtils.getZoneId(SQLConf.get.sessionLocalTimeZone)
      def day(us: Long) = DateTimeUtils.microsToDays(us, zone)
      // ts is in whole microseconds, so a strict bound moves by one
      val cmps = splitConjunctivePredicates(cond).flatMap(tsComparison(_, ts))
      val lo = cmps.collect {
        case (">=" | "=", us) => day(us)
        case (">", us) => day(us + 1)
      }.maxOption.map(d => GreaterThanOrEqual(dt, Literal(d, DateType)))
      val hi = cmps.collect {
        case ("<=" | "=", us) => day(us)
        case ("<", us) => day(us - 1)
      }.minOption.map(d => LessThanOrEqual(dt, Literal(d, DateType)))
      val bounds = (lo ++ hi).toSeq
      // isnotnull(dt) is what constraint inference puts beside explicit bounds
      if (bounds.isEmpty) None else Some((IsNotNull(dt) +: bounds).reduce(And))
    }

    /** `ts <op> literal` as (op, micros), with a literal on the left
      * turned around. */
    private def tsComparison(e: Expression, ts: Attribute): Option[(String, Long)] = e match {
      case c: BinaryComparison => (c.left, c.right) match {
        case (a: Attribute, Literal(us: Long, TimestampType)) if a.semanticEquals(ts) =>
          Some(c.symbol -> us)
        case (Literal(us: Long, TimestampType), a: Attribute) if a.semanticEquals(ts) =>
          Some(Flipped.getOrElse(c.symbol, c.symbol) -> us)
        case _ => None
      }
      case _ => None
    }

    private val Flipped = Map(">=" -> "<=", ">" -> "<", "<=" -> ">=", "<" -> ">")
  }

  /** Plans a family scan with [[FileSourceStrategy]], then parameterizes
    * the literal operands of the `FilterExec` above the scan. */
  private object StableFilterCodegen extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case _: Project | _: Filter if filtersFamily(plan) =>
        FileSourceStrategy(plan).map(_.transform {
          case f @ FilterExec(cond, _: FileSourceScanExec) => f.copy(condition = parameterize(cond))
        })
      case _ => Nil
    }

    private def filtersFamily(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => filtersFamily(c)
      case Filter(_, r: LogicalRelation) => isFamily(r)
      case Filter(_, c) => filtersFamily(c)
      case _ => false
    }

    private def parameterize(cond: Expression): Expression = cond.transform {
      case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      case in: In => in.copy(list = in.list.map(param))
    }

    private def param(e: Expression): Expression = e match {
      case Literal(v, t) if v != null && Parameter.Types.contains(t) => Parameter(v, t)
      case other => other
    }
  }
}

/** A non-null constant that generated code reads from the references
  * array instead of spelling it in the source text. Not foldable, so
  * no optimizer rule turns it back into a literal; prints as the
  * literal it replaces. */
private[sources] case class Parameter(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

private[sources] object Parameter {
  /** Types whose literals codegen writes into the source text. */
  val Types: Set[DataType] = Set(IntegerType, LongType, DoubleType, DateType, TimestampType)
}
