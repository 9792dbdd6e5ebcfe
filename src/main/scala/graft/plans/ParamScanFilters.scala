package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** A non-null primitive constant that whole-stage code reads from the
  * generated class's `references` array instead of writing it into the
  * source. It evaluates, prints (`toString`, `sql`) and compares like the
  * [[Literal]] it replaces; only the generated Java differs: one field,
  * set once when the class is instantiated, stands where `Literal` would
  * inline `12345L`. Two plans that differ only in the constant therefore
  * generate identical source.
  *
  * Not foldable, so nothing folds it back into a `Literal`; it only ever
  * appears where [[ParamScanFilters]] put it, in an already optimized
  * physical plan.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val term = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(term, dataType))
  }
}

/** Planner strategy that keeps a file scan's filter constants out of its
  * generated code: Spark's `FileSourceStrategy` plans the scan, and in the
  * residual `FilterExec` above it every non-null integral, date, timestamp
  * or floating-point `Literal` that is an operand of a `BinaryComparison`
  * becomes a [[ParamLiteral]].
  *
  * Why: an incremental extract runs the same query every cycle with a new
  * watermark (`l_orderkey >= N`, `ts >= TIMESTAMP …`). `Literal` inlines
  * such constants into the whole-stage Java, so each cycle's source is new:
  * it misses Spark's codegen cache, janino compiles it again, and it runs
  * interpreted until the JIT compiles the new class again. With the
  * constant read from `references`, two cycles that differ only in the
  * watermark generate identical source and the second runs the class the
  * first compiled. Measured on perfbench replicate (4-core box): a steady
  * cycle compiled 8 classes before and 0 with this strategy (seed 7), and
  * the cycle median went from 1043 to 841 ms (10 alternating pairs).
  *
  * What it leaves alone, and why:
  *   - the scan's `dataFilters`, `PushedFilters` and partition filters
  *     keep the plain `Literal`, so parquet row-group pruning and
  *     [[PushdownNanosTimestamp]] work as before;
  *   - Decimal, String and other object-typed literals: `Literal` already
  *     reads those through `references`;
  *   - every other operator and every other literal position — foldable
  *     arguments such as `Like` patterns or `Round` scales pick their fast
  *     path from the literal, and a projection's constants do not change
  *     between cycles.
  *
  * The codegen cache is JVM-wide and holds at most
  * `spark.sql.codegen.cache.maxEntries` classes (static, default 100); its
  * size is a deployment setting, not an engine knob. On a cluster each
  * executor JVM compiles a class once and reuses it for later cycles, so
  * executors gain as the driver does.
  *
  * One of the [[graft.Engine]] strategies: injected by
  * [[graft.GraftExtensions]], installed on a live session by
  * [[graft.Engine.ensure]].
  */
object ParamScanFilters extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transform {
      case f: FilterExec => f.copy(condition = f.condition.transform {
        case c: BinaryComparison => c.mapChildren(param)
      })
    })

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && parameterized(t) => ParamLiteral(v, t)
    case other => other
  }

  private def parameterized(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
