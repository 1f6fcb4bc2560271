package graft.plans

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison,
  Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types._

/** Per-call values as references in generated code.
  *
  * Spark writes a primitive literal (a date, a double, a timestamp)
  * into the Java source it generates, so the same query shape asked
  * with new values compiles new classes: a catalogue read repeated
  * every tick with a new date range or bbox pays tens of milliseconds
  * of Janino compile time each time. A [[BoundValue]] reaches the
  * generated code through its references array instead, so the source
  * text, and Spark's compiled-class cache key, stay the same.
  *
  * Only plans that read no files are bound: a file scan needs plain
  * literals for parquet pushdown, [[graft.sources.GraftFileIndex]] zone
  * maps and partition pruning, while an in-memory read has nothing to
  * push them into.
  */
object BoundValues {

  /** `c` resolved against `df`, with every constant operand of a
    * comparison, or `c` itself when it is a constant, bound as a
    * [[BoundValue]]; `c` unchanged when `df` reads any file.
    */
  def bind(df: DataFrame, c: Column): Column = {
    val plan = df.queryExecution.analyzed
    val inMemory = plan.collectLeaves().forall {
      case _: InMemoryRelation | _: LogicalRDD | _: LocalRelation => true
      case _ => false
    }
    if (!inMemory) c
    else df.select(c).queryExecution.analyzed match {
      case Project(Seq(ne), _) =>
        val e = ne match { case Alias(child, _) => child; case other => other }
        GraftColumnBridge.column(value(e.transformUp {
          case cmp: BinaryComparison => cmp.mapChildren(value)
        }))
      case _ => c
    }
  }

  /** `e` as a bound value when it is a non-null constant of a primitive
    * type; otherwise `e`.
    */
  private def value(e: Expression): Expression =
    if (!e.foldable || !bindable(e.dataType)) e
    else Try(e.eval()).toOption.filter(_ != null)
      .map(BoundValue(_, e.dataType)).getOrElse(e)

  private def bindable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** A non-null constant of a primitive type that generated code reads
  * from its references array instead of inlining; not foldable, so the
  * optimizer keeps it a reference.
  */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"bound($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final $javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }
}
