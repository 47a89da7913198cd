package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-run constant (a flow's `run_id` and `load_dts`, a streaming
  * micro-batch's batch id) that generated code reads by reference.
  *
  * Spark writes `Long`, `Int` and `Timestamp` literals straight into the
  * generated Java source, so the same load plan built with a fresh
  * `lit(runId)` is new source text: it misses the JVM-wide cache of
  * compiled classes and pays a Janino compile plus fresh JIT work on every
  * run. Here the value goes through `ctx.addReferenceObj` (the idiom of
  * [[WordSetCount]]), so the source is the same for every value, and
  * `eval` returns the same value on the interpreted path. Not foldable, so
  * the optimizer cannot fold it back into a literal.
  *
  * `value` is Catalyst's internal form (a Timestamp is epoch micros), as
  * [[RunConstant.column]] builds it. */
case class RunConstant(value: Any, dataType: DataType) extends LeafExpression {

  require(value != null, "RunConstant needs a non-null value")

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("runConst", value, CodeGenerator.boxedType(dataType))
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }

  override def prettyName: String = "graft_run_const"
}

object RunConstant {
  /** `lit(v)`'s value and type, bound by reference. */
  def column(v: Any): Column = {
    val l = Literal(v)
    org.apache.spark.sql.GraftColumnBridge.column(RunConstant(l.value, l.dataType))
  }
}
