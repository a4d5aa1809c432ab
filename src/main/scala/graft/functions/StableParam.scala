package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A long constant that rides the codegen `references` array instead of
  * being inlined into the generated Java source.
  *
  * `lit(x)` inlines primitive values into whole-stage-codegen source, so a
  * query whose only difference from the previous trigger is a cross-batch
  * cursor value (row start, cue anchor, event count) generates DIFFERENT
  * source and misses the codegen cache — measured on the streaming
  * per-trigger path as ~60 Janino compiles/trigger, ~40% of the fixed
  * per-trigger cost (profiler + CodegenMetrics, round 12). With the value
  * as a reference object the source is byte-identical across triggers
  * (the cache key is the source text; `references` bind at instantiation)
  * while each plan still carries its own value.
  *
  * Deliberately non-foldable so the optimizer can't constant-fold it back
  * into an inline literal. Use ONLY for hot repeated-query parameters —
  * a folded literal is better for scan pushdown and planning elsewhere.
  *
  * A named `slot` marks the value as a cursor value of a plan that is
  * built once and evaluated many times: `LocalPlan` rebinds every named
  * slot to the value its caller supplies for the evaluation, so a kept
  * plan needs no rebuild when the cursor moves.
  */
case class StableLong(value: Long, slot: String = "") extends LeafExpression {
  override def nullable: Boolean  = false
  override def dataType: DataType = LongType
  override def foldable: Boolean  = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftStableLong", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(
      code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object StableLong {
  import org.apache.spark.sql.GraftBridge.{column, expression}
  /** `lit(v)` that never changes the generated code across values. */
  def stableLit(v: Long): Column = column(StableLong(v))

  /** [[stableLit]] as the named slot `slot` (see [[StableLong]]). */
  def stableLit(v: Long, slot: String): Column = column(StableLong(v, slot))

  /** SQL `div` (integral division, truncating toward zero) as a Column —
    * the `expr(s"a div $b")` sites interpolated per-batch values into the
    * SQL string, which is the same codegen-cache miss in another coat.
    */
  def intDiv(a: Column, b: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(b)))
}
