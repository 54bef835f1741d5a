package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** A constant that the generated code reads from its references array
  * instead of spelling it out as a Java literal. A plan that differs only
  * in such a value (a fold id, a per-fold seed) then generates the same
  * source, so Spark's codegen cache serves it without compiling again.
  *
  * It evaluates to the same value as `lit(value)` and is deterministic,
  * but it is not foldable: `ConstantFolding` would turn it back into a
  * `Literal`, whose code is the value itself. The in-memory scan builds
  * no partition-pruning predicate from it either (that predicate, too,
  * inlines its literals); a hash-assigned fold spreads over every cached
  * batch, so such a predicate prunes nothing.
  */
case class OpaqueLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(dataType == IntegerType || dataType == LongType,
    s"an opaque literal is an int or a long, got ${dataType.catalogString}")

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"opaque($value)"
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", value)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"final $javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }
}

object OpaqueLiteral {
  def lit(v: Int): Column = ColumnBridge.column(OpaqueLiteral(v, IntegerType))
  def lit(v: Long): Column = ColumnBridge.column(OpaqueLiteral(v, LongType))
}
