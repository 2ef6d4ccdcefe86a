package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-command value that the generated code reads by reference.
  *
  * A long or int [[Literal]] is inlined into the generated Java
  * (`t >= 1630187372600L`), so every new value is new source text and
  * one more Janino compile: a ranged `get` with a fresh window paid two
  * per command. A `Param` is held in the plan's reference array
  * (`addReferenceObj`, the [[RandomProjectExpr]] pattern), so the
  * generated source is the same text for every value and Spark's
  * codegen cache hits. It is deliberately not foldable — constant
  * folding would turn it back into a literal — and so it is also never
  * pushed into a parquet filter or a window-group limit; string values
  * need no wrapper (Spark already holds string literals by reference).
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  require(CodeGenerator.isPrimitiveType(dataType),
    s"Param holds primitive values, got $dataType")

  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ev.copy(isNull = FalseLiteral, code = code"final $jt ${ev.value} = $ref.${jt}Value();")
  }

  override protected def stringArgs: Iterator[Any] = Iterator(value)
}

object Param {
  /** A reference-held Column for `v` (any value [[Literal]] types as a
    * primitive: Int, Long, Double, …). */
  def apply(v: Any): Column = {
    val l = Literal(v)
    org.apache.spark.sql.graftbridge.ColumnBridge.column(Param(l.value, l.dataType))
  }
}
