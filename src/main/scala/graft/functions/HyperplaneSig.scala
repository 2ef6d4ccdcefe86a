package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane LSH signature in one fused pass: bit j of the
  * result is set iff dot(vec, plane_j) >= 0.
  *
  * The expression-DSL formulation (`nPlanes` separate
  * `when(dot(vec, array(lit…)) >= 0, 1L<<j)` chains) plants
  * nPlanes × dim Literal nodes in the plan — at 56 planes × 64 dims
  * that is ~3.6k expression nodes PER OCCURRENCE, and the banded
  * self-join carries two occurrences: Catalyst walks them on every
  * analyze/optimize, and AQE's per-update plan render was measured at
  * 150–475 KB of string building per update (round-20 baseline log).
  * Here the matrix rides as a constructor constant (codegen references
  * it via `addReferenceObj`, exactly like [[MinHashSigExpr]]'s
  * coefficients), so the plan holds ONE compact node and the generated
  * source is stable across stamps/rounds (janino cache hits).
  *
  * Arithmetic is bit-identical to the DSL chain it replaces:
  * per-plane left-to-right double summation (the [[DotProductExpr]]
  * order), `>= 0` on the primitive double, bit j contributes 1L<<j,
  * bits summed in plane order. The DSL chain's null semantics are
  * reproduced exactly: a null vector, a length mismatch, or any null
  * element made every per-plane dot null, and `when(null).otherwise(0)`
  * summed to 0 — so this expression is non-nullable and returns 0L in
  * all of those cases.
  */
case class HyperplaneSigExpr(child: Expression, planes: Seq[Double],
    dim: Int) extends UnaryExpression {
  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0 &&
    planes.length / dim <= 63)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane signature needs array<double>, got $t")
  }

  private lazy val flat = planes.toArray
  private lazy val nPlanes = planes.length / dim

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return 0L
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != dim) return 0L
    var i = 0
    while (i < n) { if (x.isNullAt(i)) return 0L; i += 1 }
    var sig = 0L
    var j = 0
    while (j < nPlanes) {
      var s = 0.0
      val off = j * dim
      var k = 0
      while (k < n) { s += x.getDouble(k) * flat(off + k); k += 1 }
      if (s >= 0.0) sig += 1L << j
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val pRef = ctx.addReferenceObj("hyperplanes", flat, "double[]")
    val c = child.genCode(ctx)
    val x = c.value
    val i = ctx.freshName("i"); val j = ctx.freshName("j")
    val k = ctx.freshName("k"); val n = ctx.freshName("n")
    val s = ctx.freshName("s"); val ok = ctx.freshName("ok")
    ev.copy(isNull = FalseLiteral, code = c.code +
      code"""
         |long ${ev.value} = 0L;
         |if (!${c.isNull}) {
         |  int $n = $x.numElements();
         |  boolean $ok = ($n == $dim);
         |  if ($ok) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      if ($x.isNullAt($i)) { $ok = false; break; }
         |    }
         |  }
         |  if ($ok) {
         |    for (int $j = 0; $j < $nPlanes; $j++) {
         |      double $s = 0.0;
         |      for (int $k = 0; $k < $n; $k++) {
         |        $s += $x.getDouble($k) * $pRef[$j * $dim + $k];
         |      }
         |      if ($s >= 0.0) ${ev.value} += 1L << $j;
         |    }
         |  }
         |}
       """.stripMargin)
  }

  // the plan renders the matrix's shape, never its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"dim=$dim", s"n=$nPlanes")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
}

object HyperplaneSigExpr {
  def apply(c: Column, planes: Seq[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = planes.head.length
    require(planes.forall(_.length == dim))
    column(HyperplaneSigExpr(expression(c.cast("array<double>")),
      planes.flatMap(_.toSeq), dim))
  }
}
