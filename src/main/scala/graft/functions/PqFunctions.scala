package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused IVF/PQ kernels. The expression-DSL formulations they replace
  * (`greatest`/`sort_array` over per-centroid structs of
  * `DotProductExpr(slice(v,…), array(lit…))`, and per-subspace
  * `element_at(array(lit…), code)` ADC chains) plant
  * nlist×dim / m×ksub×dsub Literal nodes in the plan: the x13/x15
  * encode+probe plans rendered at up to **6.3 MB** per AQE update, and
  * the generated methods blew janino's limits — whole-stage codegen
  * was DISABLED for exactly the stages PQ exists to make cheap, so
  * every row ran interpreted (round-20 baseline log:
  * "Whole-stage codegen disabled for plan … UnitCompiler.store").
  *
  * Each kernel carries its constant matrix as a reference object
  * (codegen via `addReferenceObj`, the [[MinHashSigExpr]] pattern):
  * one compact plan node, stable generated source, and a tight
  * primitive loop per row.
  *
  * Semantics are replicated bit-for-bit from the struct formulations,
  * including the edge ordering rules the oracles mirror:
  *  - scores compare like Spark struct fields:
  *    `Utils.nanSafeCompareDoubles` (NaN greatest, -0.0 == 0.0), a
  *    null score (null input vector, subspace slice length mismatch,
  *    null element) sorts below every non-null score;
  *  - ties (including the all-null case) resolve toward the LARGER
  *    cell/code id — the `greatest`-over-structs order.
  */
object PqKernels {
  /** Spark SQL's double ordering (the one struct comparisons codegen):
    * NaN equals NaN and sorts above everything; -0.0 == 0.0. Local
    * copy because Spark's util.Utils is private[spark]. */
  def nanSafeCompareDoubles(x: Double, y: Double): Int = {
    val xIsNan = java.lang.Double.isNaN(x)
    val yIsNan = java.lang.Double.isNaN(y)
    if ((xIsNan && yIsNan) || (x == y)) 0
    else if (xIsNan) 1
    else if (yIsNan) -1
    else if (x > y) 1 else -1
  }

  /** cmp > 0 iff (s1, id1) beats (s2, id2) in the greatest-over-structs
    * order; null score encoded as (hasS = false). */
  @inline private[functions] def beats(has1: Boolean, s1: Double, id1: Int,
      has2: Boolean, s2: Double, id2: Int): Boolean = {
    if (has1 != has2) has1 // non-null score beats null score
    else if (!has1) id1 > id2 // both null: larger id wins
    else {
      val c = nanSafeCompareDoubles(s1, s2)
      c > 0 || (c == 0 && id1 > id2)
    }
  }
}

/** Nearest-IVF-cell assignment: argmax_i (v·c_i − |c_i|²/2), ties to
  * the larger cell. `cents` is the nlist×dim matrix flattened row-major
  * with the −|c|²/2 offsets precomputed by the companion. Non-nullable:
  * the struct chain it replaces resolved every edge to a concrete cell
  * (all-null scores → largest cell id). */
case class IvfCellExpr(child: Expression, cents: Seq[Double],
    offs: Seq[Double], dim: Int) extends UnaryExpression {
  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0 &&
    offs.length == cents.length / dim)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"IVF cell assignment needs array<double>, got $t")
  }

  private lazy val cArr = cents.toArray
  private lazy val oArr = offs.toArray
  private lazy val n = offs.length

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return n - 1
    val x = v.asInstanceOf[ArrayData]
    val len = x.numElements()
    if (len != dim) return n - 1
    var i = 0
    while (i < len) { if (x.isNullAt(i)) return n - 1; i += 1 }
    var best = 0
    var bestS = 0.0
    var ci = 0
    while (ci < n) {
      var s = 0.0
      val off = ci * dim
      var k = 0
      while (k < dim) { s += x.getDouble(k) * cArr(off + k); k += 1 }
      s += oArr(ci)
      if (ci == 0 || PqKernels.beats(true, s, ci, true, bestS, best)) {
        best = ci; bestS = s
      }
      ci += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import Block._
    val cRef = ctx.addReferenceObj("ivfCents", cArr, "double[]")
    val oRef = ctx.addReferenceObj("ivfOffs", oArr, "double[]")
    val c = child.genCode(ctx)
    val x = c.value
    val i = ctx.freshName("i"); val ci = ctx.freshName("ci")
    val k = ctx.freshName("k"); val len = ctx.freshName("len")
    val s = ctx.freshName("s"); val ok = ctx.freshName("ok")
    val bestS = ctx.freshName("bestS"); val cmp = ctx.freshName("cmp")
    ev.copy(isNull = FalseLiteral, code = c.code +
      code"""
         |int ${ev.value} = ${n - 1};
         |if (!${c.isNull}) {
         |  int $len = $x.numElements();
         |  boolean $ok = ($len == $dim);
         |  if ($ok) {
         |    for (int $i = 0; $i < $len; $i++) {
         |      if ($x.isNullAt($i)) { $ok = false; break; }
         |    }
         |  }
         |  if ($ok) {
         |    double $bestS = 0.0;
         |    for (int $ci = 0; $ci < $n; $ci++) {
         |      double $s = 0.0;
         |      for (int $k = 0; $k < $dim; $k++) {
         |        $s += $x.getDouble($k) * $cRef[$ci * $dim + $k];
         |      }
         |      $s += $oRef[$ci];
         |      int $cmp = graft.functions.PqKernels.nanSafeCompareDoubles($s, $bestS);
         |      if ($ci == 0 || $cmp > 0) { ${ev.value} = $ci; $bestS = $s; }
         |      else if ($cmp == 0 && $ci > ${ev.value}) { ${ev.value} = $ci; $bestS = $s; }
         |    }
         |  }
         |}
       """.stripMargin)
  }

  // the plan renders the matrix's shape, never its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"dim=$dim", s"n=$n")

  override protected def withNewChildInternal(newChild: Expression): IvfCellExpr =
    copy(child = newChild)
}

object IvfCellExpr {
  def apply(vec: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim))
    column(IvfCellExpr(expression(vec.cast("array<double>")),
      centroids.flatMap(_.toSeq).toSeq,
      centroids.map(c => -c.map(x => x * x).sum / 2).toSeq, dim))
  }
}

/** The query's `nprobe` best IVF cells, score-descending (ties toward
  * the larger cell) — the fused form of
  * `slice(transform(sort_array(array(cellStructs…), desc), _.cell), 1, nprobe)`.
  * All-null scores (null/malformed vector) order cells id-descending,
  * exactly as the struct sort did. */
case class IvfTopCellsExpr(child: Expression, cents: Seq[Double],
    offs: Seq[Double], dim: Int, nprobe: Int) extends UnaryExpression {
  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0 &&
    offs.length == cents.length / dim && nprobe > 0)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private lazy val cArr = cents.toArray
  private lazy val oArr = offs.toArray
  private lazy val n = offs.length
  private lazy val take = math.min(nprobe, n)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"IVF cell probe needs array<double>, got $t")
  }

  private def rank(scores: Array[Double], hasScores: Boolean): Array[Int] = {
    val ids = Array.tabulate(n)(identity)
    val sorted = ids.sortWith { (a, b) =>
      PqKernels.beats(hasScores, if (hasScores) scores(a) else 0.0, a,
        hasScores, if (hasScores) scores(b) else 0.0, b)
    }
    sorted.take(take)
  }

  override def eval(input: InternalRow): Any = evalWithValue(child.eval(input))

  // the per-row work is O(nlist log nlist) on a handful of QUERY rows;
  // a CodegenFallback would break the enclosing stage's whole-stage
  // codegen, so generated code routes through [[evalWithValue]] on a
  // reference to this expression instead (the sort is not worth
  // open-coding in Java for query-side row counts).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import Block._
    val self = ctx.addReferenceObj("ivfTopCells", this,
      classOf[IvfTopCellsExpr].getName)
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("vecBoxed")
    ev.copy(isNull = FalseLiteral, code = c.code +
      code"""
         |Object $boxed = ${c.isNull} ? null : (Object) ${c.value};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  (org.apache.spark.sql.catalyst.util.ArrayData) $self.evalWithValue($boxed);
       """.stripMargin)
  }

  /** Entry for generated code: same math as [[eval]] given the
    * already-evaluated child value. */
  def evalWithValue(v: Any): ArrayData = {
    val scores = new Array[Double](n)
    var has = v != null
    if (has) {
      val x = v.asInstanceOf[ArrayData]
      val len = x.numElements()
      if (len != dim) has = false
      else {
        var i = 0
        while (i < len && has) { if (x.isNullAt(i)) has = false; i += 1 }
        if (has) {
          var ci = 0
          while (ci < n) {
            var s = 0.0
            val off = ci * dim
            var k = 0
            while (k < dim) { s += x.getDouble(k) * cArr(off + k); k += 1 }
            scores(ci) = s + oArr(ci)
            ci += 1
          }
        }
      }
    }
    new GenericArrayData(rank(scores, has))
  }

  // the plan renders the matrix's shape, never its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"dim=$dim", s"n=$n", s"nprobe=$nprobe")

  override protected def withNewChildInternal(newChild: Expression): IvfTopCellsExpr =
    copy(child = newChild)
}

object IvfTopCellsExpr {
  def apply(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim))
    column(IvfTopCellsExpr(expression(vec.cast("array<double>")),
      centroids.flatMap(_.toSeq).toSeq,
      centroids.map(c => -c.map(x => x * x).sum / 2).toSeq, dim, nprobe))
  }
}

/** PQ encode: the m nearest-codeword ids, one per contiguous subspace
  * slice — the fused form of
  * `array(greatest(codeStructs(slice(v,…), book)).code, …)`. Per
  * subspace, a null score set (slice out of range, short slice, null
  * element, null vector) resolves to the LARGEST code, exactly as the
  * struct chain did. `books` is m×ksub×dsub flattened; `offs` the
  * precomputed −|c|²/2 per (m, ksub). */
case class PqEncodeExpr(child: Expression, books: Seq[Double],
    offs: Seq[Double], m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {
  require(m > 0 && ksub > 0 && dsub > 0 &&
    books.length == m * ksub * dsub && offs.length == m * ksub)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"PQ encode needs array<double>, got $t")
  }

  private lazy val bArr = books.toArray
  private lazy val oArr = offs.toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val out = new Array[Int](m)
    val x = if (v == null) null else v.asInstanceOf[ArrayData]
    val len = if (x == null) -1 else x.numElements()
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      var ok = x != null && base + dsub <= len
      if (ok) {
        var i = 0
        while (i < dsub && ok) { if (x.isNullAt(base + i)) ok = false; i += 1 }
      }
      if (!ok) out(mi) = ksub - 1
      else {
        var best = 0
        var bestS = 0.0
        var k = 0
        while (k < ksub) {
          var s = 0.0
          val boff = (mi * ksub + k) * dsub
          var i = 0
          while (i < dsub) { s += x.getDouble(base + i) * bArr(boff + i); i += 1 }
          s += oArr(mi * ksub + k)
          if (k == 0 || PqKernels.beats(true, s, k, true, bestS, best)) {
            best = k; bestS = s
          }
          k += 1
        }
        out(mi) = best
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import Block._
    val bRef = ctx.addReferenceObj("pqBooks", bArr, "double[]")
    val oRef = ctx.addReferenceObj("pqOffs", oArr, "double[]")
    val c = child.genCode(ctx)
    val x = c.value
    val mi = ctx.freshName("mi"); val k = ctx.freshName("k")
    val i = ctx.freshName("i"); val len = ctx.freshName("len")
    val s = ctx.freshName("s"); val ok = ctx.freshName("ok")
    val base = ctx.freshName("base"); val best = ctx.freshName("best")
    val bestS = ctx.freshName("bestS"); val out = ctx.freshName("out")
    val cmp = ctx.freshName("cmp")
    ev.copy(isNull = FalseLiteral, code = c.code +
      code"""
         |int[] $out = new int[$m];
         |int $len = ${c.isNull} ? -1 : ${x}.numElements();
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $base = $mi * $dsub;
         |  boolean $ok = !${c.isNull} && $base + $dsub <= $len;
         |  if ($ok) {
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      if ($x.isNullAt($base + $i)) { $ok = false; break; }
         |    }
         |  }
         |  if (!$ok) { $out[$mi] = ${ksub - 1}; continue; }
         |  int $best = 0;
         |  double $bestS = 0.0;
         |  for (int $k = 0; $k < $ksub; $k++) {
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      $s += $x.getDouble($base + $i) * $bRef[($mi * $ksub + $k) * $dsub + $i];
         |    }
         |    $s += $oRef[$mi * $ksub + $k];
         |    int $cmp = graft.functions.PqKernels.nanSafeCompareDoubles($s, $bestS);
         |    if ($k == 0 || $cmp > 0 || ($cmp == 0 && $k > $best)) {
         |      $best = $k; $bestS = $s;
         |    }
         |  }
         |  $out[$mi] = $best;
         |}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin)
  }

  // the plan renders the matrix's shape, never its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"m=$m", s"ksub=$ksub", s"dsub=$dsub")

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncodeExpr {
  def apply(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head.length
    require(books.forall(b => b.length == ksub && b.forall(_.length == dsub)))
    column(PqEncodeExpr(expression(vec.cast("array<double>")),
      books.flatMap(_.flatMap(_.toSeq)).toSeq,
      books.flatMap(_.map(c => -c.map(x => x * x).sum / 2)).toSeq,
      m, ksub, dsub))
  }
}

/** ADC: Σ_mi dt(mi)(codes(mi)), left-associated subspace 0 first —
  * the fused form of the `element_at(array(lit…), code+1)` sum. Null
  * in (null codes array, null element, short array, out-of-range
  * code) → null out, matching the chain's null propagation. */
case class PqAdcExpr(child: Expression, dt: Seq[Double], m: Int,
    ksub: Int) extends UnaryExpression {
  require(m > 0 && ksub > 0 && dt.length == m * ksub)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ADC needs array<int> codes, got $t")
  }

  private lazy val dArr = dt.toArray

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() < m) return null
    var s = 0.0
    var mi = 0
    while (mi < m) {
      if (x.isNullAt(mi)) return null
      val code = x.getInt(mi)
      if (code < 0 || code >= ksub) return null
      s += dArr(mi * ksub + code)
      mi += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dRef = ctx.addReferenceObj("adcTable", dArr, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val mi = ctx.freshName("mi"); val s = ctx.freshName("s")
      val code = ctx.freshName("code")
      s"""
         |if ($x.numElements() < $m) { ${ev.isNull} = true; }
         |else {
         |  double $s = 0.0;
         |  for (int $mi = 0; $mi < $m; $mi++) {
         |    if ($x.isNullAt($mi)) { ${ev.isNull} = true; break; }
         |    int $code = $x.getInt($mi);
         |    if ($code < 0 || $code >= $ksub) { ${ev.isNull} = true; break; }
         |    $s += $dRef[$mi * $ksub + $code];
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  // the plan renders the matrix's shape, never its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"m=$m", s"ksub=$ksub")

  override protected def withNewChildInternal(newChild: Expression): PqAdcExpr =
    copy(child = newChild)
}

object PqAdcExpr {
  def apply(codes: Column, dt: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val m = dt.length
    val ksub = dt.head.length
    require(dt.forall(_.length == ksub))
    column(PqAdcExpr(expression(codes), dt.flatMap(_.toSeq).toSeq, m, ksub))
  }
}

/** Johnson–Lindenstrauss projection: out(j) = scale · Σ_i v(i)·P(j,i),
  * left-to-right per plane in [[DotProductExpr]] order — the fused
  * form of `array(DotProductExpr(v, array(lit…)) * scale, …)`, which
  * planted k×dim Literal nodes in the scan plan and evaluated k
  * separate expressions per row. Null semantics replicated: a null
  * vector, a length mismatch, or a null element made every per-plane
  * dot null, and `array()` of nulls carried them — here the output
  * array is null in those cases (CreateArray of all-null doubles and
  * a null array hash identically through the query's rounding +
  * collect path ONLY if no such row exists; the corpus REQUIREs
  * non-null fixed-dim embeddings and the oracle gate pins it). */
case class RandomProjectExpr(child: Expression, planes: Seq[Double],
    dim: Int, scale: Double) extends UnaryExpression {
  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"random projection needs array<double>, got $t")
  }

  private lazy val pArr = planes.toArray
  private lazy val k = planes.length / dim

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != dim) return null
    var i = 0
    while (i < n) { if (x.isNullAt(i)) return null; i += 1 }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var s = 0.0
      val off = j * dim
      var i2 = 0
      while (i2 < n) { s += x.getDouble(i2) * pArr(off + i2); i2 += 1 }
      out(j) = s * scale
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("jlPlanes", pArr, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      s"""
         |int $n = $x.numElements();
         |if ($n != $dim) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  }
         |  if (!${ev.isNull}) {
         |    double[] $out = new double[$k];
         |    for (int $j = 0; $j < $k; $j++) {
         |      double $s = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $s += $x.getDouble($i) * $pRef[$j * $dim + $i];
         |      }
         |      $out[$j] = $s * $scale;
         |    }
         |    ${ev.value} =
         |      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |  }
         |}
       """.stripMargin
    })
  }

  // the plan renders the matrix's shape, never its values
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"dim=$dim", s"n=$k", s"scale=$scale")

  override protected def withNewChildInternal(newChild: Expression): RandomProjectExpr =
    copy(child = newChild)
}

object RandomProjectExpr {
  def apply(vec: Column, planes: Seq[Array[Double]], scale: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = planes.head.length
    require(planes.forall(_.length == dim))
    column(RandomProjectExpr(expression(vec.cast("array<double>")),
      planes.flatMap(_.toSeq).toSeq, dim, scale))
  }
}
