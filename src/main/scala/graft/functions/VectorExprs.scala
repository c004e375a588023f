package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * `zip_with` + `aggregate` compute a dot product correctly but run as
  * interpreted higher-order functions that allocate an intermediate array
  * per row — at 100 TB (and measurably at sf0.1) that is the ANN/near-dup
  * bottleneck. `DotProduct` generates a tight primitive loop inside
  * whole-stage codegen instead: no allocation, no virtual dispatch.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers guarantee array<double> children (VectorExprs casts)
  override def dataType: DataType = DoubleType

  // dimension mismatch → null (not a truncated partial product): a corrupt
  // or short embedding must drop out of ranking/filters, never rank with a
  // plausible-looking cosine
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) null
    else {
      var s = 0.0
      var k = 0
      while (k < n) { s += x.getDouble(k) * y.getDouble(k); k += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $k = 0; $k < $n; $k++) {
         |    $s += $a.getDouble($k) * $b.getDouble($k);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** out = M·x for a LITERAL row-major matrix M (the OPQ rotation hot
  * path). A 64×64 rotation expressed as 4096 `lit(m)·element_at(x,k)`
  * terms blows the plan to megabytes, falls out of whole-stage codegen,
  * and runs interpreted (measured ~7 s extra on the sf0.1 OPQ encode);
  * this generates one tight two-level primitive loop over a referenced
  * double[] instead — same shape as [[DotProduct]], a matrix high.
  * Dimension mismatch → null (the DotProduct contract: corrupt vectors
  * drop out, never encode as a plausible code). */
case class MatVec(child: Expression, matrix: Array[Double], rows: Int, cols: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(matrix.length == rows * cols, "matrix shape mismatch")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != cols) null
    else {
      val out = new Array[Double](rows)
      var i = 0
      while (i < rows) {
        var s = 0.0
        var k = 0
        val off = i * cols
        while (k < cols) { s += matrix(off + k) * x.getDouble(k); k += 1 }
        out(i) = s
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("matrix", matrix, "double[]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      s"""
         |if ($a.numElements() != $cols) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[$rows];
         |  for (int $i = 0; $i < $rows; $i++) {
         |    double $s = 0.0;
         |    for (int $k = 0; $k < $cols; $k++) {
         |      $s += $m[$i * $cols + $k] * $a.getDouble($k);
         |    }
         |    $out[$i] = $s;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** IVF list assignment: each vector's max-cosine centroid list, or its
  * best two (`top2`, a 2-element array), ONE call per row — the child is
  * cast once and read once into a double[]; the centroid matrix
  * (row-major) and its safe norms are referenced double[]s, the [[MatVec]]
  * shape. The ranking is [[IvfAssign.rank2]], the same routine the
  * driver-side Lloyd and IVF-PQ/OPQ residual steps call. */
case class IvfAssign(child: Expression, cents: Array[Double], norms: Array[Double],
                     top2: Boolean) extends UnaryExpression {

  override def dataType: DataType =
    if (top2) ArrayType(IntegerType, containsNull = false) else IntegerType

  // a null or wrong-dimension vector still lands in a list (see rank2)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input).asInstanceOf[ArrayData]
    val r = IvfAssign.rank2(if (a == null) null else a.toDoubleArray(), cents, norms)
    if (top2) IvfAssign.pair(r) else IvfAssign.best(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val m = ctx.addReferenceObj("cents", cents, "double[]")
    val n = ctx.addReferenceObj("norms", norms, "double[]")
    val obj = "graft.functions.IvfAssign$.MODULE$"
    val r = ctx.freshName("r")
    ev.copy(code = code"""
      |${c.code}
      |long $r = $obj.rank2(${c.isNull} ? null : ${c.value}.toDoubleArray(), $m, $n);
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $obj.${if (top2) "pair" else "best"}($r);""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object IvfAssign {

  def apply(child: Expression, centroids: Array[Array[Double]], top2: Boolean): IvfAssign =
    IvfAssign(child, centroids.flatten, safeNorms(centroids), top2)

  /** ‖c‖ per centroid, 1.0 for an all-zero one (its dot is 0 either way;
    * dividing by 0 is an ANSI hard error). */
  def safeNorms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) 1.0 else n
    }

  /** Driver-side assignment against fixed centroids ([[rank2]]'s best). */
  def lists(centroids: Array[Array[Double]]): Array[Double] => Int = {
    val (flat, norms) = (centroids.flatten, safeNorms(centroids))
    x => best(rank2(x, flat, norms))
  }

  /** Best and runner-up list of `x`, packed `best << 32 | second`. List l
    * scores s = dot(x, c_l) / norm_l (the DotProduct ordered fold), and
    * lists rank by (s, l) exactly as Spark orders (s, l) structs under
    * `greatest` / `array_sort`: s is null for a null or wrong-dimension x
    * (the order falls to l alone), null < every double < NaN, -0.0 = 0.0,
    * ties → the larger l. A one-list model's runner-up is its best. */
  def rank2(x: Array[Double], cents: Array[Double], norms: Array[Double]): Long = {
    val nlist = norms.length
    val dim = cents.length / nlist
    if (x == null || x.length != dim) return pack(nlist - 1, math.max(nlist - 2, 0))
    var b = -1; var bs = 0.0; var b2 = -1; var bs2 = 0.0
    var l = 0
    while (l < nlist) {
      var d = 0.0
      var i = 0
      while (i < dim) { d += x(i) * cents(l * dim + i); i += 1 }
      val s = d / norms(l)
      if (b < 0 || SQLOrderingUtil.compareDoubles(s, bs) >= 0) {
        b2 = b; bs2 = bs; b = l; bs = s
      } else if (b2 < 0 || SQLOrderingUtil.compareDoubles(s, bs2) >= 0) {
        b2 = l; bs2 = s
      }
      l += 1
    }
    pack(b, if (b2 < 0) b else b2)
  }

  private def pack(b: Int, b2: Int): Long = (b.toLong << 32) | (b2 & 0xffffffffL)

  def best(r: Long): Int = (r >>> 32).toInt

  def pair(r: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array((r >>> 32).toInt, r.toInt))
}

object VectorExprs {

  private def asDoubleArray(c: Column): Column = c.cast("array<double>")

  /** dot(a, b) over array<double> (casts applied), codegen'd. */
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(asDoubleArray(a)),
      GraftSqlBridge.expression(asDoubleArray(b))))

  /** L2 norm via self-dot. */
  def norm2(a: Column): Column = {
    val ad = asDoubleArray(a)
    org.apache.spark.sql.functions.sqrt(dot(ad, ad))
  }

  /** M·x for a literal matrix (rows of m), codegen'd. */
  def matVec(x: Column, m: Array[Array[Double]]): Column =
    GraftSqlBridge.column(MatVec(
      GraftSqlBridge.expression(asDoubleArray(x)),
      m.flatten, m.length, m(0).length))

  /** Max-cosine IVF list of each vector (int), or its best two lists
    * (`top2`: array<int>), codegen'd — see [[IvfAssign]]. */
  def ivfAssign(x: Column, centroids: Array[Array[Double]], top2: Boolean = false): Column =
    GraftSqlBridge.column(IvfAssign(
      GraftSqlBridge.expression(asDoubleArray(x)), centroids, top2))
}
