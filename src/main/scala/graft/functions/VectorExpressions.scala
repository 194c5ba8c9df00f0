package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions (with whole-stage codegen) for the hot
  * vector kernels: dot product, L2 norm, cosine similarity, and
  * in-place L2 normalization. All operate on `ARRAY<DOUBLE>` and stay
  * inside WholeStageCodegen — no UDF serialization, no boxing.
  *
  * These are the Spark-native equivalents of the reference's dense
  * f64 kernels (reference: src/lib.rs:132-174 scoring loop,
  * GRAPH_VARIABLES.md:7 rectified-cosine distance).
  */
object VectorKernels {
  @inline def dot(xs: Array[Double], ys: Array[Double]): Double = {
    val n = math.min(xs.length, ys.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += xs(i) * ys(i); i += 1 }
    acc
  }

  @inline def normSq(xs: Array[Double]): Double = dot(xs, xs)

  def cosine(xs: Array[Double], ys: Array[Double]): Double = {
    val n = math.min(xs.length, ys.length)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs(i); val y = ys(i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Rectified cosine distance d = 1 - max(0, cos) (GRAPH_VARIABLES.md:7). */
  def cosineDistance(xs: Array[Double], ys: Array[Double]): Double =
    1.0 - math.max(0.0, cosine(xs, ys))

  def l2normalize(xs: Array[Double]): Array[Double] = {
    val n = math.sqrt(normSq(xs))
    if (n == 0.0) xs.clone()
    else {
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < xs.length) { out(i) = xs(i) / n; i += 1 }
      out
    }
  }

  /** Primitive copy, or null when any SLOT is null — toDoubleArray()
    * alone region-copies null slots as 0.0, silently corrupting the
    * kernel result; a null element must null-propagate like every
    * other Spark arithmetic input. */
  private[graft] def doublesOrNull(a: ArrayData): Array[Double] = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    a.toDoubleArray()
  }

  /** Null-slot scan WITHOUT the copy — for kernels that read the
    * ArrayData in place (offset reads) instead of materializing a
    * fresh primitive array per row. */
  private[functions] def hasNullSlot(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Codegen counterpart of [[doublesOrNull]]'s null scan. When the
    * child's schema proves containsNull = false the scan compiles to a
    * constant — the guard costs nothing on tight schemas. */
  private[functions] def genNullScan(
      ctx: CodegenContext, arr: String, anyNull: String,
      mayHaveNullSlots: Boolean): String =
    if (!mayHaveNullSlots) s"boolean $anyNull = false;"
    else {
      val i = ctx.freshName("ni")
      s"""
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if ($arr.isNullAt($i)) { $anyNull = true; break; }
         |}
       """.stripMargin
    }

  /** Whether an expression's array type can carry null slots. */
  private[functions] def slotsNullable(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
    case _ => true
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // a null ELEMENT null-propagates even when both arrays are non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs =
      if (VectorKernels.slotsNullable(left)) VectorKernels.doublesOrNull(a.asInstanceOf[ArrayData])
      else a.asInstanceOf[ArrayData].toDoubleArray()
    val ys =
      if (VectorKernels.slotsNullable(right)) VectorKernels.doublesOrNull(b.asInstanceOf[ArrayData])
      else b.asInstanceOf[ArrayData].toDoubleArray()
    if (xs == null || ys == null) null else VectorKernels.dot(xs, ys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullA = ctx.freshName("nullA"); val nullB = ctx.freshName("nullB")
      s"""
         |${VectorKernels.genNullScan(ctx, a, nullA, VectorKernels.slotsNullable(left))}
         |${VectorKernels.genNullScan(ctx, b, nullB, VectorKernels.slotsNullable(right))}
         |if ($nullA || $nullB) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $xs = $a.toDoubleArray();
         |  double[] $ys = $b.toDoubleArray();
         |  int $n = Math.min($xs.length, $ys.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $acc += $xs[$i] * $ys[$i]; }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  // a null ELEMENT null-propagates even when both arrays are non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs =
      if (VectorKernels.slotsNullable(left)) VectorKernels.doublesOrNull(a.asInstanceOf[ArrayData])
      else a.asInstanceOf[ArrayData].toDoubleArray()
    val ys =
      if (VectorKernels.slotsNullable(right)) VectorKernels.doublesOrNull(b.asInstanceOf[ArrayData])
      else b.asInstanceOf[ArrayData].toDoubleArray()
    if (xs == null || ys == null) null else VectorKernels.cosine(xs, ys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val nullA = ctx.freshName("nullA"); val nullB = ctx.freshName("nullB")
      s"""
         |${VectorKernels.genNullScan(ctx, a, nullA, VectorKernels.slotsNullable(left))}
         |${VectorKernels.genNullScan(ctx, b, nullB, VectorKernels.slotsNullable(right))}
         |if ($nullA || $nullB) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $xs = $a.toDoubleArray();
         |  double[] $ys = $b.toDoubleArray();
         |  int $n = Math.min($xs.length, $ys.length);
         |  double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double x = $xs[$i]; double y = $ys[$i];
         |    $d += x * y; $na += x * x; $nb += y * y;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $d / Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

case class L2Norm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"
  // a null ELEMENT null-propagates even when the array is non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any = {
    val xs =
      if (VectorKernels.slotsNullable(child)) VectorKernels.doublesOrNull(a.asInstanceOf[ArrayData])
      else a.asInstanceOf[ArrayData].toDoubleArray()
    if (xs == null) null else math.sqrt(VectorKernels.normSq(xs))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xs = ctx.freshName("xs"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullA = ctx.freshName("nullA")
      s"""
         |${VectorKernels.genNullScan(ctx, a, nullA, VectorKernels.slotsNullable(child))}
         |if ($nullA) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $xs = $a.toDoubleArray();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $xs.length; $i++) { $acc += $xs[$i] * $xs[$i]; }
         |  ${ev.value} = Math.sqrt($acc);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

case class L2Normalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_l2normalize"
  // a null ELEMENT null-propagates even when the array is non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any = {
    val xs =
      if (VectorKernels.slotsNullable(child)) VectorKernels.doublesOrNull(a.asInstanceOf[ArrayData])
      else a.asInstanceOf[ArrayData].toDoubleArray()
    if (xs == null) null
    else new GenericArrayData(VectorKernels.l2normalize(xs))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xs = ctx.freshName("xs"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      val gad = classOf[GenericArrayData].getName
      val nullA = ctx.freshName("nullA")
      s"""
         |${VectorKernels.genNullScan(ctx, a, nullA, VectorKernels.slotsNullable(child))}
         |if ($nullA) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $xs = $a.toDoubleArray();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $xs.length; $i++) { $acc += $xs[$i] * $xs[$i]; }
         |  double $nrm = Math.sqrt($acc);
         |  double[] $out = new double[$xs.length];
         |  for (int $i = 0; $i < $xs.length; $i++) {
         |    $out[$i] = ($nrm == 0.0) ? $xs[$i] : $xs[$i] / $nrm;
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}
