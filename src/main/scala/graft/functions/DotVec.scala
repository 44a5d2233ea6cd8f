package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `dot_vec(a, b)` — the dot product of two numeric arrays
  * (`array<float>` or `array<double>`, independently per side), folding
  * left-to-right in double precision, as a native Catalyst expression
  * with real codegen.
  *
  * This is the hot inner operation of every embedding operator
  * (`operators/Similarity`): brute-force top-k, exact cosine near-dup
  * pairs, hyperplane LSH signatures and IVF cell assignment all reduce
  * to per-row dot products. The `zip_with`+`aggregate` formulation those
  * operators would otherwise use has no `doGenCode` — Spark evaluates
  * higher-order functions interpreted, allocating a lambda frame per
  * element — which measured ~100x slower on an O(n²) pair scan. The
  * left-to-right double fold makes results bit-identical to DuckDB's
  * `list_dot_product` on `DOUBLE[]`, so oracle hash checks stay exact.
  *
  * Null semantics match the `aggregate(zip_with(...))` formulation it
  * replaces: null array, null element, or mismatched lengths → null.
  */
case class DotVec(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_vec needs array<float|double> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(e: Expression, arr: String): String =
        if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += ${get(left, a)} * ${get(right, b)};
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotVec =
    copy(left = newLeft, right = newRight)
}

object DotVec {
  val FnName = "dot_vec"
}
