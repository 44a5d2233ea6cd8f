package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `window_minima(arr, w)` — per-window minima of a sliding window of
  * width `w` over a bigint or string array: output element i is
  * `min(arr[i..i+w-1])`; a shorter-than-`w` input yields one minimum of
  * the whole array. The winnowing front half of document fingerprinting
  * (`TextAnalysis.fingerprint*`).
  *
  * Replaces `transform(sequence(0, n-w), i -> array_min(slice(a, i+1, w)))`
  * — higher-order functions have no codegen and allocate a slice per
  * window (measured ~10x slower at sf0.1) — with one compiled loop and a
  * single output allocation. Null elements are ignored like `array_min`;
  * an all-null window yields a null element.
  */
case class WindowMinima(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(StringType, _) if w > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"window_minima needs array<bigint|string> and w > 0, got ${other.simpleString}, w=$w")
  }

  private lazy val isString: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == StringType

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val span = math.min(w, n)
    val m = math.max(n - w + 1, if (n == 0) 0 else 1)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var best: Any = null
      var j = i
      val end = math.min(i + span, n)
      while (j < end) {
        if (!arr.isNullAt(j)) {
          if (isString) {
            val v = arr.getUTF8String(j)
            if (best == null || v.compareTo(best.asInstanceOf[UTF8String]) < 0) best = v
          } else {
            val v = arr.getLong(j)
            if (best == null || v < best.asInstanceOf[Long]) best = v
          }
        }
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winmin", this, classOf[WindowMinima].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): WindowMinima =
    copy(child = newChild)
}

object WindowMinima {
  val FnName = "window_minima"
}
