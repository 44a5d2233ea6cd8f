package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `simhash_from_hashes(arr)` — 64-bit SimHash of a bigint hash array:
  * output bit j is 1 iff strictly more input hashes have bit j set than
  * not (null elements count as all-zero bits, matching the HOF fold this
  * replaces).
  *
  * Replaces 64 separate `aggregate(...)` higher-order folds — one per
  * bit, each a full interpreted re-scan of the array (no codegen, a
  * lambda invocation per element) — with ONE compiled pass maintaining
  * all 64 balances, so the per-document cost drops from 64·n lambda
  * evaluations to n iterations of a tight loop.
  */
case class SimhashFromHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_from_hashes needs array<bigint>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val bal = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = if (arr.isNullAt(i)) 0L else arr.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) bal(j) += 1 else bal(j) -= 1
        j += 1
      }
      i += 1
    }
    var sh = 0L
    var j = 0
    while (j < 64) {
      if (bal(j) > 0) sh |= (1L << j)
      j += 1
    }
    sh
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimhashFromHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashFromHashes =
    copy(child = newChild)
}

object SimhashFromHashes {
  val FnName = "simhash_from_hashes"
}
