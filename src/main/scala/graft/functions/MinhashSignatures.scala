package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `minhash_sigs(hashes, k)` — the k-wide MinHash signature of a 64-bit
  * shingle-hash set, in one pass: for each element the k family values
  * are `h1 + i*h2` (Kirsch–Mitzenmacher two-universal construction, h1/h2
  * finalized with splitmix64), and the expression keeps the running
  * minimum of each family. Replaces k separate
  * `array_min(transform(hashes, h => xxhash64(i, h)))` projections —
  * which allocate k intermediate arrays per row and hash every element k
  * times — with zero allocations beyond the output array and a
  * multiply-add per (element, family).
  *
  * The family is 2-universal rather than min-wise independent — the
  * standard practical trade (Broder's original minhash deployments
  * onward); LSH band-collision probabilities are preserved empirically
  * and the dedup pipeline exact-verifies every candidate anyway.
  */
case class MinhashSignatures(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if k > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs needs array<bigint> and k > 0, got ${other.simpleString}, k=$k")
    }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      val h = arr.getLong(e)
      val h1 = MinhashSignatures.splitmix64(h + 0x9E3779B97F4A7C15L)
      val h2 = MinhashSignatures.splitmix64(h ^ 0xC2B2AE3D27D4EB4FL) | 1L
      var v = h1
      var i = 0
      while (i < k) {
        if (v < mins(i)) mins(i) = v
        v += h2
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinhashSignatures].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatures =
    copy(child = newChild)
}

object MinhashSignatures {
  val FnName = "minhash_sigs"

  /** splitmix64 finalizer — a full-avalanche 64-bit mixer. */
  def splitmix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
