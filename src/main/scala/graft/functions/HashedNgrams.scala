package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `hashed_ngrams(wh, n)` — all word-n-gram hashes of a word-hash array
  * in one pass: window i (for i in 0..max(|wh|−n, 0), inclusive — the
  * truncated short-document tail window included) hashes the up-to-n
  * consecutive elements starting at i with the exact fold Spark's
  * `xxhash64(array<bigint>)` uses (seed 42, then
  * `XXH64.hashLong(elem, acc)` per element), so the output is
  * bit-identical to the HOF form it replaces:
  *
  *   transform(sequence(0, greatest(size(wh)-n, 0)),
  *     i => xxhash64(slice(wh, i+1, n)))
  *
  * That form allocates an n-element slice array per window and
  * re-enters the generic hash expression once per window; this
  * expression is one tight loop with a single output allocation — the
  * hot inner operation of the span-dedup/decontamination family
  * (`Dedup.hashedNgramsAll`: the census, hit-detection and bloom-probe
  * phases each hash every window of every document).
  */
case class HashedNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if n > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hashed_ngrams needs array<bigint> and n > 0, got ${other.simpleString}, n=$n")
    }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val size = arr.numElements()
    val nw = math.max(size - n, 0) + 1
    val out = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      var h = 42L // xxhash64's default seed
      val end = math.min(i + n, size)
      var j = i
      // null elements are SKIPPED (fold unchanged), exactly like
      // Spark's xxhash64 over an array — verified:
      // xxhash64(array(1,NULL,2)) = xxhash64(array(1,2)) and
      // xxhash64(array(NULL)) = 42. The Dedup call sites only produce
      // containsNull=false arrays, but the session-registered SQL
      // function must not silently diverge from the HOF form it
      // documents (r16, ADVICE r15).
      while (j < end) {
        if (!arr.isNullAt(j)) h = XXH64.hashLong(arr.getLong(j), h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashedNgrams", this, classOf[HashedNgrams].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedNgrams =
    copy(child = newChild)
}

object HashedNgrams {
  val FnName = "hashed_ngrams"
}
