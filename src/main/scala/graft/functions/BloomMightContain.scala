package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(hash, filter_bytes)` — membership probe of a
  * 64-bit hash against a serialized `BloomFilter`, as a native Catalyst
  * expression with real codegen: one virtual call per row inside
  * whole-stage codegen, versus a Scala UDF that would break the codegen
  * span of the hottest stream in bloom-prefiltered decontamination
  * (`Dedup.ngramOverlapBloom` probes one row per corpus n-gram — at
  * 100 TB that is trillions of probes).
  *
  * The filter arrives as a foldable binary argument (the sketch Spark's
  * `df.stat.bloomFilter` tree-aggregated); it is deserialized ONCE per
  * executor via a transient lazy val, and codegen pins the deserialized
  * object as a compile-time reference — the bytes are never re-parsed
  * per row or per batch. No false negatives, by Bloom construction.
  */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = BloomMightContain.FnName

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${BloomMightContain.FnName} needs a bigint hash, got ${child.dataType.simpleString}")

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override protected def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("bloomFilter", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $bloomRef.mightContainLong($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomMightContain {
  val FnName = "bloom_might_contain"

  /** Serialize a sketch for shipping through the expression tree. */
  def serialize(bloom: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }
}
