package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `sorted_intersect_count(a, b)` — |a ∩ b| for two *sorted* bigint
  * arrays, as a native Catalyst expression with real codegen: a single
  * merge loop over the two `ArrayData`s, no hash-set builds and no
  * allocations per row.
  *
  * This is the hot inner operation of near-dup verification
  * (`Dedup.minhashDedupPairs`): every LSH candidate pair needs an exact
  * Jaccard = c / (|a| + |b| - c), and at 100 TB the candidate set is
  * billions of pairs — `array_intersect` + `array_union` there build two
  * hash sets per pair, an order of magnitude more work than this merge.
  * Inputs must be sorted ascending (the dedup pipeline stores shingle
  * hash sets with `array_sort`); duplicates count min-multiplicity.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count needs two array<bigint> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val na = x.numElements(); val nb = y.numElements()
    while (i < na && j < nb) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
        int $i = 0; int $j = 0;
        final int $na = $a.numElements();
        final int $nb = $b.numElements();
        ${ev.value} = 0;
        while ($i < $na && $j < $nb) {
          final long $xv = $a.getLong($i);
          final long $yv = $b.getLong($j);
          if ($xv < $yv) $i++;
          else if ($xv > $yv) $j++;
          else { ${ev.value}++; $i++; $j++; }
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val FnName = "sorted_intersect_count"
}
