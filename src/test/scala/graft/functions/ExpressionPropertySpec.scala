package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** Model-based property tests for the native expressions: the optimized
  * eval must agree with a direct Scala reimplementation on arbitrary
  * inputs (the codegen path delegates to the same `compute`/eval logic,
  * so interpreted equality covers both). Fixed-seed Gen sampling — no
  * scalatestplus bridge in the offline cache.
  */
class ExpressionPropertySpec extends SparkTestBase {

  private def forAll[A](gen: Gen[A], n: Int = 300)(body: A => Unit): Unit = {
    var seed = Seed(1234L)
    (0 until n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
    }
  }

  test("dot_vec equals the naive left-to-right double fold (float arrays)") {
    val vecs = Gen.zip(
      Gen.listOfN(16, Gen.chooseNum(-100f, 100f)),
      Gen.listOfN(16, Gen.chooseNum(-100f, 100f)))
    forAll(vecs) { case (a, b) =>
      val e = DotVec(
        Literal(new GenericArrayData(a.toArray), ArrayType(FloatType)),
        Literal(new GenericArrayData(b.toArray), ArrayType(FloatType)))
      val expected = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }
        .foldLeft(0.0)(_ + _)
      assert(e.eval(null).asInstanceOf[Double] == expected)
    }
  }

  test("dot_vec: mismatched lengths are null, double arrays work") {
    val e = DotVec(
      Literal(new GenericArrayData(Array(1.0, 2.0)), ArrayType(DoubleType)),
      Literal(new GenericArrayData(Array(3.0)), ArrayType(DoubleType)))
    assert(e.eval(null) == null)
    val ok = DotVec(
      Literal(new GenericArrayData(Array(1.0, 2.0)), ArrayType(DoubleType)),
      Literal(new GenericArrayData(Array(3.0, 4.0)), ArrayType(DoubleType)))
    assert(ok.eval(null) == 11.0)
  }

  test("window_minima equals naive sliding minima (longs, any w)") {
    val cases = Gen.zip(
      Gen.chooseNum(1, 9),
      Gen.listOf(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)))
    forAll(cases) { case (w, xs) =>
      val e = WindowMinima(
        Literal(new GenericArrayData(xs.toArray), ArrayType(LongType)), w)
      val got = Option(e.eval(null)).map(
        _.asInstanceOf[ArrayData].toLongArray.toSeq).getOrElse(Seq.empty)
      val expected =
        if (xs.isEmpty) Seq.empty
        else if (xs.length <= w) Seq(xs.min)
        else xs.sliding(w).map(_.min).toSeq
      assert(got == expected, s"w=$w xs=$xs")
    }
  }

  test("window_minima equals naive sliding minima (strings)") {
    val cases = Gen.zip(Gen.chooseNum(1, 5),
      Gen.listOf(Gen.alphaStr.map(_.take(6))))
    forAll(cases, n = 200) { case (w, xs) =>
      val arr = new GenericArrayData(xs.map(UTF8String.fromString).toArray)
      val e = WindowMinima(Literal(arr, ArrayType(StringType)), w)
      val got = Option(e.eval(null)).map { r =>
        val a = r.asInstanceOf[ArrayData]
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }.getOrElse(Seq.empty)
      val expected =
        if (xs.isEmpty) Seq.empty
        else if (xs.length <= w) Seq(xs.min)
        else xs.sliding(w).map(_.min).toSeq
      assert(got == expected, s"w=$w xs=$xs")
    }
  }

  test("simhash bit-balance fold equals a direct reimplementation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // model: bit j of the simhash is set iff more input hashes have bit j
    // set than not (strict majority).
    def model(hs: Seq[Long]): Long = {
      var out = 0L
      var j = 0
      while (j < 64) {
        val bal = hs.foldLeft(0L)((acc, h) =>
          acc + (if (((h >> j) & 1L) == 1L) 1L else -1L))
        if (bal > 0) out |= (1L << j)
        j += 1
      }
      out
    }
    val gen = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val cases = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    forAll(gen, n = 150)(hs => cases += hs)
    cases += Seq.empty // empty word set → 0L
    val df = cases.toSeq.zipWithIndex.map { case (hs, i) => (i, hs) }.toDF("id", "hs")
    val got = df
      .select(col("id"), graft.operators.Dedup.simhashFromHashes(col("hs")).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    cases.toSeq.zipWithIndex.foreach { case (hs, i) =>
      assert(got(i) == model(hs), s"hs=$hs")
    }
  }

  test("sorted_intersect_count equals set intersection size on sorted distinct arrays") {
    val cases = Gen.zip(
      Gen.listOf(Gen.chooseNum(0L, 50L)).map(_.distinct.sorted),
      Gen.listOf(Gen.chooseNum(0L, 50L)).map(_.distinct.sorted))
    forAll(cases) { case (a, b) =>
      val e = SortedIntersectCount(
        Literal(new GenericArrayData(a.toArray), ArrayType(LongType)),
        Literal(new GenericArrayData(b.toArray), ArrayType(LongType)))
      assert(e.eval(null) == a.toSet.intersect(b.toSet).size)
    }
  }

  test("bloom_might_contain: never a false negative, agrees with the sketch on probes") {
    import org.apache.spark.util.sketch.BloomFilter
    val cases = Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    forAll(cases, n = 100) { case (inserted, probes) =>
      val bf = BloomFilter.create(inserted.size.toLong.max(1), 0.03)
      inserted.foreach(bf.putLong)
      val bytes = BloomMightContain.serialize(bf)
      def probe(h: Long): Boolean =
        BloomMightContain(Literal(h, LongType), bytes)
          .eval(null).asInstanceOf[Boolean]
      // no false negatives, structurally
      inserted.foreach(h => assert(probe(h), s"false negative for $h"))
      // agreement with the driver-side sketch on arbitrary probes
      probes.foreach(h => assert(probe(h) == bf.mightContainLong(h)))
    }
  }
}
