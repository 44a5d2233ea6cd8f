package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** `hashed_ngrams(wh, n)` must be BIT-IDENTICAL to the HOF form it
  * replaced in `Dedup.hashedNgramsAll` —
  * `transform(sequence(0, greatest(size(wh)-n, 0)), i =>
  * xxhash64(slice(wh, i+1, n)))` — including the truncated
  * short-document tail window and the empty-document window (xxhash64
  * of an empty array = the 42 seed). Every span-dedup /
  * decontamination gate's oracle hash rides on this equality.
  */
class HashedNgramsSpec extends SparkTestBase {

  import spark.implicits._

  // fixed-seed Gen sampling — no scalatestplus bridge in the offline cache
  private def forAll[A](gen: Gen[A], n: Int = 60)(body: A => Unit): Unit = {
    var seed = Seed(4321L)
    (0 until n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
    }
  }

  private def hofForm(n: Int) =
    transform(sequence(lit(0), greatest(size(col("wh")) - n, lit(0))),
      i => xxhash64(slice(col("wh"), i + 1, lit(n))))

  private def nativeForm(n: Int) =
    call_function(HashedNgrams.FnName, col("wh"), lit(n))

  test("matches the HOF form on random word-hash arrays, all n") {
    val cases = Gen.zip(Gen.listOf(Gen.long), Gen.choose(2, 20))
    forAll(cases) { case (wh, n) =>
      val df = Seq(Tuple1(wh)).toDF("wh")
      val native = df.select(nativeForm(n)).as[Seq[Long]].head
      val hof = df.select(hofForm(n)).as[Seq[Long]].head
      assert(native == hof, s"n=$n wh=$wh")
    }
  }

  test("edge shapes: empty, shorter than n, exactly n, n+1") {
    for (wh <- Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L, 3L),
        Seq(1L, 2L, 3L, 4L)); n <- Seq(1, 3, 13)) {
      val df = Seq(Tuple1(wh)).toDF("wh")
      val native = df.select(nativeForm(n)).as[Seq[Long]].head
      val hof = df.select(hofForm(n)).as[Seq[Long]].head
      assert(native == hof, s"n=$n wh=$wh")
      assert(native.length == math.max(wh.length - n, 0) + 1)
    }
  }

  test("empty array hashes to the xxhash64 seed (42)") {
    val df = Seq(Tuple1(Seq.empty[Long])).toDF("wh")
    assert(df.select(nativeForm(13)).as[Seq[Long]].head == Seq(42L))
  }

  test("null elements are skipped, matching xxhash64 (r16)") {
    // xxhash64 over an array SKIPS null elements (fold unchanged):
    // xxhash64(array(1,NULL,2)) = xxhash64(array(1,2)), and an
    // all-null window hashes to the 42 seed. The registered SQL
    // function must match on containsNull inputs too (ADVICE r15).
    val cases = Gen.zip(
      Gen.listOf(Gen.option(Gen.long)), Gen.choose(1, 5))
    forAll(cases, n = 40) { case (wh, n) =>
      val df = Seq(Tuple1(wh)).toDF("wh")
      val native = df.select(nativeForm(n)).as[Seq[Long]].head
      val hof = df.select(hofForm(n)).as[Seq[Long]].head
      assert(native == hof, s"n=$n wh=$wh")
    }
    val df = Seq(Tuple1(Seq(Some(1L), None, Some(2L)))).toDF("wh")
    val noNull = Seq(Tuple1(Seq(1L, 2L))).toDF("wh")
    assert(df.select(nativeForm(3)).as[Seq[Long]].head.head ==
      noNull.select(xxhash64(col("wh"))).as[Long].head)
  }
}
