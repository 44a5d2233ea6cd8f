package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `ref_jaccard_pairs(shingles, index_bytes, threshold)` — all
  * reference documents whose word/shingle Jaccard against this row's
  * distinct-shingle set reaches `threshold`, evaluated against a
  * BROADCAST INVERTED INDEX of the (operator-contract-small) reference
  * corpus: `array<struct<ref_id bigint, jaccard double>>`.
  *
  * This is the verification core of benchmark decontamination
  * ([[graft.operators.Dedup.contaminationPairs]]). The previous plan
  * was three joins: prefix-posting candidate join → pair distinct →
  * broadcast re-join of both documents' shingle arrays per candidate +
  * a sorted-merge intersect. On short-document corpora the PPJoin
  * prefix filter degenerates (tiny shared vocabularies make nearly
  * every (corpus, ref) pair collide: at the sf0.1 fixture 98% of the
  * cross product survived it), and the verify join then materializes
  * both arrays PER CANDIDATE — hundreds of MB of array copies for a
  * few thousand documents.
  *
  * This expression replaces all of it with one pass: per corpus row,
  * probe each shingle hash in the index (binary search over the sorted
  * gram table), accumulate per-ref overlap counters (touched-list
  * reset, so per-row cost is O(grams + collisions), never O(refs)),
  * then emit exactly the refs with
  * `common / (|x| + |y| − common) ≥ threshold`. Zero joins, zero
  * shuffles, zero candidate materialization — the collision volume the
  * old plan shuffled as join rows becomes array increments. The
  * arithmetic (int counts, double division) is bit-identical to the
  * join plan's, so results hash-match the DuckDB oracle unchanged.
  *
  * Scale contract (same as the operator's): the reference side is a
  * benchmark/eval set — thousands of documents — whose index is a few
  * MB, shipped once per executor through the expression tree and
  * deserialized once via a transient lazy val. The 100 TB side (the
  * corpus) streams through its scan stage untouched.
  */
case class RefJaccardPairs(child: Expression, indexBytes: Array[Byte],
    threshold: Double)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ref_id", LongType, nullable = false),
      StructField("jaccard", DoubleType, nullable = false))),
    containsNull = false)

  override def prettyName: String = RefJaccardPairs.FnName

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${RefJaccardPairs.FnName} needs array<bigint> shingles, got " +
        other.simpleString)
  }

  @transient private lazy val index: RefJaccardPairs.Index =
    RefJaccardPairs.deserialize(indexBytes)

  // per-thread scratch: local[k] shares one expression instance across
  // task threads, so the counters must not be instance state
  @transient private lazy val scratch =
    new ThreadLocal[(Array[Int], Array[Int])] {
      override def initialValue(): (Array[Int], Array[Int]) =
        (new Array[Int](index.refIds.length),
          new Array[Int](index.refIds.length))
    }

  override protected def nullSafeEval(v: Any): Any = {
    val shl = v.asInstanceOf[ArrayData]
    val na = shl.numElements()
    val ix = index
    val (counts, touched) = scratch.get()
    var nTouched = 0
    var i = 0
    while (i < na) {
      val g = shl.getLong(i)
      val gi = java.util.Arrays.binarySearch(ix.grams, g)
      if (gi >= 0) {
        var p = ix.offsets(gi)
        val end = ix.offsets(gi + 1)
        while (p < end) {
          val r = ix.postings(p)
          if (counts(r) == 0) { touched(nTouched) = r; nTouched += 1 }
          counts(r) += 1
          p += 1
        }
      }
      i += 1
    }
    // deterministic output order (ascending ref index == insertion-
    // independent), and counters reset via the touched list only
    java.util.Arrays.sort(touched, 0, nTouched)
    val out = new scala.collection.mutable.ArrayBuffer[Any](nTouched)
    var t = 0
    while (t < nTouched) {
      val r = touched(t)
      val common = counts(r)
      counts(r) = 0
      val jacc = common.toDouble / (na + ix.refSizes(r) - common).toDouble
      if (jacc >= threshold)
        out += org.apache.spark.sql.catalyst.InternalRow(ix.refIds(r), jacc)
      t += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): RefJaccardPairs =
    copy(child = newChild)
}

object RefJaccardPairs {
  val FnName = "ref_jaccard_pairs"

  /** Flattened inverted index of the reference corpus: sorted distinct
    * gram hashes, CSR-style postings of reference ordinals, plus each
    * reference's id and distinct-shingle count.
    */
  final case class Index(refIds: Array[Long], refSizes: Array[Int],
      grams: Array[Long], offsets: Array[Int], postings: Array[Int])
    extends Serializable

  /** Build the index driver-side from the collected reference sets —
    * the operator's contract makes this a small collect (a benchmark /
    * eval suite, not a second corpus).
    */
  def buildIndex(refs: Seq[(Long, Array[Long])]): Index = {
    val refIds = refs.map(_._1).toArray
    val refSizes = refs.map(_._2.length).toArray
    val byGram = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    refs.zipWithIndex.foreach { case ((_, set), r) =>
      set.foreach(g => byGram.getOrElseUpdate(g,
        new scala.collection.mutable.ArrayBuffer[Int]) += r)
    }
    val grams = byGram.keys.toArray
    java.util.Arrays.sort(grams)
    val offsets = new Array[Int](grams.length + 1)
    var total = 0
    var i = 0
    while (i < grams.length) {
      offsets(i) = total; total += byGram(grams(i)).length; i += 1
    }
    offsets(grams.length) = total
    val postings = new Array[Int](total)
    i = 0
    while (i < grams.length) {
      var p = offsets(i)
      byGram(grams(i)).foreach { r => postings(p) = r; p += 1 }
      i += 1
    }
    Index(refIds, refSizes, grams, offsets, postings)
  }

  def serialize(index: Index): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(index); oos.close()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Index =
    new ObjectInputStream(new ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[Index]
}
