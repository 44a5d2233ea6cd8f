package graft.functions

import java.util.Locale

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType}

/** The one table of graft's native SQL functions. Each entry names a
  * native Catalyst expression, documents its SQL usage and builds it
  * from argument expressions, checking literal arguments once, at build
  * time. Three readers:
  *  - [[graft.GraftExtensions]] injects every entry, so a session built
  *    with `spark.sql.extensions=graft.GraftExtensions` resolves them all;
  *  - [[register]] adds them to a session built without the extension
  *    ([[graft.Engine]] calls it);
  *  - [[call]] builds a `Column` straight from the expression, so
  *    operators and public Column helpers work on any session with no
  *    registration and no function-registry lookup.
  */
object NativeFunctions {

  final case class Fn(name: String, usage: String,
      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo(NativeFunctions.getClass.getName, null, name, usage, "")
  }

  /** The value of a non-null literal argument of type `dt`. */
  private def literalArg[T](fn: String, what: String, dt: DataType, e: Expression): T =
    e match {
      case Literal(v, `dt`) if v != null => v.asInstanceOf[T]
      case other => throw new IllegalArgumentException(
        s"$fn $what must be a ${dt.simpleString} literal, got $other")
    }

  private def intArg(fn: String, what: String, e: Expression): Int =
    literalArg[Int](fn, what, IntegerType, e)
  private def binaryArg(fn: String, what: String, e: Expression): Array[Byte] =
    literalArg[Array[Byte]](fn, what, BinaryType, e)
  private def doubleArg(fn: String, what: String, e: Expression): Double =
    literalArg[Double](fn, what, DoubleType, e)

  private def validator(dialect: String): Fn =
    Fn(s"validate_weblog_${dialect.toLowerCase(Locale.ROOT)}",
      s"_FUNC_(payload) - strict dialect-$dialect web-log validation -> " +
        "struct<valid, reason>",
      a => ValidateWebLog(a.head, dialect))

  val all: Seq[Fn] = Seq(
    Fn(SortedIntersectCount.FnName,
      "_FUNC_(a, b) - |a ∩ b| of two sorted bigint arrays (merge loop)",
      a => SortedIntersectCount(a(0), a(1))),
    Fn(DotVec.FnName,
      "_FUNC_(a, b) - dot product of two float/double arrays (double fold)",
      a => DotVec(a(0), a(1))),
    Fn(MinhashSignatures.FnName,
      "_FUNC_(hashes, k) - k-wide MinHash signature of a shingle-hash set",
      a => MinhashSignatures(a(0), intArg(MinhashSignatures.FnName, "k", a(1)))),
    Fn(WindowMinima.FnName,
      "_FUNC_(arr, w) - sliding-window minima of a bigint/string array",
      a => WindowMinima(a(0), intArg(WindowMinima.FnName, "w", a(1)))),
    Fn(HashedNgrams.FnName,
      "_FUNC_(wh, n) - xxhash64 of every word n-gram of a word-hash array",
      a => HashedNgrams(a(0), intArg(HashedNgrams.FnName, "n", a(1)))),
    Fn(SimhashFromHashes.FnName,
      "_FUNC_(hashes) - 64-bit SimHash of a bigint hash array",
      a => SimhashFromHashes(a(0))),
    Fn(BloomMightContain.FnName,
      "_FUNC_(hash, filter) - bloom-filter membership of a bigint hash",
      a => BloomMightContain(a(0), binaryArg(BloomMightContain.FnName, "filter", a(1)))),
    Fn(RefJaccardPairs.FnName,
      "_FUNC_(shingles, index, threshold) - reference documents whose " +
        "Jaccard against the shingle set reaches the threshold",
      a => RefJaccardPairs(a(0), binaryArg(RefJaccardPairs.FnName, "index", a(1)),
        doubleArg(RefJaccardPairs.FnName, "threshold", a(2)))),
    validator("A"),
    validator("B"))

  private val byName: Map[String, Fn] = all.map(f => f.name -> f).toMap

  /** Make every entry resolvable by name on `spark`, for sessions built
    * without [[graft.GraftExtensions]]; re-running it replaces the same
    * entries.
    */
  def register(spark: SparkSession): Unit = all.foreach { f =>
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(f.name, f.build, "built-in")
  }

  /** The named expression over `args` as a `Column` — the same node the
    * SQL name resolves to, built directly.
    */
  def call(name: String, args: Column*): Column =
    ColumnBridge.column(byName(name).build(args.map(ColumnBridge.expression)))
}
