package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ContextBridge

import graft.functions.{DotVec, MinhashSignatures, SortedIntersectCount, ValidateWebLog, WindowMinima}
import graft.storage.GraftLocalFileSystem

/** Session-extension entry point: makes the engine's native expressions
  * first-class SQL functions on any session built with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`), the
  * standard install path for a Spark-native library — no per-session
  * registration calls needed. The same functions are also registered
  * imperatively by their call sites (Validator, Dedup) so ad-hoc
  * sessions keep working.
  *
  * It also installs graft's fork-free local filesystem
  * ([[graft.storage.GraftLocalFileSystem.install]]) on the active
  * SparkContext's Hadoop configuration. `spark.sql.extensions` applies
  * the extension once the context exists; `withExtensions` applies it
  * when called, so on a builder that will create the first context it
  * installs nothing and the session keeps Hadoop's local filesystem.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ContextBridge.active.foreach(sc => GraftLocalFileSystem.install(sc.hadoopConfiguration))

    // SQL UPDATE / MERGE INTO on graft catalog tables (the analyzer
    // bridge into IcebergLikeTable.update / mergeInto)
    ext.injectPostHocResolutionRule(session =>
      graft.sources.GraftDmlRule(session))

    ext.injectFunction((
      FunctionIdentifier(SortedIntersectCount.FnName),
      info(SortedIntersectCount.FnName,
        "_FUNC_(a, b) - |a ∩ b| of two sorted bigint arrays (merge loop)"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs(0), exprs(1))))

    ext.injectFunction((
      FunctionIdentifier(DotVec.FnName),
      info(DotVec.FnName,
        "_FUNC_(a, b) - dot product of two float/double arrays (double fold)"),
      (exprs: Seq[Expression]) => DotVec(exprs(0), exprs(1))))

    ext.injectFunction((
      FunctionIdentifier(MinhashSignatures.FnName),
      info(MinhashSignatures.FnName,
        "_FUNC_(hashes, k) - k-wide MinHash signature of a shingle-hash set"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(k: Int, _) => MinhashSignatures(exprs.head, k)
        case other => throw new IllegalArgumentException(
          s"${MinhashSignatures.FnName} k must be an int literal, got $other")
      }))

    ext.injectFunction((
      FunctionIdentifier(WindowMinima.FnName),
      info(WindowMinima.FnName,
        "_FUNC_(arr, w) - sliding-window minima of a bigint/string array"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(w: Int, _) => WindowMinima(exprs.head, w)
        case other => throw new IllegalArgumentException(
          s"${WindowMinima.FnName} w must be an int literal, got $other")
      }))

    for (dialect <- Seq("a", "b")) {
      val name = s"validate_weblog_$dialect"
      ext.injectFunction((
        FunctionIdentifier(name),
        info(name, s"_FUNC_(payload) - strict dialect-${dialect.toUpperCase} " +
          "web-log validation -> struct<valid, reason>"),
        (exprs: Seq[Expression]) => ValidateWebLog(exprs.head, dialect.toUpperCase)))
    }
  }
}

object GraftExtensions {
  /** Injected SQL function names (for discovery/tests). */
  val names: Seq[String] = Seq(
    SortedIntersectCount.FnName, MinhashSignatures.FnName, DotVec.FnName,
    WindowMinima.FnName, "validate_weblog_a", "validate_weblog_b")
}
