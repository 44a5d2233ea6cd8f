package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graftbridge.ContextBridge

import graft.functions.NativeFunctions
import graft.storage.GraftLocalFileSystem

/** Session-extension entry point: makes the engine's native expressions
  * first-class SQL functions on any session built with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`), the
  * standard install path for a Spark-native library — no per-session
  * registration calls needed. Every entry of
  * [[graft.functions.NativeFunctions]] is injected; the engine's own
  * operators build the same expressions directly
  * ([[graft.functions.NativeFunctions.call]]), so they need neither the
  * extension nor a registration.
  *
  * It also installs graft's fork-free local filesystem
  * ([[graft.storage.GraftLocalFileSystem.install]]) on the active
  * SparkContext's Hadoop configuration. `spark.sql.extensions` applies
  * the extension once the context exists; `withExtensions` applies it
  * when called, so on a builder that will create the first context it
  * installs nothing and the session keeps Hadoop's local filesystem.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ContextBridge.active.foreach(sc => GraftLocalFileSystem.install(sc.hadoopConfiguration))

    // SQL UPDATE / MERGE INTO on graft catalog tables (the analyzer
    // bridge into IcebergLikeTable.update / mergeInto)
    ext.injectPostHocResolutionRule(session =>
      graft.sources.GraftDmlRule(session))

    NativeFunctions.all.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
  }
}

object GraftExtensions {
  /** Injected SQL function names (for discovery/tests). */
  val names: Seq[String] = NativeFunctions.all.map(_.name)
}
