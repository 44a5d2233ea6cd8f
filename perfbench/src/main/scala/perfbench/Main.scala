package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run of a workload needs: the session, its scratch directory,
  * the seed, the measuring window and the tracing switch.
  */
final class Ctx(val spark: SparkSession, val tmp: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val cores: Int) {
  val spans = new Spans
  val counters: Option[SparkCounters] =
    if (traced) Some(new SparkCounters(spark).register()) else None
  val report = new Report

  /** Closed loop: runs `op` until the window closes, at least `minOps` times. */
  def loop(minOps: Int)(op: Int => Unit): Int = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) { op(i); i += 1 }
    i
  }

  /** Runs one operation; an exception or a wrong result counts as failed. */
  def attempt(what: String)(op: => Boolean): Unit = {
    report.attempted += 1
    val ok = try {
      val right = op
      if (!right) System.err.println(s"[perfbench] $what returned a wrong result")
      right
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $what failed: $e")
        false
    }
    if (!ok) report.failed += 1
  }
}

final class Report {
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val tmp = opts("tmp")
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$tmp/hadoop")
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$tmp/graft-warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val ctx = new Ctx(spark, tmp, opts("seed").toLong, opts("seconds").toInt, traced, cores)
    workload match {
      case "ingest" => IngestWorkload.run(ctx, sessionS)
      case "table_churn" => ChurnWorkload.run(ctx, sessionS)
      case "query_scan" => ScanWorkload.run(ctx, sessionS)
      case other => sys.error(s"unknown workload: $other")
    }
    System.err.println(s"[perfbench] ${ctx.spans.all.size} spans, ${ctx.report.attempted} operations")
    spark.stop()
    // measured once Spark has released its own state, so what is left is
    // what process-global maps and caches retain
    ctx.report.e2e("heap_after_gc_mb", heapAfterGcMb(), "MB")
    if (traced) {
      Layers.tracedEndToEnd(ctx)
      Layers.zero(ctx)
    }
    println(json(ctx.report, traced))
  }

  def logSetup(sessionS: Double, inputsS: Seq[Double], warmS: Double): Unit =
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, inputs " +
      inputsS.map(s => f"$s%.2f").mkString("[", ", ", "]") + f" s, warm-up $warmS%.2f s")

  /** Old-generation heap in use after a full collection. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") && p.getCollectionUsage != null)
    val used = old.map(_.getCollectionUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / (1024.0 * 1024.0)
  }

  private def json(r: Report, traced: Boolean): String = {
    val ms = if (traced) r.perLayer else r.endToEnd
    val body = ms.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}"""
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = {
    val body = s.map {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString
    "\"" + body + "\""
  }

  /** Bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }

  /** Data files under `dir`: regular files not hidden by `_` or `.`. */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    walk(new File(dir))
  }

  def deleteRecursively(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
  }
}
