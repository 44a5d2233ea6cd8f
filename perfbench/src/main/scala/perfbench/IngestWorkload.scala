package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Ingest
import graft.weblog.{Compaction, Generator, Validator, WebLogCatalog, Zones}

/** `ingest`: the parquet variant end to end. Generator payloads, 1 in
  * `InvalidEvery` corrupted, land as JSON-lines files (one per simulated
  * Firehose flush); a bounded `availableNow` stream validates and routes
  * them into the raw and error zones; `Compaction.run` compacts and
  * registers each hour; a first SQL query reads the compacted table.
  */
object IngestWorkload {
  val Hours = 2
  /** The parquet variant's Firehose flushes every 300 s: 12 an hour. */
  val FilesPerHour = 12
  /** 300 s of the reference producer's 2 records/s. */
  val RowsPerFile = 600
  val InvalidEvery = 20
  /** Flush files per micro-batch of the catch-up: 4 batches for 2 hours.
    * The reference's 60 s trigger would see at most one file per batch;
    * 24 batches would not fit the run window.
    */
  val MaxFilesPerTrigger = 6
  val SetupRepeats = 2
  private val BaseHour = LocalDateTime.of(2024, 3, 5, 6, 0)

  /** What the generator produced, computed without the program's validator. */
  final case class Truth(rows: Long, validByEvent: Map[String, Long],
      validByHour: Seq[Long], corrupted: Seq[String], validPayloadBytes: Long) {
    def valid: Long = validByEvent.values.sum
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    val landing = s"${ctx.tmp}/ingest/landing"
    val genS = (0 until SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      Main.deleteRecursively(landing)
      writeLanding(ctx, landing)
      (System.nanoTime() - t0) / 1e9
    }
    val truth = groundTruth(ctx)

    val w0 = System.nanoTime()
    cycle(ctx, landing, truth, "warmup")
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.logSetup(sessionS, genS, warmS)
    ctx.report.e2e("setup_s", sessionS + Stats.median(genS) + warmS, "s")

    val fs0 = if (ctx.traced) CountingLocalFs.snapshot() else Nil
    val n = ctx.loop(minOps = 3)(i => cycle(ctx, landing, truth, s"c$i"))
    val fs1 = if (ctx.traced) CountingLocalFs.snapshot() else Nil
    val cycles = ctx.spans.named("ingest.cycle").takeRight(n)
    val streams = ctx.spans.named("ingest.stream").takeRight(n)
    val r = ctx.report
    r.e2e("op_p50_ms", Stats.median(cycles.map(_.ms)), "ms")
    r.e2e("rows_per_s", Stats.median(streams.map(s => truth.valid / (s.ms / 1000))), "1/s")

    if (ctx.traced) {
      Layers.engine(ctx, cycles, resultRows = truth.validByEvent.size.toLong * n,
        fs1.zip(fs0).map { case (a, b) => a - b })
      streamLayer(ctx, streams)
      standaloneLayers(ctx, landing)
    }
  }

  private def hourOf(h: Int) = BaseHour.plusHours(h)

  private def frame(ctx: Ctx, h: Int): DataFrame =
    Generator.frame(ctx.spark, FilesPerHour * RowsPerFile, ctx.seed * 1000 + h, hourOf(h),
      "B", InvalidEvery)

  /** One JSON-lines file per flush, named by its ingest hour. */
  private def writeLanding(ctx: Ctx, landing: String): Unit = {
    new File(landing).mkdirs()
    (0 until Hours).foreach { h =>
      val staging = s"${ctx.tmp}/ingest/staging"
      frame(ctx, h).repartitionByRange(FilesPerHour, col("id")).select("payload")
        .write.mode("overwrite").text(staging)
      val tag = hourOf(h).toString.take(13)
      Main.dataFiles(staging).sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, new File(s"$landing/hour=$tag-flush$i.jsonl").toPath,
          StandardCopyOption.ATOMIC_MOVE)
      }
      Main.deleteRecursively(staging)
    }
  }

  private def groundTruth(ctx: Ctx): Truth = {
    val perHour = (0 until Hours).map { h =>
      val f = frame(ctx, h).withColumn("bad", col("id") % InvalidEvery === 0)
        .select(col("bad"), col("payload"),
          get_json_object(col("payload"), "$.event").as("event"))
        .cache()
      val byEvent = f.filter(!col("bad")).groupBy("event").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val corrupted = f.filter(col("bad")).select("payload").collect().map(_.getString(0))
      val bytes = f.filter(!col("bad")).agg(sum(length(col("payload")))).head.getLong(0)
      f.unpersist()
      (byEvent, corrupted, bytes)
    }
    val byEvent = perHour.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
    Truth(Hours.toLong * FilesPerHour * RowsPerFile, byEvent,
      perHour.map(_._1.values.sum), perHour.flatMap(_._2).sorted, perHour.map(_._3).sum)
  }

  private def stream(ctx: Ctx, landing: String): DataFrame =
    ctx.spark.readStream.option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong).text(landing)
      .select(col("value").as("payload"),
        to_timestamp(regexp_extract(input_file_name(), "hour=([0-9-]+T[0-9]{2})", 1),
          "yyyy-MM-dd'T'HH").as("ingest_ts"))

  /** One bounded catch-up: stream, compact every hour, first query. The
    * timed span ends when the query has returned the generator's counts.
    */
  private def cycle(ctx: Ctx, landing: String, truth: Truth, tag: String): Unit = {
    val spark = ctx.spark
    val base = s"${ctx.tmp}/ingest/$tag"
    val (raw, err, pq) = (s"$base/raw", s"$base/error", s"$base/parquet")
    val (rawT, pqT) = (s"raw_$tag", s"parquet_$tag")
    WebLogCatalog.createRawJsonTable(spark, rawT, raw)
    WebLogCatalog.createParquetTable(spark, pqT, pq)
    var compacted = Seq.empty[Long]
    ctx.attempt(s"ingest cycle $tag") {
      val counts = ctx.spans("ingest.cycle") {
        ctx.spans("ingest.stream") {
          val q = Ingest.start(stream(ctx, landing), raw, err, s"$base/checkpoint",
            availableNow = true)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        compacted = (0 until Hours).map { h =>
          ctx.spans("compaction.run") {
            Compaction.run(spark, raw, pq, hourOf(h + 1), jsonTable = Some(rawT),
              parquetTable = Some(pqT))
          }
        }
        ctx.spans("query.first") {
          spark.sql(s"SELECT event, count(*) FROM $pqT GROUP BY event").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      }
      val perHour = spark.read.text(raw).groupBy("hour").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rawByHour = (0 until Hours).map(h => perHour.getOrElse(hourOf(h).getHour, 0L))
      val errors = spark.read.json(err).select("value").collect().map(_.getString(0)).sorted.toSeq
      counts == truth.validByEvent && rawByHour.sum + errors.size == truth.rows &&
        perHour.size == Hours && errors == truth.corrupted && compacted == rawByHour &&
        rawByHour == truth.validByHour
    }
    val last = Seq("ingest.stream", "compaction.run", "query.first", "ingest.cycle")
      .map(n => n -> ctx.spans.named(n).takeRight(if (n == "compaction.run") Hours else 1))
    System.err.println(s"[perfbench] $tag " + last.map { case (n, s) =>
      f"$n ${s.map(_.ms).sum / 1000}%.2f s" }.mkString(", "))
    if (ctx.traced) {
      ctx.report.layer("space.storage_amp",
        (Main.dirBytes(raw) + Main.dirBytes(err) + Main.dirBytes(pq)).toDouble /
          truth.validPayloadBytes, "ratio")
      val hours = (0 until Hours).map(h => Compaction.HourPartition.of(hourOf(h)).relPath)
      ctx.report.layer("compaction.files_in",
        hours.map(p => Main.dataFiles(s"$raw/$p").size).sum, "count")
      val out = hours.flatMap(p => Main.dataFiles(s"$pq/$p"))
      ctx.report.layer("compaction.files_out", out.size, "count")
      ctx.report.layer("compaction.bytes_out", out.map(_.length).sum.toDouble, "B")
    }
    spark.sql(s"DROP TABLE IF EXISTS $rawT")
    spark.sql(s"DROP TABLE IF EXISTS $pqT")
    Main.deleteRecursively(base)
  }

  /** Streaming progress of the timed cycles: batches, Σ addBatch, the
    * per-batch fixed cost (triggerExecution − addBatch) and planning.
    */
  private def streamLayer(ctx: Ctx, streams: Seq[Span]): Unit = {
    val c = ctx.counters.get
    c.drain()
    val per = streams.map { s =>
      c.synchronized(c.progress.toList)
        .filter(p => p.atMs >= s.startMs && p.atMs <= s.endMs && p.inputRows > 0)
    }
    def med(f: Seq[ProgressRec] => Double) = Stats.median(per.map(f))
    ctx.report.layer("ingest.batches", med(_.size.toDouble), "count")
    ctx.report.layer("ingest.add_batch_ms", med(_.map(_.addBatchMs).sum.toDouble), "ms")
    ctx.report.layer("ingest.fixed_ms",
      med(_.map(p => p.triggerMs - p.addBatchMs).sum.toDouble), "ms")
    ctx.report.layer("ingest.planning_ms", med(_.map(_.planningMs).sum.toDouble), "ms")
    ctx.report.layer("compaction.hour_ms_p50",
      Stats.median(ctx.spans.named("compaction.run").takeRight(streams.size * Hours).map(_.ms)),
      "ms")
  }

  /** The validator and the zone writers called on their own, over the
    * same input as the stream, with the input cached first.
    */
  private def standaloneLayers(ctx: Ctx, landing: String): Unit = {
    val input = ctx.spark.read.text(landing)
      .select(col("value").as("payload"), to_timestamp(lit("2024-03-05 06:00:00")).as("ingest_ts"))
      .cache()
    val rows = input.count()
    val validated = ctx.spans("validator") {
      val (ok, bad) = Validator.route(Validator.validate(input, "payload", "B"))
      val okC = ok.cache()
      val badC = bad.cache()
      okC.count()
      (okC, badC, badC.count())
    }
    val v = ctx.spans.named("validator").last
    ctx.report.layer("validator.ms", v.ms, "ms")
    ctx.report.layer("validator.rows_per_s", rows / (v.ms / 1000), "1/s")
    ctx.report.layer("validator.invalid_rows", validated._3.toDouble, "count")
    val zones = s"${ctx.tmp}/ingest/zones"
    ctx.spans("zones.write") {
      Zones.writeRawJson(validated._1, s"$zones/raw")
      Zones.writeErrors(validated._2, s"$zones/error")
    }
    val files = Main.dataFiles(zones)
    ctx.report.layer("zones.write_ms", ctx.spans.named("zones.write").last.ms, "ms")
    ctx.report.layer("zones.files", files.size, "count")
    ctx.report.layer("zones.bytes", files.map(_.length).sum.toDouble, "B")
    Seq(input, validated._1, validated._2).foreach(_.unpersist())
    Main.deleteRecursively(zones)
  }
}
