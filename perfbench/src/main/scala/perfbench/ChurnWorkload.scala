package perfbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.weblog.{Generator, IcebergLikeTable, Validator, WebLogSchema}

/** `table_churn`: the iceberg variant's table protocol. A closed loop
  * whose operation is one pass of `Schedule`: five steps of one commit
  * then one read. Commits are micro-batches through
  * `IcebergLikeTable.write` (the call `Ingest.startIcebergIngest` makes),
  * merge-on-read deletes of one user, or `maintain` plus expiry. Reads
  * alternate within each pass between a point lookup by user through the
  * catalog and a partition-scoped aggregate through
  * `IcebergLikeTable.read`; each must equal an in-memory model of the
  * table. Timing whole passes keeps every timed operation the same mix of
  * step kinds, so its median does not jump between kinds.
  */
object ChurnWorkload {
  val BaseRows = 1000
  /** One 60 s trigger of the reference producer's 2 records/s. */
  val BatchRows = 120
  val UpdateShare = 0.3
  val Schedule: Vector[String] = Vector("upsert", "upsert", "upsert", "delete", "maintain")
  val MinPasses = 3
  val NumBuckets = 1
  val SetupRepeats = 2
  private val Hour = LocalDateTime.of(2024, 3, 5, 6, 0)
  private val Field = "\"(user_id|timestamp|event)\": \"([^\"]*)\"".r

  /** Generator id → batch that last wrote it (live ids only), plus each
    * id's key and event, parsed from the payload.
    */
  private final class Model {
    val live = mutable.Map.empty[Long, Long]
    val info = mutable.Map.empty[Long, (String, String, String)]
    var payloadBytes = 0L
    def byEvent(e: String): (Long, Long) = {
      val bs = live.iterator.filter { case (i, _) => info(i)._3 == e }.map(_._2).toSeq
      (bs.size.toLong, bs.sum)
    }
  }

  private final class State(val table: IcebergLikeTable, val name: String) {
    val model = new Model
    var nextId = 0L
    var batch = 0L
    /** Per-commit layout samples of the traced run, by metric name. */
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(metric: String, v: Double): Unit =
      samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty[Double]) += v
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val rng = new Random(ctx.seed)
    ctx.spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.web")
    val setups = (0 until SetupRepeats).map { r =>
      val t0 = System.nanoTime()
      val st = create(ctx, s"events_$r")
      ((System.nanoTime() - t0) / 1e9, st)
    }
    val st = setups.last._2
    val w0 = System.nanoTime()
    Schedule.indices.foreach(k => step(ctx, st, rng, k, warm = true))
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.logSetup(sessionS, setups.map(_._1), warmS)
    ctx.report.e2e("setup_s", sessionS + Stats.median(setups.map(_._1)) + warmS, "s")

    val fs0 = if (ctx.traced) CountingLocalFs.snapshot() else Nil
    val n = ctx.loop(minOps = MinPasses) { p =>
      Schedule.indices.foreach(k => step(ctx, st, rng, (p + 1) * Schedule.size + k, warm = false))
    }
    val fs1 = if (ctx.traced) CountingLocalFs.snapshot() else Nil

    val steps = ctx.spans.named("churn.step").takeRight(n * Schedule.size)
    // a pass's time is its steps' time, without the client's input drawing
    val passes = steps.grouped(Schedule.size).map(_.map(_.ms).sum).toSeq
    val commits = ctx.spans.named("churn.commit").takeRight(steps.size)
    val reads = ctx.spans.named("churn.read").takeRight(steps.size)
    System.err.println("[perfbench] pass ms: " + passes.map(ms => f"$ms%.0f").mkString(" ") +
      "; step ms: " + steps.map(s => f"${s.ms}%.0f").mkString(" "))
    val r = ctx.report
    val passRows = Schedule.count(_ == "upsert") * BatchRows
    r.e2e("op_p50_ms", Stats.median(passes), "ms")
    r.e2e("rows_per_s", Stats.median(passes.map(ms => passRows / (ms / 1000))), "1/s")

    if (ctx.traced) {
      Layers.engine(ctx, steps, resultRows = steps.size.toLong, fs1.zip(fs0).map { case (a, b) => a - b })
      def p50(name: String) = {
        val s = ctx.spans.named(name).filter(_.startMs >= steps.head.startMs)
        if (s.isEmpty) 0.0 else Stats.median(s.map(_.ms))
      }
      r.layer("table.upsert_ms_p50", p50("table.upsert"), "ms")
      r.layer("table.delete_ms_p50", p50("table.delete"), "ms")
      r.layer("table.maintain_ms_p50", p50("table.maintain"), "ms")
      r.layer("table.expire_ms_p50", p50("table.expire"), "ms")
      val units = Map("table.files_per_commit" -> "count", "table.bytes_rewritten" -> "B",
        "table.data_files" -> "count", "table.delete_files" -> "count",
        "table.metadata_bytes" -> "B")
      st.samples.foreach { case (k, xs) => r.layer(k, xs.sum / xs.size, units(k)) }
      tail(ctx, "commit", commits)
      tail(ctx, "read", reads)
      r.layer("space.storage_amp",
        Main.dirBytes(st.table.path).toDouble / st.model.payloadBytes, "ratio")
    }
  }

  /** Median and the highest percentile with ten samples beyond it. */
  private def tail(ctx: Ctx, what: String, spans: Seq[Span]): Unit = {
    val ms = spans.map(_.ms)
    val (pct, v, n) = Stats.tail(ms).getOrElse((100.0, ms.max, ms.size))
    ctx.report.layer(s"churn.${what}_p50_ms", Stats.median(ms), "ms")
    ctx.report.layer(s"churn.${what}_tail_ms", v, "ms")
    ctx.report.layer(s"churn.${what}_tail_pct", pct, "%")
    ctx.report.layer(s"churn.${what}s", n, "count")
  }

  /** A keyed table partitioned by event, created through the catalog,
    * holding `BaseRows` generator rows as its first commit.
    */
  private def create(ctx: Ctx, name: String): State = {
    val cols = WebLogSchema.dialectB.map { case (c, _) => s"`$c` STRING" }.mkString(", ")
    ctx.spark.sql(
      s"""CREATE TABLE bench.web.$name ($cols, _seq STRUCT<batch: BIGINT, mid: BIGINT>)
         |PARTITIONED BY (event)
         |TBLPROPERTIES (uniqueKeys 'user_id,timestamp', orderCol '_seq',
         |numBuckets '$NumBuckets')""".stripMargin)
    val table = IcebergLikeTable(ctx.spark, s"${ctx.tmp}/graft-warehouse/web/$name", "event",
      uniqueKeys = Seq("user_id", "timestamp"), numBuckets = NumBuckets)
    val st = new State(table, s"bench.web.$name")
    upsert(ctx, st, new Batch(ctx, st, 0L until BaseRows))
    st.nextId = BaseRows
    st
  }

  /** One micro-batch of generator ids, validated and parsed as
    * `Ingest.startIcebergIngest` does it, stamped with its batch order.
    */
  private final class Batch(ctx: Ctx, st: State, val ids: Seq[Long]) {
    val payloads: Seq[String] = ids.map(i => Generator.payload(ctx.seed, i, Hour))
    val id: Long = st.batch
    val frame: DataFrame = {
      val (ok, _) = Validator.route(Validator.validate(
        ctx.spark.createDataset(payloads)(Encoders.STRING).toDF("payload")))
      Validator.parsed(ok).drop("payload", "event_ts")
        .withColumn("_seq", struct(lit(id).as("batch"), monotonically_increasing_id().as("mid")))
    }
  }

  /** Commits the batch through the table's routed write, then records it
    * in the model.
    */
  private def upsert(ctx: Ctx, st: State, b: Batch): Unit = {
    ctx.spans("table.upsert") {
      st.table.write(b.frame, "_seq", Some((s"${ctx.tmp}/churn-checkpoint", b.id)))
    }
    b.ids.zip(b.payloads).foreach { case (i, p) =>
      val f = Field.findAllMatchIn(p).map(m => m.group(1) -> m.group(2)).toMap
      st.model.info(i) = (f("user_id"), f("timestamp"), f("event"))
      st.model.live(i) = b.id
      st.model.payloadBytes += p.length
    }
    st.batch += 1
  }

  private def step(ctx: Ctx, st: State, rng: Random, i: Int, warm: Boolean): Unit = {
    val m = st.model
    // inputs are drawn before the span so the client's own work stays untimed
    val kind = Schedule(i % Schedule.size)
    val fresh = st.nextId until st.nextId + (BatchRows * (1 - UpdateShare)).toLong
    val replays = Seq.fill(BatchRows - fresh.size) {
      // recent ids are replayed more often than old ones
      st.nextId - 1 - (st.nextId * math.pow(rng.nextDouble(), 2)).toLong
    }
    val batch = if (kind == "upsert") Some(new Batch(ctx, st, fresh ++ replays)) else None
    val victim = m.live.keys.toSeq.sorted.apply(rng.nextInt(m.live.size))
    val probe = if (rng.nextInt(5) == 0) rng.nextLong(st.nextId) else victim
    val event = WebLogSchema.EventTypes((i / 2) % WebLogSchema.EventTypes.size)
    val before = if (ctx.traced && !warm) files(st) else Map.empty[String, (Long, Boolean)]
    if (ctx.traced && !warm && kind == "maintain") sampleLayout(st)

    ctx.attempt(s"churn step $i") {
      ctx.spans("churn.step") {
        val committed = ctx.spans("churn.commit") {
          kind match {
            case "upsert" =>
              upsert(ctx, st, batch.get)
              st.nextId += fresh.size
              true
            case "delete" =>
              val n = ctx.spans("table.delete") {
                st.table.deleteMergeOnRead(col("user_id") === m.info(victim)._1)
              }
              m.live.remove(victim)
              n == 1
            case _ =>
              // the program's default thresholds: more than 10 data files or 10
              // delete files in a leaf
              ctx.spans("table.maintain")(st.table.maintain())
              ctx.spans("table.expire") {
                st.table.expireOlderThan(System.currentTimeMillis())
                st.table.vacuum()
              }
              true
          }
        }
        val read = ctx.spans("churn.read") {
          if (i % Schedule.size % 2 == 0) {
            val (user, ts, ev) = m.info(probe)
            val got = ctx.spans("read.point") {
              ctx.spark.sql(s"SELECT timestamp, event, _seq.batch FROM ${st.name} " +
                s"WHERE user_id = '$user'").collect().toSeq
            }.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
            got == m.live.get(probe).map(b => (ts, ev, b)).toSeq
          } else {
            val got = ctx.spans("read.agg") {
              st.table.read.filter(col("event") === event)
                .agg(count(lit(1)), coalesce(sum(col("_seq.batch")), lit(0L))).head()
            }
            (got.getLong(0), got.getLong(1)) == m.byEvent(event)
          }
        }
        committed && read
      }
    }
    if (ctx.traced && !warm && kind != "maintain") {
      val after = files(st)
      val added = after.keySet -- before.keySet
      st.sample("table.files_per_commit", added.size)
      st.sample("table.bytes_rewritten", added.toSeq.map(after(_)._1).sum.toDouble)
    }
  }

  /** Live files of the table: path → (bytes, is a delete file). */
  private def files(st: State): Map[String, (Long, Boolean)] =
    st.table.files.select("file", "size_bytes", "is_delete").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  /** Data files, delete files and metadata bytes just before a maintain. */
  private def sampleLayout(st: State): Unit = {
    val f = files(st)
    val meta = Option(new File(st.table.path).listFiles()).toSeq.flatten
      .filter(x => x.isFile && x.getName.startsWith("_graft")).map(_.length).sum
    st.sample("table.data_files", f.count(!_._2._2))
    st.sample("table.delete_files", f.count(_._2._2))
    st.sample("table.metadata_bytes", meta.toDouble)
  }
}
