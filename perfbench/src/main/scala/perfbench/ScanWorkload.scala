package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** `query_scan`: analyst SQL over a corpus large enough that scans,
  * shuffles and executor CPU dominate. One untimed warm-up pass over the
  * query list, then timed passes; the JIT still improves during the
  * first, so the median of at least four is reported. Each query's
  * result is written as
  * parquet (the delivered result, as a query service writes it to its
  * result location); run.py checks every one against the query's DuckDB
  * oracle.
  */
object ScanWorkload {
  val Scale = 1
  val Queries: Seq[String] =
    Seq("q_sessionize", "q_funnel", "q_min_cost_supplier")
  val WarmupPasses = 1

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val corpus = s"${ctx.tmp}/corpus"
    val results = s"${ctx.tmp}/results"
    // built once: a second corpus build would cost as much as the window
    val t0 = System.nanoTime()
    Corpus.write(ctx.spark, corpus, ctx.seed, Scale, ctx.cores * 2)
    val genS = (System.nanoTime() - t0) / 1e9
    // run.py reads these to check each result against its oracle
    val oracle = SparkEntry.oracleSql
    val json = Queries.map(q => s""""$q": ${Main.jsonString(oracle(q))}""").mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(results))
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), json)

    val w0 = System.nanoTime()
    (0 until WarmupPasses).foreach(i => pass(ctx, corpus, results, s"warmup$i"))
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.logSetup(sessionS, Seq(genS), warmS)
    ctx.report.e2e("setup_s", sessionS + genS + warmS, "s")

    val fs0 = if (ctx.traced) CountingLocalFs.snapshot() else Nil
    val n = ctx.loop(minOps = 4)(i => pass(ctx, corpus, results, s"p$i"))
    val fs1 = if (ctx.traced) CountingLocalFs.snapshot() else Nil
    val passes = ctx.spans.named("scan.pass").takeRight(n)
    val corpusRows = Corpus.Tables.map(Corpus.rows(_, Scale)).sum
    ctx.report.e2e("op_p50_ms", Stats.median(passes.map(_.ms)), "ms")
    ctx.report.e2e("rows_per_s", Stats.median(passes.map(p => corpusRows / (p.ms / 1000))), "1/s")

    if (ctx.traced) {
      val resultRows = Queries.map(q => ctx.spark.read.parquet(s"$results/$q/warmup0").count()).sum
      Layers.engine(ctx, passes, resultRows, fs1.zip(fs0).map { case (a, b) => a - b })
      Queries.foreach { q =>
        val runs = ctx.spans.named(s"query.$q").takeRight(n)
        val (wf, planMs, shuffle) = Layers.perQuery(ctx, runs)
        ctx.report.layer(s"query.$q.wall_s", Stats.median(runs.map(_.ms / 1000)), "s")
        ctx.report.layer(s"query.$q.work_fraction", wf, "ratio")
        ctx.report.layer(s"query.$q.plan_ms", planMs, "ms")
        ctx.report.layer(s"query.$q.shuffle_bytes", shuffle, "B")
      }
    }
    // every query of every pass is one operation; run.py adds any result
    // its oracle rejects to the failures
    ctx.report.attempted += Queries.size.toLong * (n + WarmupPasses)
  }

  private def pass(ctx: Ctx, corpus: String, results: String, tag: String): Unit =
    ctx.spans("scan.pass") {
      Queries.foreach { q =>
        val t0 = System.nanoTime()
        try ctx.spans(s"query.$q") {
          SparkEntry.queries(q)(ctx.spark, corpus).write.parquet(s"$results/$q/$tag")
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            ctx.report.failed += 1
        }
        System.err.println(f"[perfbench] $tag $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
}
