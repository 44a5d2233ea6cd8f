package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Sessionize
import graft.operators.PortableRound.r3
import Qutil._

/** The web-analytics query canon over the `events` table (SURVEY.md §2.4).
  *
  * The reference delegates all SQL to Athena (Trino) — its declared
  * capability is "any SQL over the web-log tables"
  * (`web-analytics-parquet/cdk_stacks/athena_workgroup.py:46-47`). This
  * canon is that repertoire re-expressed Spark-first: hash aggregates,
  * exact + approximate distincts, gap sessionization, top-K, time-series,
  * window functions, join families, set ops, rollup/cube, and the JSON
  * scalar functions the raw-payload path needs.
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  val all: Seq[Q] = Seq(

    // Q1/Q2/Q3 of the reference: plain COUNT(*) smoke
    // (`web-analytics-parquet/README.md:253-256`).
    Q("q_count_total",
      (s, d) => ev(s, d).agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM events"),
      headline = true),

    // per-event-type counts — GROUP BY event (iceberg table partition key).
    Q("q_count_by_type",
      (s, d) => ev(s, d).groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type"),
      headline = true),

    // time-series: events per hour (tumbling) + exact value sum.
    Q("q_events_hourly",
      (s, d) => ev(s, d)
        .groupBy(tsStr(date_trunc("hour", col("ts"))).as("hour"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("hour"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |count(*) AS cnt,
             |round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS total_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      headline = true),

    // same semantics via the streaming-native tumbling window() operator.
    Q("q_window_tumbling",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(tsStr(col("window.start")).as("hour"), col("cnt"))
        .orderBy("hour"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),

    // unique visitors, exact (COUNT DISTINCT → partial sort-based distinct agg).
    Q("q_unique_users",
      (s, d) => ev(s, d).agg(countDistinct(col("user_id")).as("uniq")),
      Some("SELECT count(DISTINCT user_id) AS uniq FROM events"),
      headline = true),

    Q("q_unique_users_by_type",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("uniq"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(DISTINCT user_id) AS uniq FROM events GROUP BY event_type ORDER BY event_type")),

    // Approx-sketch gates carry a *bounded-error verdict* instead of the
    // raw estimate: sketch internals are engine-specific, so the oracle
    // can't replay the estimate itself — but it CAN replay the exact
    // value and the claim "the estimate landed within 5% of exact"
    // (emitted as a boolean the oracle asserts as TRUE). A drifting or
    // broken sketch flips the boolean and fails the hash match, so the
    // gate is verdict-bearing, not rows-only. HLL++ at rsd 0.01 — the
    // 5% verdict bound is then 5 standard errors, safely clear of the
    // sketch's legitimate noise at every scale factor (the default
    // rsd 0.05 makes the bound exactly 1 sigma, which a correct sketch
    // exceeds ~a third of the time once dense estimation kicks in).
    Q("q_approx_unique_users",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_uniq"),
          countDistinct(col("user_id")).as("uniq_exact"))
        .select(col("event_type"), col("uniq_exact"),
          (abs(col("approx_uniq") - col("uniq_exact")) <=
            col("uniq_exact") * lit(0.05)).as("within_tolerance"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS uniq_exact,
             |TRUE AS within_tolerance
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // DataSketches HLL (lgK=12 default, ~1.6% rsd) under the same 5%
    // verdict bound.
    Q("q_hll_sketch",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users"),
          countDistinct(col("user_id")).as("uniq_exact"))
        .select(col("event_type"), col("uniq_exact"),
          (abs(col("hll_users") - col("uniq_exact")) <=
            col("uniq_exact") * lit(0.05)).as("within_tolerance"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS uniq_exact,
             |TRUE AS within_tolerance
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // sketch MERGEABILITY — the property that makes sketches usable on a
    // cluster (partial sketches per partition/day, one cheap union at
    // the top instead of re-scanning): per-day HLL sketches unioned
    // across the month must estimate the month's distincts within the
    // same 5% verdict bound. A union that double-counts or drops
    // registers flips the boolean.
    Q("q_hll_union",
      (s, d) => {
        val e = ev(s, d)
        val merged = e
          .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged"))
        val exact = e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("uniq_exact"))
        merged.join(exact, "event_type")
          .select(col("event_type"), col("uniq_exact"),
            (abs(col("merged") - col("uniq_exact")) <=
              col("uniq_exact") * lit(0.05)).as("within_tolerance"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS uniq_exact,
             |TRUE AS within_tolerance
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // approx_percentile (accuracy 1000) vs the exact discrete percentile
    // — value-relative 5% bound per group; p50/p95 sit ~35/~150 so the
    // bound is far from the zero-value degenerate case.
    Q("q_approx_percentiles",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_approx"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95_approx"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50e"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95e"))
        .select(col("event_type"),
          round(col("p50e"), 3).as("p50_exact"),
          round(col("p95e"), 3).as("p95_exact"),
          (abs(col("p50_approx") - col("p50e")) <= col("p50e") * lit(0.05)).as("p50_within"),
          (abs(col("p95_approx") - col("p95e")) <= col("p95e") * lit(0.05)).as("p95_within"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |round(quantile_disc(value, 0.5), 3) AS p50_exact,
             |round(quantile_disc(value, 0.95), 3) AS p95_exact,
             |TRUE AS p50_within, TRUE AS p95_within
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // one-pass table profile (ANALYZE-style): count, exact distincts,
    // time range, null rate, value sum — all fused into a single
    // map-side-combinable aggregate over one scan, the data-profiling
    // step a catalog runs per table.
    Q("q_table_profile",
      (s, d) => ev(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        tsStr(min(col("ts"))).as("ts_min"),
        tsStr(max(col("ts"))).as("ts_max"),
        sum(col("props").isNull.cast("long")).as("n_null_props"),
        dsum(col("value")).as("sum_value")),
      Some("""SELECT count(*) AS n_rows,
             |count(DISTINCT user_id) AS n_users,
             |count(DISTINCT event_type) AS n_types,
             |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
             |strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts_max,
             |CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
             |round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_value
             |FROM events""".stripMargin.replace("\n", " "))),

    // hourly traffic spike detection: flag hours whose count exceeds the
    // trailing-24-WALL-CLOCK-hour mean by 3 sigma. Aggregate-then-window
    // idiom: the window input is one row per observed hour (O(hours)
    // regardless of corpus size), so the unpartitioned ordered window is
    // correct here — the heavy lifting happened in the map-side count.
    // The frame is RANGE over the integer epoch-hour, so a gap in
    // traffic narrows the baseline to hours actually inside [h−24, h−1]
    // rather than silently reaching further back (zero-traffic hours
    // have no row and thus can't be flagged themselves — by design; the
    // n ≥ 12 guard suppresses verdicts on too-thin baselines). The
    // 3-sigma test is rewritten division- and sqrt-free over integer
    // sums ((n·c − s)² > 9·(n·q − s²)), so both engines compare exact
    // integers — no float drift can flip a flag.
    Q("q_anomaly_hours",
      (s, d) => {
        val hourly = ev(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("hh", expr("unix_micros(hour) div 3600000000"))
        val w = Window.orderBy("hh").rangeBetween(-24, -1)
        hourly
          .withColumn("n", count(col("cnt")).over(w))
          .withColumn("s", sum(col("cnt")).over(w))
          .withColumn("q", sum(col("cnt") * col("cnt")).over(w))
          .withColumn("dev", col("n") * col("cnt") - col("s"))
          .select(tsStr(col("hour")).as("hour"), col("cnt"),
            (col("n") >= 12 && col("dev") > 0 &&
              col("dev") * col("dev") >
                lit(9) * (col("n") * col("q") - col("s") * col("s")))
              .as("is_spike"))
          .orderBy("hour")
      },
      Some("""WITH h AS (
             |  SELECT date_trunc('hour', ts) AS hour,
             |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hh,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |w AS (
             |  SELECT hour, cnt,
             |         count(cnt) OVER win AS n,
             |         sum(cnt) OVER win AS s,
             |         sum(cnt * cnt) OVER win AS q
             |  FROM h
             |  WINDOW win AS (ORDER BY hh RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, cnt,
             |       (n >= 12 AND (n * cnt - s) > 0
             |        AND (n * cnt - s) * (n * cnt - s) > 9 * (n * q - s * s)) AS is_spike
             |FROM w ORDER BY hour""".stripMargin.replace("\n", " "))),

    // Count–Min heavy hitters (the frequency-sketch family next to HLL
    // and approx-percentile): exact top-10 users vs single-pass CMS
    // estimates. Verdicts are CMS's two guarantees — estimate never
    // undercounts (hard), and overcount ≤ eps·N (probabilistic, but
    // deterministic under the fixed seed). `operators/Sketches`.
    Q("q_cms_topk",
      (s, d) => graft.operators.Sketches.heavyHitters(ev(s, d), "user_id", k = 10),
      Some("""SELECT user_id, count(*) AS cnt_exact,
             |TRUE AS est_ge_exact, TRUE AS est_within_bound
             |FROM events GROUP BY user_id
             |ORDER BY cnt_exact DESC, user_id LIMIT 10""".stripMargin.replace("\n", " ")),
      headline = true),

    // CMS MERGEABILITY — per-day sketches (built near the scan, the way
    // a cluster would) unioned counter-wise into the month. The union is
    // exactly equal to the single-pass sketch (SketchesSpec asserts
    // bit-equality), so the same verdict bound holds.
    Q("q_cms_union",
      (s, d) => graft.operators.Sketches.heavyHittersMerged(
        ev(s, d), "user_id", dayofmonth(col("ts")), k = 10),
      Some("""SELECT user_id, count(*) AS cnt_exact,
             |TRUE AS est_ge_exact, TRUE AS est_within_bound
             |FROM events GROUP BY user_id
             |ORDER BY cnt_exact DESC, user_id LIMIT 10""".stripMargin.replace("\n", " "))),

    // KMV/theta sketches (operators/ThetaSketch): SET ALGEBRA over
    // distinct sketches — the audience-overlap question ("users who did
    // A AND B / A OR B / A but NOT B") that HLL cannot answer, per
    // event-type pair. Verdict-bearing like the other sketch gates:
    // exact pairwise distincts recomputed in DuckDB, estimates bound to
    // 5% OF THE UNION (the honest theta error form — intersection error
    // scales with the union, not the intersection). Sub-k groups make
    // the sketch the exact hash set, so at the verify scale the bound
    // holds with zero slack and a drifting estimator flips the hash.
    Q("q_theta_overlap",
      (s, d) => {
        import graft.operators.ThetaSketch._
        val e = ev(s, d)
        val sk = e.groupBy("event_type")
          .agg(kmv(col("user_id")).as("sk"))
        val pairs = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
          .crossJoin(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b")))
          .filter(col("type_a") < col("type_b"))
        val ud = e.select(col("event_type"), col("user_id")).distinct()
        val exact = ud.select(col("event_type").as("type_a"), col("user_id"))
          .join(ud.select(col("event_type").as("type_b"), col("user_id")), "user_id")
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(countDistinct(col("user_id")).as("inter_exact"))
        val sizes = ud.groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("nu"))
        pairs.join(exact, Seq("type_a", "type_b"))
          .join(sizes.select(col("event_type").as("type_a"), col("nu").as("na")), "type_a")
          .join(sizes.select(col("event_type").as("type_b"), col("nu").as("nb")), "type_b")
          .select(col("type_a"), col("type_b"),
            col("inter_exact"),
            (col("na") + col("nb") - col("inter_exact")).as("union_exact"),
            (col("na") - col("inter_exact")).as("diff_exact"),
            kmvIntersectEstimate(col("sk_a"), col("sk_b")).as("ie"),
            kmvUnionEstimate(col("sk_a"), col("sk_b")).as("ue"),
            kmvDifferenceEstimate(col("sk_a"), col("sk_b")).as("de"))
          .select(col("type_a"), col("type_b"),
            col("inter_exact"), col("union_exact"), col("diff_exact"),
            (abs(col("ie") - col("inter_exact")) <= col("union_exact") * lit(0.05)).as("inter_ok"),
            (abs(col("ue") - col("union_exact")) <= col("union_exact") * lit(0.05)).as("union_ok"),
            (abs(col("de") - col("diff_exact")) <= col("union_exact") * lit(0.05)).as("diff_ok"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ud AS (SELECT DISTINCT event_type, user_id FROM events),
             |sz AS (SELECT event_type, count(*) AS nu FROM ud GROUP BY 1),
             |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |             count(*) AS inter_exact
             |      FROM ud a JOIN ud b ON a.user_id = b.user_id
             |      WHERE a.event_type < b.event_type GROUP BY 1, 2)
             |SELECT i.type_a, i.type_b, CAST(i.inter_exact AS BIGINT) AS inter_exact,
             |       CAST(sa.nu + sb.nu - i.inter_exact AS BIGINT) AS union_exact,
             |       CAST(sa.nu - i.inter_exact AS BIGINT) AS diff_exact,
             |       TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok
             |FROM i JOIN sz sa ON sa.event_type = i.type_a
             |       JOIN sz sb ON sb.event_type = i.type_b
             |ORDER BY type_a, type_b""".stripMargin.replace("\n", " ")),
      headline = true),

    // gap-based sessionization (30 min), exact microsecond durations.
    Q("q_sessionize",
      (s, d) => Sessionize.sessions(ev(s, d))
        .select(col("user_id"), col("session_seq"), col("n_events"), col("duration_us"))
        .orderBy("user_id", "session_seq"),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |         CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
             |  FROM g)
             |SELECT user_id, session_seq, count(*) AS n_events,
             |       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
             |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin.replace("\n", " ")),
      headline = true),

    // global session stats (events/session, durations) — one row.
    Q("q_session_stats",
      (s, d) => Sessionize.sessions(ev(s, d))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          dratio(sum(col("n_events")), count(lit(1))).as("avg_events_per_session"),
          sum(col("duration_us")).as("total_duration_us"),
          max(col("duration_us")).as("max_duration_us")),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |         sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
             |  FROM g),
             |sess AS (
             |  SELECT user_id, session_seq, count(*) AS n_events,
             |         max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
             |  FROM s GROUP BY user_id, session_seq)
             |SELECT count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events,
             |       round(CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_events_per_session,
             |       CAST(sum(duration_us) AS BIGINT) AS total_duration_us, max(duration_us) AS max_duration_us
             |FROM sess""".stripMargin.replace("\n", " "))),

    // top-K by count (TakeOrderedAndProject): top props.k values.
    Q("q_top_pages",
      (s, d) => ev(s, d)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("k"))
        .limit(10),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS cnt
             |FROM events GROUP BY 1 ORDER BY cnt DESC, k LIMIT 10""".stripMargin.replace("\n", " ")),
      headline = true),

    // first/last event per user (min_by/max_by over event time).
    Q("q_first_last_event",
      (s, d) => ev(s, d).groupBy("user_id")
        .agg(
          min_by(col("event_type"), col("ts")).as("first_event"),
          max_by(col("event_type"), col("ts")).as("last_event"),
          tsStr(min(col("ts"))).as("first_ts"),
          tsStr(max(col("ts"))).as("last_ts"))
        .orderBy("user_id"),
      Some("""SELECT user_id, arg_min(event_type, ts) AS first_event,
             |arg_max(event_type, ts) AS last_event,
             |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
             |strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // ranking window functions over exact (decimal) per-user totals —
    // computed by the distributed range-partitioned ranking operator, not
    // an unpartitioned window (which would drag every per-user aggregate
    // into a single task; see operators/Ranking).
    Q("q_user_rank",
      (s, d) => {
        val totals = ev(s, d).groupBy("user_id")
          .agg(sum(dec(col("value"))).as("tv"), count(lit(1)).as("n_events"))
        val ranked = graft.operators.Ranking.withGlobalRank(
          graft.operators.Ranking.withGlobalRank(
            totals, col("tv"), ascending = false, "rnk"),
          col("n_events"), ascending = false, "drnk", dense = true)
        ranked
          .select(col("user_id"), r3(col("tv").cast("double")).as("total_value"),
            col("n_events"), col("rnk"), col("drnk"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (
             |  SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS tv, count(*) AS n_events
             |  FROM events GROUP BY user_id)
             |SELECT user_id, round(CAST(tv AS DOUBLE), 3) AS total_value, n_events,
             |       rank() OVER (ORDER BY tv DESC) AS rnk,
             |       dense_rank() OVER (ORDER BY n_events DESC) AS drnk
             |FROM t ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // inter-event gap per user via lag() — exact microsecond sums.
    Q("q_interevent_gap",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        ev(s, d)
          .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("gap_us").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_gap_us"),
            dratio(sum(col("gap_us")), count(lit(1)) * lit(1000000L), 3).as("avg_gap_sec"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id,
             |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |  FROM events)
             |SELECT user_id, count(*) AS n_gaps, CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
             |       round(CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE), 3) AS avg_gap_sec
             |FROM g WHERE gap_us IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // broadcast dimension join: events × customer (SURVEY §2.4 "broadcast dim join").
    Q("q_join_customer",
      (s, d) => ev(s, d)
        .join(broadcast(Tables.customer(s, d)), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS cnt,
             |round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS total_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      headline = true),

    // left-semi: customers that produced at least one purchase event.
    Q("q_semi_join",
      (s, d) => Tables.customer(s, d)
        .join(ev(s, d).filter(col("event_type") === "purchase"),
          col("c_custkey") === col("user_id"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM events WHERE event_type = 'purchase' AND user_id = c_custkey)
             |ORDER BY c_custkey""".stripMargin.replace("\n", " "))),

    // left-anti: customers that never produced an event.
    Q("q_anti_join",
      (s, d) => Tables.customer(s, d)
        .join(ev(s, d), col("c_custkey") === col("user_id"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS cnt FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
             |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),

    // set ops on user sets (SURVEY §2.4 "INTERSECT on user sets") —
    // restricted to day 1 so both branches are non-trivial.
    Q("q_users_intersect",
      (s, d) => ev(s, d)
        .filter(col("event_type") === "purchase" && dayofmonth(col("ts")) <= 1)
        .select("user_id")
        .intersect(ev(s, d)
          .filter(col("event_type") === "error" && dayofmonth(col("ts")) <= 1)
          .select("user_id"))
        .orderBy("user_id"),
      Some("""SELECT user_id FROM events WHERE event_type = 'purchase' AND day(ts) <= 1
             |INTERSECT
             |SELECT user_id FROM events WHERE event_type = 'error' AND day(ts) <= 1
             |ORDER BY user_id""".stripMargin.replace("\n", " "))),

    Q("q_users_except",
      (s, d) => ev(s, d)
        .filter(col("event_type") === "purchase" && dayofmonth(col("ts")) <= 1)
        .select("user_id")
        .except(ev(s, d)
          .filter(col("event_type") === "error" && dayofmonth(col("ts")) <= 1)
          .select("user_id"))
        .orderBy("user_id"),
      Some("""SELECT user_id FROM events WHERE event_type = 'purchase' AND day(ts) <= 1
             |EXCEPT
             |SELECT user_id FROM events WHERE event_type = 'error' AND day(ts) <= 1
             |ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // UNION ALL across slices (the reference's hourly-partition union).
    Q("q_union_all",
      (s, d) => ev(s, d).filter(col("event_type") === "purchase").select("user_id")
        .unionAll(ev(s, d).filter(col("event_type") === "error").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS cnt FROM (
             |  SELECT user_id FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id FROM events WHERE event_type = 'error')
             |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // ROLLUP over (event_type, day) — dashboard pivot (SURVEY §2.4).
    Q("q_rollup",
      (s, d) => ev(s, d)
        .rollup(col("event_type"), dayofmonth(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day").cast("string"), lit("ALL")).as("day"),
          col("cnt"))
        .orderBy("event_type", "day"),
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |coalesce(CAST(day(ts) AS VARCHAR), 'ALL') AS day, count(*) AS cnt
             |FROM events GROUP BY ROLLUP(event_type, day(ts))
             |ORDER BY event_type, day""".stripMargin.replace("\n", " "))),

    // CUBE over (event_type, hour-of-day).
    Q("q_cube",
      (s, d) => ev(s, d)
        .cube(col("event_type"), hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("hod").cast("string"), lit("ALL")).as("hod"),
          col("cnt"), col("total_value"))
        .orderBy("event_type", "hod"),
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |coalesce(CAST(hour(ts) AS VARCHAR), 'ALL') AS hod, count(*) AS cnt,
             |round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS total_value
             |FROM events GROUP BY CUBE(event_type, hour(ts))
             |ORDER BY event_type, hod""".stripMargin.replace("\n", " "))),

    // GROUPING SETS via the SQL surface (Engine.sql path).
    Q("q_grouping_sets",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events")
        s.sql("""SELECT coalesce(event_type, 'ALL') AS event_type,
                |coalesce(CAST(day(ts) AS STRING), 'ALL') AS day, count(*) AS cnt
                |FROM events GROUP BY GROUPING SETS ((event_type), (day(ts)))
                |ORDER BY event_type, day""".stripMargin)
      },
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |coalesce(CAST(day(ts) AS VARCHAR), 'ALL') AS day, count(*) AS cnt
             |FROM events GROUP BY GROUPING SETS ((event_type), (day(ts)))
             |ORDER BY event_type, day""".stripMargin.replace("\n", " "))),

    // scalar-function repertoire (SURVEY §2.4: lower/upper/substring/length/
    // regexp_extract/coalesce) — full-width projection, pruned scan.
    Q("q_scalar_funcs",
      (s, d) => ev(s, d).select(
        col("event_id"),
        upper(col("event_type")).as("et_up"),
        lower(col("event_type")).as("et_low"),
        substring(col("event_type"), 1, 3).as("et_pre"),
        length(col("event_type")).as("et_len"),
        regexp_extract(col("props"), "[0-9]+", 0).as("k_digits"),
        element_at(split(col("props"), ":"), 1).as("props_head"),
        coalesce(nullif(col("event_type"), lit("error")), lit("ERR")).as("et_coal"))
        .orderBy("event_id"),
      Some("""SELECT event_id, upper(event_type) AS et_up, lower(event_type) AS et_low,
             |substring(event_type, 1, 3) AS et_pre, length(event_type) AS et_len,
             |regexp_extract(props, '[0-9]+', 0) AS k_digits,
             |string_split(props, ':')[1] AS props_head,
             |coalesce(nullif(event_type, 'error'), 'ERR') AS et_coal
             |FROM events ORDER BY event_id""".stripMargin.replace("\n", " "))),

    // exact percentiles (sort-based aggregate; _disc avoids interpolation
    // formula differences between engines).
    Q("q_value_percentiles",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events")
        s.sql("""SELECT event_type,
                |round(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 3) AS p50,
                |round(percentile_disc(0.9) WITHIN GROUP (ORDER BY value), 3) AS p90,
                |round(percentile_disc(0.99) WITHIN GROUP (ORDER BY value), 3) AS p99,
                |round(min(value), 3) AS mn, round(max(value), 3) AS mx
                |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |round(quantile_disc(value, 0.5), 3) AS p50,
             |round(quantile_disc(value, 0.9), 3) AS p90,
             |round(quantile_disc(value, 0.99), 3) AS p99,
             |round(min(value), 3) AS mn, round(max(value), 3) AS mx
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // PIVOT: events per (day, event_type) as a wide dashboard matrix.
    Q("q_pivot",
      (s, d) => ev(s, d)
        .groupBy(dayofmonth(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day"),
      Some("""SELECT day(ts) AS day,
             |count(*) FILTER (WHERE event_type = 'click') AS click,
             |count(*) FILTER (WHERE event_type = 'error') AS error,
             |count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),

    // UNPIVOT (wide → long): per-day event counts back to rows via
    // stack(); oracle unpivots the same FILTER-pivoted wide table.
    Q("q_unpivot",
      (s, d) => ev(s, d)
        .groupBy(dayofmonth(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1))).na.fill(0L)
        .select(col("day"), expr(
          "stack(5, 'click', click, 'error', error, 'purchase', purchase, " +
            "'signup', signup, 'view', view) AS (event, cnt)"))
        .orderBy("day", "event"),
      Some("""WITH wide AS (SELECT day(ts) AS day,
             |count(*) FILTER (WHERE event_type = 'click') AS click,
             |count(*) FILTER (WHERE event_type = 'error') AS error,
             |count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY 1)
             |SELECT day, event, cnt FROM wide
             |UNPIVOT (cnt FOR event IN (click, error, purchase, signup, view))
             |ORDER BY day, event""".stripMargin.replace("\n", " ")),
      headline = true),

    // ordered array aggregation: per-user sorted distinct event types.
    // Exploded to flat (user_id, pos, event) rows — the driver's value
    // hasher needs hashable scalars, and position-exploding still checks
    // the array's exact content AND order.
    Q("q_array_agg",
      (s, d) => ev(s, d)
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("event_type"))).as("events"))
        .select(col("user_id"), posexplode(col("events")).as(Seq("pos", "event")))
        .orderBy("user_id", "pos"),
      Some("""WITH a AS (SELECT user_id, list_sort(list_distinct(list(event_type))) AS events
             |FROM events WHERE user_id < 50 GROUP BY user_id)
             |SELECT user_id, unnest(range(len(events))) AS pos, unnest(events) AS event
             |FROM a ORDER BY user_id, pos""".stripMargin.replace("\n", " "))),

    // sliding window (2h window, 1h slide) — every window with ≥1 event.
    Q("q_window_sliding",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(tsStr(col("window.start")).as("win_start"), col("cnt"))
        .orderBy("win_start"),
      Some("""WITH hc AS (SELECT date_trunc('hour', ts) AS h, count(*) AS c FROM events GROUP BY 1),
             |starts AS (SELECT h AS s FROM hc UNION SELECT h - INTERVAL 1 HOUR FROM hc)
             |SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS win_start,
             |       CAST((SELECT sum(c) FROM hc WHERE hc.h >= starts.s AND hc.h < starts.s + INTERVAL 2 HOUR) AS BIGINT) AS cnt
             |FROM starts ORDER BY win_start""".stripMargin.replace("\n", " "))),

    // conditional counting (SURVEY §2.4 lists count_if explicitly).
    Q("q_count_if",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(
          count_if(col("value") > 100).as("high_value"),
          count_if(col("value") <= 100).as("low_value"),
          count_if(col("user_id") % 2 === 0).as("even_users"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |count(*) FILTER (WHERE value > 100) AS high_value,
             |count(*) FILTER (WHERE value <= 100) AS low_value,
             |count(*) FILTER (WHERE user_id % 2 = 0) AS even_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // first event of every derived session (SURVEY §2.4 "first/last page
    // per session" — row_number over the session partition).
    Q("q_first_event_per_session",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("session_seq"))
          .orderBy(col("ts"))
        Sessionize.withSessionIds(ev(s, d))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("session_seq"),
            tsStr(col("ts")).as("session_start"), col("event_type").as("first_event"))
          .orderBy("user_id", "session_seq")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_type,
             |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts, event_type,
             |         CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
             |  FROM g),
             |r AS (
             |  SELECT user_id, session_seq, ts, event_type,
             |         row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts) AS rn
             |  FROM s)
             |SELECT user_id, session_seq,
             |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS session_start,
             |       event_type AS first_event
             |FROM r WHERE rn = 1 ORDER BY user_id, session_seq""".stripMargin.replace("\n", " "))),

    // date/time scalar repertoire over event time.
    Q("q_date_funcs",
      (s, d) => ev(s, d).filter(dayofmonth(col("ts")) === 1)
        .select(
          col("event_id"),
          quarter(col("ts")).as("q"),
          minute(col("ts")).as("mi"),
          second(col("ts")).as("se"),
          unix_micros(col("ts")).as("us"),
          tsStr(col("ts") + expr("INTERVAL 3 DAYS")).as("plus3d"),
          last_day(col("ts")).cast("string").as("month_end"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("days_since"))
        .orderBy("event_id"),
      Some("""SELECT event_id, quarter(ts) AS q, minute(ts) AS mi, second(ts) AS se,
             |epoch_us(ts) AS us,
             |strftime(ts + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S') AS plus3d,
             |strftime(last_day(ts), '%Y-%m-%d') AS month_end,
             |CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS days_since
             |FROM events WHERE day(ts) = 1 ORDER BY event_id""".stripMargin.replace("\n", " "))),

    // string scalar repertoire.
    Q("q_string_funcs",
      (s, d) => ev(s, d).filter(col("event_id") < 1000)
        .select(
          col("event_id"),
          lpad(col("event_type"), 10, "*").as("padded"),
          reverse(col("event_type")).as("rev"),
          translate(col("event_type"), "aeiou", "AEIOU").as("trans"),
          org.apache.spark.sql.functions.repeat(col("event_type"), 2).as("rep"),
          ascii(col("event_type")).as("asc"),
          concat_ws("|", col("event_type"), col("props")).as("joined"),
          org.apache.spark.sql.functions.replace(col("props"), lit("k"), lit("key")).as("repl"))
        .orderBy("event_id"),
      Some("""SELECT event_id, lpad(event_type, 10, '*') AS padded,
             |reverse(event_type) AS rev,
             |translate(event_type, 'aeiou', 'AEIOU') AS trans,
             |repeat(event_type, 2) AS rep,
             |ascii(event_type) AS asc,
             |concat_ws('|', event_type, props) AS joined,
             |replace(props, 'k', 'key') AS repl
             |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin.replace("\n", " "))),

    // JSON payload parsing (from_json on the raw-record channel).
    Q("q_from_json",
      (s, d) => ev(s, d)
        .select(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
        .groupBy((col("k") % 10).as("kmod"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
        .orderBy("kmod"),
      Some("""SELECT CAST(props->>'$.k' AS INT) % 10 AS kmod, count(*) AS cnt,
             |CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")))
  )
}
