package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Joins, Skew}
import graft.operators.PortableRound.r3
import Qutil._

/** Round-2 additions to the query canon: join shapes Spark lacks as
  * first-class operators (as-of, range), correlated/lateral subqueries,
  * interpolated percentiles, distribution window functions, ordered
  * string aggregation, full outer joins and RANGE-frame windows — the
  * remaining Athena/Trino repertoire a reference user could reach for
  * (SURVEY.md §2.4).
  */
object AdvancedQueries {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  val all: Seq[Q] = Seq(

    // As-of join (purchase -> latest prior view of the same user): the
    // single-shuffle union+window formulation (operators/Joins.scala);
    // the oracle is DuckDB's native ASOF LEFT JOIN.
    Q("q_asof_attribution",
      (s, d) => {
        val e = ev(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("view_event_id"), col("ts").as("view_ts"))
        Joins.asOfBackward(purchases, views, Seq("user_id"), "ts", "ts",
            Seq("view_event_id", "view_ts"))
          .select(col("event_id"), col("user_id"),
            tsStr(col("ts")).as("purchase_ts"), col("view_event_id"),
            (unix_micros(col("ts")) - unix_micros(col("view_ts"))).as("gap_us"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase'),
             |v AS (SELECT user_id, ts, event_id AS view_event_id FROM events WHERE event_type='view'
             |      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
             |SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
             |       v.view_event_id, epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
             |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // Range join (event value vs supplier balance bands, folded into the
    // value domain so every scale factor has overlaps): bucketed
    // equi-join scale path; oracle is the plain BETWEEN theta join.
    Q("q_range_join",
      (s, d) => {
        val pts = ev(s, d).select("event_id", "value")
        // pmod matches DuckDB's fmod (floored, non-negative) on the
        // negative balances where Spark's % (truncated) would diverge
        val iv = Tables.supplier(s, d).select(col("s_suppkey"),
          pmod(col("s_acctbal"), lit(400)).as("lo"),
          (pmod(col("s_acctbal"), lit(400)) + 50).as("hi"))
        Joins.rangeJoinBucketed(pts, "value", iv, "lo", "hi", bucketWidth = 50.0)
          .select(col("event_id"), col("s_suppkey"), round(col("value"), 3).as("value"))
          .orderBy("event_id", "s_suppkey")
      },
      Some("""SELECT e.event_id, s.s_suppkey, round(e.value, 3) AS value
             |FROM events e JOIN supplier s
             |ON e.value BETWEEN fmod(s.s_acctbal, 400) AND fmod(s.s_acctbal, 400) + 50
             |ORDER BY event_id, s_suppkey""".stripMargin.replace("\n", " ")),
      headline = true),

    // Correlated EXISTS through the SQL surface (Engine.sql semantics):
    // customers with at least one 100+ purchase event.
    Q("q_exists_subquery",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("adv_events")
        Tables.customer(s, d).createOrReplaceTempView("adv_customer")
        s.sql("""SELECT c_custkey, c_name FROM adv_customer c
                 WHERE EXISTS (SELECT 1 FROM adv_events e
                               WHERE e.user_id = c.c_custkey
                                 AND e.event_type = 'purchase' AND e.value > 100)
                 ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM events e
             |              WHERE e.user_id = c.c_custkey
             |                AND e.event_type = 'purchase' AND e.value > 100)
             |ORDER BY c_custkey""".stripMargin.replace("\n", " "))),

    // LATERAL correlated subquery: top-2 orders per customer.
    Q("q_lateral_topn",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("adv_customer")
        Tables.orders(s, d).createOrReplaceTempView("adv_orders")
        s.sql("""SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 3) AS price
                 FROM adv_customer c,
                 LATERAL (SELECT o_orderkey, o_totalprice FROM adv_orders
                          WHERE o_custkey = c.c_custkey
                          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
                 WHERE c.c_custkey <= 300
                 ORDER BY c_custkey, price DESC, o_orderkey""")
      },
      Some("""SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 3) AS price
             |FROM customer c, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
             |WHERE c.c_custkey <= 300
             |ORDER BY c_custkey, price DESC, o_orderkey""".stripMargin.replace("\n", " "))),

    // Interpolated percentiles: median + percentile_cont twin of the
    // existing percentile_disc query.
    Q("q_median",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(round(median(col("value")), 6).as("med"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90"))
        .orderBy("event_type"),
      Some("""SELECT event_type, round(median(value), 6) AS med,
             |round(quantile_cont(value, 0.9), 6) AS p90
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // Distribution window functions: quartile, percent_rank, cume_dist
    // per user ordered by (value, event_id) — fully deterministic.
    Q("q_ntile",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
        ev(s, d).select(col("event_id"), col("user_id"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |ntile(4) OVER w AS quartile,
             |round(percent_rank() OVER w, 6) AS pct_rank,
             |round(cume_dist() OVER w, 6) AS cume
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
             |ORDER BY event_id""".stripMargin.replace("\n", " "))),

    // Ordered string aggregation (Trino listagg / DuckDB string_agg).
    Q("q_string_agg",
      (s, d) => ev(s, d).groupBy("user_id")
        .agg(concat_ws(",", array_sort(collect_set(col("event_type")))).as("types"),
          count(lit(1)).as("n"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
             |count(*) AS n
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // Full outer join: activity per user vs the customer dimension —
    // rows survive from both unmatched sides.
    Q("q_full_outer",
      (s, d) => {
        val u = ev(s, d).groupBy("user_id").agg(count(lit(1)).as("n_events"))
        val c = Tables.customer(s, d).filter(col("c_custkey") < 300)
          .select("c_custkey", "c_mktsegment")
        u.join(c, u("user_id") === c("c_custkey"), "full_outer")
          .select(coalesce(col("user_id"), col("c_custkey")).as("id"),
            col("n_events"), col("c_mktsegment"))
          .orderBy("id")
      },
      Some("""SELECT coalesce(u.user_id, c.c_custkey) AS id, u.n_events, c.c_mktsegment
             |FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) u
             |FULL JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 300) c
             |ON u.user_id = c.c_custkey
             |ORDER BY id""".stripMargin.replace("\n", " "))),

    // Skew-safe two-phase aggregation: the salted plan must produce
    // byte-identical results to the plain GROUP BY the oracle runs.
    Q("q_salted_agg",
      (s, d) => Skew.saltedAgg(ev(s, d), Seq("user_id"), saltBuckets = 16,
          partial = Seq(count(lit(1)).as("c"), sum(dec(col("value"))).as("v")),
          merge = Seq(sum(col("c")).as("cnt"),
            r3(sum(col("v")).cast("double")).as("total_value")))
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS cnt,
             |round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS total_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // Skew-safe replicated join: salted (key, salt) equi-join must equal
    // the plain equi-join the oracle runs.
    Q("q_salted_join",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        Skew.saltedJoin(ev(s, d), dim, "user_id", saltBuckets = 8)
          .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS cnt
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", " "))),

    // RANGE-frame window: per-user trailing-1h value sum, framed in
    // microsecond space so both engines use the exact same boundaries.
    Q("q_window_range",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600000000L, 0)
        ev(s, d).select(col("event_id"), col("user_id"), tsStr(col("ts")).as("ts"),
            r3(sum(dec(col("value"))).over(w).cast("double")).as("trailing_1h_value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
             |round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
             |  PARTITION BY user_id ORDER BY epoch_us(ts)
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE), 3) AS trailing_1h_value
             |FROM events ORDER BY event_id""".stripMargin.replace("\n", " ")))
  )
}
