package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.PortableRound.r3
import Qutil._

/** Star-schema analytics over the TPC-H-ish tables (TESTDATA.md) — the
  * "general SQL over cataloged tables" half of the reference's query
  * surface (SURVEY.md §2.4: Athena engine v3 gives users full SQL; our
  * engine must match that repertoire, not just the web-log canon).
  *
  * Scale notes: fact-fact joins (lineitem × orders) shuffle on the join
  * key and rely on AQE for skew; dimension joins (nation, supplier,
  * customer-as-dim) are explicitly `broadcast()` so the 100 TB fact scan
  * never shuffles for them. All money math is exact DECIMAL so results are
  * partition-order independent.
  */
object TpchQueries {

  private val one = lit(1.0).cast(DecimalType(3, 2))

  /** The oracle-side replay of [[Tables.partsupp]] — identical integer
    * formulas over the same DISTINCT fact-key pairs, so the partsupp
    * family (Q2/Q9/Q11/Q16/Q20 shapes) stays hash-exact despite the
    * testdata shipping no partsupp parquet.
    */
  val PartsuppCte: String =
    """partsupp AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         CAST((l_partkey * 7 + l_suppkey * 13) % 9999 + 1 AS INTEGER) AS ps_availqty,
      |         (l_partkey * 31 + l_suppkey * 7919) % 1000 + 1 AS ps_supplycost
      |  FROM lineitem)""".stripMargin.replace("\n", " ")

  val all: Seq[Q] = Seq(

    // TPC-H Q1 shape: pricing summary over the fact table, decimal-exact.
    Q("q_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          r3(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
            .cast("double")).as("sum_disc_price"),
          r3(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
            * (one + dec(col("l_tax")))).cast("double")).as("sum_charge"),
          dratio(sum(dec(col("l_quantity"))), count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_qty,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_base_price,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 3) AS sum_disc_price,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1.0 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 3) AS sum_charge,
             |round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_qty,
             |count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")),
      headline = true),

    // 4-way join: revenue per nation; dims broadcast, facts shuffle once.
    Q("q_revenue_by_nation",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(r3(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 3) AS revenue,
             |count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " ")),
      headline = true),

    // top-K suppliers by exact revenue (TakeOrderedAndProject).
    Q("q_top_suppliers",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("rev"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), r3(col("rev").cast("double")).as("revenue"))
        .orderBy(col("rev").desc, col("s_suppkey"))
        .limit(10)
        .select("s_suppkey", "s_name", "revenue"),
      Some("""SELECT s_suppkey, s_name, round(CAST(rev AS DOUBLE), 3) AS revenue FROM (
             |  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
             |  FROM lineitem GROUP BY l_suppkey) t
             |JOIN supplier ON l_suppkey = s_suppkey
             |ORDER BY rev DESC, s_suppkey LIMIT 10""".stripMargin.replace("\n", " ")),
      headline = true),

    // TPC-H Q3 shape (shipping priority): segment-filtered customers ×
    // date-bounded orders × unshipped lineitems, top-10 by revenue.
    // Filters push to all three scans; the customer dim broadcasts.
    Q("q_shipping_priority",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("rev"))
        .orderBy(col("rev").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), r3(col("rev").cast("double")).as("revenue"),
          tsStr(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority")),
      Some("""SELECT l_orderkey, round(CAST(rev AS DOUBLE), 3) AS revenue,
             |strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority FROM (
             |  SELECT l_orderkey, o_orderdate, o_orderpriority,
             |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
             |    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
             |    AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |  GROUP BY 1, 2, 3)
             |ORDER BY rev DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin.replace("\n", " "))),

    // TPC-H Q10 shape (returned items): quarterly returned-revenue per
    // customer, top-20; nation dim broadcast.
    Q("q_returned_items",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("rev"))
        .orderBy(col("rev").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          r3(col("rev").cast("double")).as("revenue")),
      Some("""SELECT c_custkey, c_name, n_name, round(CAST(rev AS DOUBLE), 3) AS revenue FROM (
             |  SELECT c_custkey, c_name, n_name,
             |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  WHERE l_returnflag = 'R'
             |    AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
             |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |  GROUP BY 1, 2, 3)
             |ORDER BY rev DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", " "))),

    // TPC-H Q5 shape (local supplier volume): revenue where the supplier
    // and the ordering customer share a nation. Both dims broadcast; the
    // nation equality rides the customer join so no extra shuffle appears.
    Q("q_local_supplier_volume",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(r3(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 3) AS revenue,
             |count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "))),

    // TPC-H Q7 shape (volume shipping): revenue between distinct
    // (supplier-nation, customer-nation) pairs per ship year. The nation
    // dim broadcasts twice under different aliases.
    Q("q_nations_trade",
      (s, d) => {
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .filter(col("s_nationkey") =!= col("c_nationkey"))
          .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
          .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          // round in DECIMAL space (exact half-up) BEFORE the double cast:
          // sums ending exactly in .xxx5 otherwise round differently across
          // engines (double-rounding through the binary representation).
          .agg(round(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 3)
            .cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |year(l_shipdate) AS l_year,
             |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))), 3) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
             |  AND s_nationkey <> c_nationkey
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " "))),

    // TPC-H Q14 shape (promo revenue): promo share of one month's revenue.
    // sum(CASE) via null-skipping `when` so both branches stay decimal-exact.
    Q("q_promo_revenue",
      (s, d) => {
        val discPrice = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(
            round(lit(100.0) * sum(when(col("p_type") === "PROMO", discPrice)).cast("double")
              / sum(discPrice).cast("double"), 6).as("promo_pct"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT
             |round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
             |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_pct,
             |count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin.replace("\n", " "))),

    // TPC-H Q18 shape (large-volume customers): orders whose total quantity
    // tops 150, with their customer, top-100 by price. The aggregate runs
    // before the joins so only qualifying orderkeys reach the join.
    Q("q_large_orders",
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(dec(col("l_quantity"))).as("qty"))
          .filter(col("qty") > 150),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          tsStr(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"),
          r3(col("qty").cast("double")).as("sum_qty")),
      Some("""SELECT c_custkey, c_name, o_orderkey,
             |strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_totalprice,
             |round(CAST(qty AS DOUBLE), 3) AS sum_qty
             |FROM orders
             |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
             |      FROM lineitem GROUP BY 1
             |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) t
             |  ON o_orderkey = l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin.replace("\n", " ")),
      headline = true),

    // TPC-H Q19 shape (discounted revenue): disjunctive brand/size/quantity
    // predicates — exercises OR-predicate pushdown through a broadcast join.
    Q("q_disjunctive_revenue",
      (s, d) => Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(r3(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double")).as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 3) AS revenue,
             |count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin.replace("\n", " "))),

    // semi-join priority count (TPC-H Q4 shape).
    Q("q_order_priority",
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
          .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "))),

    // left outer join preserving empty customers.
    Q("q_orders_per_customer",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spend"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |round(CAST(sum(CAST(coalesce(o_totalprice, 0.0) AS DECIMAL(18,2))) AS DOUBLE), 3) AS total_spend
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin.replace("\n", " "))),

    // segment dashboard: counts + exact balance stats.
    Q("q_segment_stats",
      (s, d) => Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          dsum(col("c_acctbal")).as("sum_bal"),
          round(sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)).cast("double"), 6)
            .as("avg_bal"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS cnt,
             |round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 3) AS sum_bal,
             |round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_bal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", " "))),

    // scalar subquery: customers above the global mean balance (exact
    // decimal mean so both engines compare against the same double).
    Q("q_scalar_subquery",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        s.sql("""SELECT c_mktsegment, count(*) AS n_above FROM customer
                |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM customer)
                |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment, count(*) AS n_above FROM customer
             |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM customer)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", " "))),

    // HAVING over an aggregate.
    Q("q_having",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n_orders,
             |round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 3) AS spend
             |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
             |ORDER BY o_custkey""".stripMargin.replace("\n", " "))),

    // correlated-shape aggregate filter: parts above their brand's mean size.
    Q("q_parts_above_brand_avg",
      (s, d) => {
        val p = Tables.part(s, d)
        val brandAvg = p.groupBy(col("p_brand").as("b_brand"))
          .agg((sum(col("p_size").cast("long")) / count(lit(1))).as("avg_size"))
        p.join(broadcast(brandAvg), col("p_brand") === col("b_brand"))
          .filter(col("p_size").cast("double") > col("avg_size"))
          .groupBy("p_brand").agg(count(lit(1)).as("n_large"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n_large FROM part p
             |JOIN (SELECT p_brand AS b_brand, CAST(sum(p_size) AS DOUBLE) / count(*) AS avg_size
             |      FROM part GROUP BY p_brand) b ON p.p_brand = b.b_brand
             |WHERE CAST(p_size AS DOUBLE) > avg_size
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " "))),

    // TPC-H Q6 shape: forecast-revenue-change — a pure scan-side filter
    // + one exact decimal aggregate; the whole query should collapse to
    // a pushed-filter parquet scan and a partial/final agg, no shuffle
    // beyond the single-row exchange.
    Q("q_forecast_revenue",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          dec(col("l_discount")).between(lit(0.02).cast(DecimalType(18, 2)),
            lit(0.04).cast(DecimalType(18, 2))) &&
          col("l_quantity") < 25)
        .agg(r3(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double")).as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 3) AS revenue,
             |count(*) AS n_items
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
             |AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN CAST(0.02 AS DECIMAL(18,2)) AND CAST(0.04 AS DECIMAL(18,2))
             |AND l_quantity < 25""".stripMargin.replace("\n", " ")),
      headline = true),

    // TPC-H Q12 shape (no l_shipmode/commitdate in this schema): late
    // shipments — lineitems shipped > 60 days after the order date —
    // bucketed by order priority class, the same fact-fact join +
    // conditional-count pattern.
    Q("q_late_shipments",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          count_if(col("o_orderpriority").isin("1-URGENT", "2-HIGH")).as("high_line_count"),
          count_if(!col("o_orderpriority").isin("1-URGENT", "2-HIGH")).as("low_line_count"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
             |count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "))),

    // TPC-H Q13 shape: customer order-count distribution — left outer
    // join preserving order-less customers, then a histogram of the
    // per-customer counts (two cascaded aggregations).
    Q("q_customer_distribution",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin.replace("\n", " "))),

    // TPC-H Q15 shape: top supplier(s) by quarterly revenue — revenue
    // per supplier (exact decimal), then keep the max via a scalar
    // subquery on the UNROUNDED decimal so ties are exact.
    Q("q_top_supplier_revenue",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
          .groupBy("l_suppkey")
          .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
            .as("_rev"))
        val top = rev.agg(max(col("_rev")).as("_max"))
        rev.join(broadcast(top), col("_rev") === col("_max"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            r3(col("_rev").cast("double")).as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS r
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 3) AS total_revenue
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE r = (SELECT max(r) FROM rev)
             |ORDER BY s_suppkey""".stripMargin.replace("\n", " "))),

    // TPC-H Q17 shape: revenue from small-quantity orders of one brand.
    // The correlated per-part mean-quantity comparison is rewritten
    // division-free (qty · n · 5 < sum_qty ⟺ qty < 0.2·avg) so both
    // engines compare exact decimals — no division-rounding skew.
    Q("q_small_qty_revenue",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val perPart = li.groupBy(col("l_partkey").as("a_partkey"))
          .agg(sum(dec(col("l_quantity"))).as("sum_qty"),
            count(lit(1)).as("n_li"))
        li.join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#23")),
            col("l_partkey") === col("p_partkey"))
          .join(perPart, col("l_partkey") === col("a_partkey"))
          .filter(dec(col("l_quantity")) * col("n_li") * lit(5) < col("sum_qty"))
          .agg(round(sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0), 3)
            .as("avg_yearly"),
            count(lit(1)).as("n_items"))
      },
      Some("""WITH pp AS (
             |  SELECT l_partkey AS a_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, count(*) AS n_li
             |  FROM lineitem GROUP BY l_partkey)
             |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7, 3) AS avg_yearly,
             |count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN pp ON l_partkey = a_partkey
             |WHERE p_brand = 'Brand#23'
             |AND CAST(l_quantity AS DECIMAL(18,2)) * n_li * 5 < sum_qty""".stripMargin.replace("\n", " "))),

    // TPC-H Q22 shape (no phone prefixes in this schema; every customer
    // has SOME order in this data, so the anti-join target is "no
    // urgent-priority order"): customers from a nation allowlist with
    // above-average positive balance and no urgent order — anti join +
    // division-free scalar-average comparison (bal · n > sum ⟺
    // bal > avg).
    Q("q_idle_customers",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_nationkey").isin(1, 3, 5, 7, 9))
        val avgPos = c.filter(col("c_acctbal") > 0.0)
          .agg(sum(dec(col("c_acctbal"))).as("sum_bal"), count(lit(1)).as("n_pos"))
        c.join(broadcast(avgPos),
            dec(col("c_acctbal")) * col("n_pos") > col("sum_bal"))
          .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
          .orderBy("c_nationkey")
      },
      Some("""WITH cset AS (SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)),
             |a AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal, count(*) AS n_pos
             |      FROM cset WHERE c_acctbal > 0.0)
             |SELECT c_nationkey, count(*) AS numcust,
             |round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 3) AS totacctbal
             |FROM cset, a
             |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_bal
             |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin.replace("\n", " "))),

    // TPC-H Q8 shape: a nation's market share inside a region by order
    // year — the widest join in the canon (lineitem × part × supplier ×
    // nation×2 × orders × customer × region). Every dimension broadcasts;
    // the two fact tables shuffle once on the order key. The share is
    // one double division over two exact decimal sums (dratio), so the
    // result is partition-order independent and replays bit-for-bit.
    Q("q_market_share",
      (s, d) => {
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
        val zero = lit(0).cast(DecimalType(18, 2))
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).filter(col("p_type") === "ECONOMY")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(year(col("o_orderdate")).as("o_year"),
            (dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("volume"),
            col("supp_nation"))
          .groupBy("o_year")
          .agg(dratio(
            sum(when(col("supp_nation") === "NATION_3", col("volume")).otherwise(zero)),
            sum(col("volume"))).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""WITH v AS (
             |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             |         CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             |         n2.n_name AS supp_nation
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
             |  JOIN orders ON o_orderkey = l_orderkey
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
             |  JOIN region ON r_regionkey = n1.n_regionkey AND r_name = 'AMERICA')
             |SELECT o_year,
             |round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |  / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
             |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin.replace("\n", " ")),
      headline = true),

    // TPC-H Q21 shape (receipt/commit dates absent in this schema, so
    // "late" is shipped >90 days after the order): suppliers who were
    // the ONLY late supplier in a multi-supplier finished order — the
    // exists + not-exists pair correlated on the same fact table,
    // expressed as one semi and one anti join on the order key.
    Q("q_waiting_suppliers",
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .withColumn("late",
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        val l1 = base.filter(col("late"))
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        val others = base
          .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
        val lateOthers = base.filter(col("late"))
          .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
        l1.join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
          .join(lateOthers, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
          .join(broadcast(Tables.supplier(s, d)), col("sk") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(20)
      },
      Some("""SELECT s_name, count(*) AS numwait
             |FROM lineitem l1
             |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
             |JOIN supplier ON s_suppkey = l1.l_suppkey
             |WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
             |AND EXISTS (SELECT 1 FROM lineitem l2
             |            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |                  AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " "))),

    // TPC-H Q2 shape: min-cost supplier per part within a region. The
    // candidate (part, supplier, cost) frame joins partsupp to
    // broadcast-filtered region suppliers; the per-part minimum is one
    // key-shuffled aggregate re-joined on (part, cost) — never a
    // correlated re-scan per part.
    Q("q_min_cost_supplier",
      (s, d) => {
        val euroSup = broadcast(Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
        // the part filter moves BEFORE the min-cost aggregation (r14):
        // Q2's per-part minimum ranges over the region's suppliers and
        // never depends on part attributes, so computing it only for
        // parts that survive the (selective) filter is equivalent —
        // and cuts the aggregate AND the min-match self-join to the
        // filtered part count instead of every part in the region. At
        // 100 TB this is the difference between aggregating all of
        // partsupp and aggregating the queried slice.
        val partF = broadcast(Tables.part(s, d)
          .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
          .select("p_partkey"))
        val cost = Tables.partsupp(s, d)
          .join(partF, col("ps_partkey") === col("p_partkey"))
          .join(euroSup, col("ps_suppkey") === col("s_suppkey"))
        val minCost = cost.groupBy(col("ps_partkey").as("mc_part"))
          .agg(min(col("ps_supplycost")).as("min_cost"))
        // min-match join keyed on the PART alone, with the cost match as
        // a residual `<=` (r16): `min_cost` is the group's lower bound,
        // so `ps_supplycost <= min_cost` keeps exactly the equality rows
        // — and a single-key join partitions both sides by ps_partkey,
        // which the min-cost aggregate's output ALREADY is, so the
        // aggregate feeds the join in place (guide §2.4 "two operations
        // keyed the same way share one exchange"). The former
        // (partkey, supplycost) pair key forced a third exchange
        // re-shuffling the aggregate output onto the pair:
        // 3 Exchange → 2 (plans/r16/q_min_cost_supplier_{before,after}).
        cost
          .join(minCost, col("ps_partkey") === col("mc_part") &&
            col("ps_supplycost") <= col("min_cost"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("ps_supplycost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
          .limit(100)
      },
      Some(s"""WITH $PartsuppCte,
             |cost AS (SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
             |         FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
             |         JOIN nation ON s_nationkey = n_nationkey
             |         JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
             |mc AS (SELECT ps_partkey AS mc_part, min(ps_supplycost) AS min_cost
             |       FROM cost GROUP BY 1)
             |SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
             |FROM cost JOIN mc ON ps_partkey = mc_part AND ps_supplycost = min_cost
             |JOIN part ON p_partkey = ps_partkey AND p_size <= 15 AND p_type = 'LARGE'
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin.replace("\n", " ")),
      headline = true),

    // TPC-H Q9 shape: product-type profit by nation and year. Facts
    // join on their keys (lineitem⋈partsupp on the composite pair,
    // lineitem⋈orders on orderkey); part filter and supplier→nation are
    // broadcast. Profit is exact decimal, rounded only at the boundary.
    Q("q_product_profit",
      (s, d) => {
        val supNation = broadcast(Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey").as("ns_suppkey"), col("n_name")))
        // the broadcast part filter applies to BOTH shuffle sides (r14):
        // Catalyst pushes it into lineitem via the broadcast join but
        // cannot infer it for partsupp (the filter column lives on
        // part) — the explicit semi-join cuts the shuffled partsupp
        // volume by the same 'bolt' selectivity before the composite-
        // key exchange, which at 100 TB is most of the join's cost
        val boltParts = broadcast(Tables.part(s, d)
          .filter(col("p_name").contains("bolt")))
        Tables.lineitem(s, d)
          .join(boltParts, col("l_partkey") === col("p_partkey"))
          .join(Tables.partsupp(s, d)
              .join(boltParts.select("p_partkey"),
                col("ps_partkey") === col("p_partkey"), "left_semi"),
            col("l_partkey") === col("ps_partkey") &&
              col("l_suppkey") === col("ps_suppkey"))
          .join(supNation, col("l_suppkey") === col("ns_suppkey"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"),
            (dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) -
              col("ps_supplycost") * dec(col("l_quantity"))).as("amount"))
          .groupBy("nation", "o_year")
          .agg(r3(sum(col("amount")).cast("double")).as("profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""WITH $PartsuppCte
             |SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))
             |  - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 3) AS profit
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%bolt%'
             |JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin.replace("\n", " ")),
      headline = true),

    // TPC-H Q11 shape: important stock — per-part inventory value for
    // one nation's suppliers, kept when above a fraction of the total.
    // Value is exact integer arithmetic; the grand total is a broadcast
    // 1-row aggregate, not a correlated rescan.
    Q("q_important_stock",
      (s, d) => {
        val natSup = broadcast(Tables.supplier(s, d)
          .join(Tables.nation(s, d).filter(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey").as("ns_suppkey")))
        val scoped = Tables.partsupp(s, d)
          .join(natSup, col("ps_suppkey") === col("ns_suppkey"))
          .select(col("ps_partkey"),
            (col("ps_supplycost") * col("ps_availqty")).as("v"))
        // TPC-H scales Q11's fraction by 1/SF because a FIXED fraction
        // of the total goes degenerate as the part count grows (r5
        // measured: 678 rows at sf0.01, zero at sf0.1). A data-relative
        // threshold — parts above 2× the MEAN part value — keeps the
        // query meaningful at every scale, and `value × n_parts >
        // 2 × total` is division- and float-free: both engines compare
        // exact integers, so no boundary row can flip on rounding.
        val total = scoped.agg(sum(col("v")).as("total"),
          countDistinct(col("ps_partkey")).as("n_parts"))
        scoped.groupBy("ps_partkey").agg(sum(col("v")).as("value"))
          .crossJoin(broadcast(total))
          .filter(col("value") * col("n_parts") > col("total") * lit(2L))
          .select(col("ps_partkey"), col("value"))
          .orderBy(col("value").desc, col("ps_partkey"))
      },
      Some(s"""WITH $PartsuppCte,
             |scoped AS (SELECT ps_partkey, ps_supplycost * ps_availqty AS v
             |           FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
             |           JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3')
             |SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value
             |FROM scoped GROUP BY 1
             |HAVING CAST(sum(v) AS BIGINT) * (SELECT CAST(count(DISTINCT ps_partkey) AS BIGINT) FROM scoped)
             |     > 2 * (SELECT CAST(sum(v) AS BIGINT) FROM scoped)
             |ORDER BY value DESC, ps_partkey""".stripMargin.replace("\n", " "))),

    // TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    // after excluding flagged suppliers (negative balances standing in
    // for the comment filter the schema lacks) — broadcast anti-join,
    // then one distinct-count aggregate.
    Q("q_supplier_part_counts",
      (s, d) => {
        val excluded = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_supp"))
        Tables.partsupp(s, d)
          .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))),
            col("ps_partkey") === col("p_partkey"))
          .join(broadcast(excluded), col("ps_suppkey") === col("bad_supp"), "left_anti")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      },
      Some(s"""WITH $PartsuppCte
             |SELECT p_brand, p_type, p_size,
             |       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
             |FROM partsupp JOIN part ON p_partkey = ps_partkey
             |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
             |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
             |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin.replace("\n", " "))),

    // TPC-H Q20 shape: suppliers holding excess stock of 'small%' parts
    // relative to what they actually shipped in 1996 — the shipped
    // quantities aggregate once per (part, supplier) and join back to
    // partsupp on the composite key; no correlated per-row re-scan.
    Q("q_promotion_suppliers",
      (s, d) => {
        val parts = broadcast(Tables.part(s, d)
          .filter(col("p_name").startsWith("small")).select(col("p_partkey")))
        val shipped = Tables.lineitem(s, d)
          .filter(year(col("l_shipdate")) === 1996)
          .join(parts, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey").as("sq_part"), col("l_suppkey").as("sq_supp"))
          .agg(sum(dec(col("l_quantity"))).cast("double").as("qty"))
        Tables.partsupp(s, d)
          .join(parts, col("ps_partkey") === col("p_partkey"), "left_semi")
          .join(shipped, col("ps_partkey") === col("sq_part") &&
            col("ps_suppkey") === col("sq_supp"))
          .filter(col("ps_availqty").cast("double") > col("qty") * lit(0.5))
          .select(col("ps_suppkey")).distinct()
          .join(broadcast(Tables.supplier(s, d)), col("ps_suppkey") === col("s_suppkey"))
          .select(col("s_name")).orderBy("s_name")
      },
      Some(s"""WITH $PartsuppCte
             |SELECT s_name FROM supplier WHERE s_suppkey IN (
             |  SELECT ps_suppkey FROM partsupp
             |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
             |    AND CAST(ps_availqty AS DOUBLE) > 0.5 * (
             |      SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |      FROM lineitem
             |      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
             |        AND year(l_shipdate) = 1996))
             |ORDER BY s_name""".stripMargin.replace("\n", " ")))
  )
}
