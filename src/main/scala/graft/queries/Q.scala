package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.PortableRound

/** One verifiable query: a Spark implementation plus (when SQL-expressible)
  * an equivalent DuckDB oracle over the same parquet tables.
  *
  * Determinism rules (FIXTURES.md §4): every query ends with an explicit
  * ORDER BY over a unique key; timestamps are emitted as UTC
  * `yyyy-MM-dd HH:mm:ss` strings; double aggregates are accumulated in
  * DECIMAL(18,2) (exact, order-independent) and only cast back to double
  * (rounded) at the end, so Spark and DuckDB produce byte-identical rows.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object Qutil {
  val TsFmt = "yyyy-MM-dd HH:mm:ss"
  /** Canonical timestamp rendering, equal to DuckDB strftime '%Y-%m-%d %H:%M:%S'. */
  def tsStr(c: Column): Column = date_format(c, TsFmt)
  /** Exact decimal view of a 2-decimal double column (prices, values). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Order-independent sum of a 2-decimal double column, rendered as double. */
  def dsum(c: Column): Column = PortableRound.r3(sum(dec(c)).cast("double"))
  /** Deterministic mean: exact integer/decimal sum divided once, rounded. */
  def dratio(num: Column, den: Column, scale: Int = 6): Column =
    round(num.cast("double") / den.cast("double"), scale)
}
