package graft.queries

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkTestBase

/** Money sums are rounded to 3 places on the same grid as DuckDB's
  * `round(x, 3)` (`round(x * 1e3) / 1e3`), not on Spark's rounding of
  * the double's shortest decimal rendering.
  */
class MoneyRoundingSpec extends SparkTestBase {

  import spark.implicits._

  test("q_pricing_summary rounds a half-way-looking decimal sum like DuckDB") {
    // 21636839946.73 × (1 − 0.95) is exactly 1081841997.3365 in DECIMAL;
    // as a double it is 1081841997.33649993…, which DuckDB 1.0 rounds to
    // .336 and Spark's round(x, 3) to .337
    val dir = Files.createTempDirectory("graft-rounding").toString
    Seq(("A", "F", 1.0, 21636839946.73, 0.95, 0.0, Timestamp.valueOf("1998-01-01 00:00:00")))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val q = TpchQueries.all.find(_.name == "q_pricing_summary").get
    val row = q.run(spark, dir).head()
    assert(row.getAs[Double]("sum_disc_price") == 1081841997.336)
  }
}
