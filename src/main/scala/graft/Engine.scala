package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.NativeFunctions

/** The interactive query surface (SURVEY.md §3.3): the reference gives
  * analysts "any SQL over the cataloged tables" through an Athena
  * workgroup plus a registry of named queries published as console
  * templates (`athena_named_query.py:56-64,103-111`). Here that is a thin
  * facade over Catalyst — `sql` hands the text to Spark and returns the
  * lazily-planned frame — plus a named-query registry seeded with the
  * reference's shipped queries (Q1/Q2 shapes) and open for user
  * registration.
  */
final class Engine(val spark: SparkSession,
    resultLocation: Option[String] = None) {

  // graft's native SQL functions, for sessions built without GraftExtensions
  NativeFunctions.register(spark)

  private val named = scala.collection.concurrent.TrieMap[String, String](
    // the reference's named queries, modulo table names
    // (`athena_named_query.py:53,100`)
    "count_raw" -> "SELECT COUNT(*) FROM web_log_json",
    "count_parquet" -> "SELECT COUNT(*) FROM web_log_parquet",
    "show_partitions_raw" -> "SHOW PARTITIONS web_log_json",
    "repair_raw" -> "MSCK REPAIR TABLE web_log_json")

  /** Full Spark SQL — parse/analyze/optimize/execute via Catalyst. */
  def sql(query: String): DataFrame = spark.sql(query)

  def registerNamedQuery(name: String, query: String): Unit = named.put(name, query)

  def namedQueries: Map[String, String] = named.toMap

  def runNamed(name: String): DataFrame =
    sql(named.getOrElse(name, throw new NoSuchElementException(s"no named query: $name")))

  /** Athena-workgroup semantics: the workgroup *enforces* a result
    * location and every query execution lands there as CSV
    * (`athena_workgroup.py:20-53`, result bucket
    * `s3://aws-athena-query-results-…`). Runs the SQL, writes the result
    * set as headered CSV under `<resultLocation>/<queryId>/`, returns
    * (queryId, frame).
    *
    * The single CSV object means ONE task serializes the whole result —
    * correct for Athena-sized result sets, a bottleneck for
    * table-exports. `maxResultRows` guards that: the query executes ONCE,
    * distributed, into a parquet staging dir; the (metadata-cheap) staged
    * row count gates the final single-object CSV copy, so an oversized
    * result fails loudly before any one-task crawl and without
    * re-running the query.
    */
  def execute(query: String, maxResultRows: Long = 1000000L): (String, DataFrame) = {
    val loc = resultLocation.getOrElse(
      throw new IllegalStateException("no result location configured for this workgroup"))
    val id = java.util.UUID.nameUUIDFromBytes(
      (query + loc).getBytes("UTF-8")).toString
    val df = sql(query)
    // staging lives OUTSIDE $loc/$id — the final overwrite of $loc/$id
    // must not delete the staged files it is reading from.
    val staging = s"$loc/.staging_$id"
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(staging)
    val staged = spark.read.parquet(staging)
    val n = staged.count() // parquet footer count — no data scan
    if (n > maxResultRows) {
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      throw new IllegalStateException(
        s"result set has $n rows (> $maxResultRows); a single-object CSV " +
          "result would serialize through one task — write the frame out " +
          "as partitioned parquet instead, or raise maxResultRows explicitly")
    }
    staged.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .csv(s"$loc/$id")
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    (id, df)
  }
}

object Engine {
  def apply(spark: SparkSession): Engine = new Engine(spark)
  def apply(spark: SparkSession, resultLocation: String): Engine =
    new Engine(spark, Some(resultLocation))
}
