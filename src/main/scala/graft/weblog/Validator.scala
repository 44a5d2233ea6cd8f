package graft.weblog

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions

/** DataFrame-level wrapper of the T1/T2/T4 "Lambda operators"
  * (SURVEY.md §2.2): strict schema validation + Ok/ProcessingFailed
  * tagging + valid/invalid routing + per-batch observability counters.
  * Records pass through *unmodified* (`schema_validator.py:110-143` —
  * only newline normalization happens, which `DataFrameWriter.text/json`
  * gives us for free, one record per line).
  */
object Validator {

  /** Adds `valid: boolean`, `reason: string` next to the raw payload. */
  def validate(df: DataFrame, payloadCol: String = "payload",
      dialect: String = "B"): DataFrame = {
    df.withColumn("_vres",
        NativeFunctions.call(s"validate_weblog_${dialect.toLowerCase(Locale.ROOT)}",
          col(payloadCol)))
      .withColumn("valid", col("_vres.valid"))
      .withColumn("reason", col("_vres.reason"))
      .drop("_vres")
  }

  /** T4 counters (`schema_validator.py:106-145` Counter(total,valid,invalid))
    * as an `observe` — collected per batch by a QueryExecutionListener /
    * StreamingQueryListener with zero extra passes.
    */
  def observed(df: DataFrame, name: String = "validation"): DataFrame =
    df.observe(name,
      count(lit(1)).as("total"),
      count_if(col("valid")).as("valid"),
      count_if(!col("valid")).as("invalid"))

  /** Splits a validated frame into (Ok, ProcessingFailed) — the Firehose
    * routing of S7 (raw zone) vs S8 (error zone).
    */
  def route(validated: DataFrame): (DataFrame, DataFrame) =
    (validated.filter(col("valid")), validated.filter(!col("valid")))

  /** Parses valid payloads into typed columns: strings per the dialect
    * schema plus `event_ts` (strict pattern — guaranteed to parse because
    * validation already enforced it).
    */
  def parsed(validDf: DataFrame, payloadCol: String = "payload",
      dialect: String = "B"): DataFrame = {
    val st = WebLogSchema.structType(dialect)
    val cols: Seq[Column] = st.fieldNames.toSeq.map(n => col(s"_parsed.`$n`").as(n))
    validDf
      .withColumn("_parsed", from_json(col(payloadCol), st))
      .select(col(payloadCol) +: cols: _*)
      .withColumn("event_ts", to_timestamp(col("timestamp"), WebLogSchema.TsPattern))
  }
}
