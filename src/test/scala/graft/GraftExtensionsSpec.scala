package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TextAnalysis}
import graft.weblog.Validator

/** The spark.sql.extensions install path: a fresh session built with
  * GraftExtensions must expose every native expression as a SQL
  * function with no imperative registration — and the engine's Column
  * helpers must not need those names at all.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private val nativeNames = Seq("sorted_intersect_count", "dot_vec",
    "minhash_sigs", "window_minima", "hashed_ngrams", "simhash_from_hashes",
    "bloom_might_contain", "ref_jaccard_pairs", "validate_weblog_a",
    "validate_weblog_b")

  private lazy val spark: SparkSession = {
    // another suite's session may be active; clear so getOrCreate builds
    // a NEW SparkSession (sharing the context) that applies extensions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  test("sorted_intersect_count works through SQL") {
    val r = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 7L, 9L), array(3L, 4L, 9L, 11L)) AS c")
      .collect().head.getInt(0)
    assert(r === 2)
  }

  test("minhash_sigs returns k minima") {
    val row = spark.sql("SELECT minhash_sigs(array(42L, 7L, 99L), 16) AS s")
      .collect().head.getSeq[Long](0)
    assert(row.length === 16)
    // deterministic: same input -> same signature
    val row2 = spark.sql("SELECT minhash_sigs(array(42L, 7L, 99L), 16) AS s")
      .collect().head.getSeq[Long](0)
    assert(row === row2)
  }

  test("validate_weblog_b accepts valid and rejects bad timestamp") {
    val ok = spark.sql(
      """SELECT validate_weblog_b('{"user_id":"u1","session_id":"s1","event":"view",
        |"ip":"1.2.3.4","hostname":"h","timestamp":"2024-01-01T00:00:00Z","uri":"/"}').valid AS v"""
        .stripMargin.replace("\n", "")).collect().head.getBoolean(0)
    assert(ok)
    val bad = spark.sql(
      """SELECT validate_weblog_b('{"user_id":"u1","session_id":"s1","event":"view",
        |"ip":"1.2.3.4","hostname":"h","timestamp":"2024-01-01 00:00:00","uri":"/"}').reason AS r"""
        .stripMargin.replace("\n", "")).collect().head.getString(0)
    assert(bad === "bad_timestamp")
  }

  test("every native SQL function resolves on an extension-built session") {
    nativeNames.foreach(n => assert(spark.catalog.functionExists(n), n))
    assert(GraftExtensions.names.toSet == nativeNames.toSet)
  }

  test("Column helpers evaluate on a session without graft's SQL functions") {
    // a session on the same context whose registry lacks every native
    // name — what a session built without the extension resolves
    val bare = spark.newSession()
    nativeNames.foreach(n =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    nativeNames.foreach(n => assert(!bare.catalog.functionExists(n), n))
    import bare.implicits._

    val fp = Seq("b a z y x w").toDF("text")
      .select(TextAnalysis.fingerprintWords(col("text"), 4, 8)).as[Seq[String]].head()
    assert(fp == Seq("a", "w"))

    val cos = Seq((Seq(3.0, 4.0), Seq(4.0, 3.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(cos == 24.0 / 25.0)

    val v = Validator.validate(Seq(
      """{"user_id":"u1","session_id":"s1","event":"view","ip":"1.2.3.4",
        |"hostname":"h","timestamp":"2024-01-01T00:00:00Z","uri":"/"}"""
        .stripMargin.replace("\n", "")).toDF("payload"))
      .select("valid").as[Boolean].head()
    assert(v)
  }
}
