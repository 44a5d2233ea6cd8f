package graft.storage

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.Ingest
import graft.weblog.{Compaction, Generator, IcebergLikeTable}

/** Ingest, compaction and table commits on the shared session make
  * Hadoop start no subprocess: Hadoop's local filesystem forks `chmod`
  * per file and directory and `readlink` per checkpoint rename, graft's
  * does not. Spark's own starts (`getconf PAGESIZE` once per JVM, `rm -rf`
  * when a collected session's artifact directory is cleaned) come from
  * background threads at times the test does not control, so they are
  * listed but not counted.
  */
class ForkCensusSpec extends SparkTestBase {

  test("availableNow ingest, compaction and table maintenance start no process from Hadoop") {
    import spark.implicits._
    val root = Files.createTempDirectory("fork-census")
    val hour = LocalDateTime.of(2024, 3, 5, 6, 0)
    Files.createDirectories(root.resolve("landing"))
    Seq("a", "b").zipWithIndex.foreach { case (name, f) =>
      val lines = (f * 100 until f * 100 + 100).map(i => Generator.payload(3, i.toLong, hour))
      Files.writeString(root.resolve(s"landing/$name.jsonl"), lines.mkString("\n"))
    }
    val stream = spark.readStream.text(s"$root/landing")
      .withColumnRenamed("value", "payload")
      .withColumn("ingest_ts", lit("2024-03-05 06:30:00").cast("timestamp"))
    val table = IcebergLikeTable(spark, s"$root/table", "event", Seq("k"), numBuckets = 2)
    def rows(ids: Range, v: Long): DataFrame =
      ids.map(i => (s"k$i", if (i % 2 == 0) "view" else "click", v)).toDF("k", "event", "seq")

    var compacted = 0L
    val starts = ProcessStarts.during {
      Ingest.start(stream, s"$root/raw", s"$root/err", s"$root/ckpt", availableNow = true)
        .awaitTermination()
      compacted = Compaction.run(spark, s"$root/raw", s"$root/parquet", hour.plusHours(1))
      table.upsert(rows(0 until 40, 1L), "seq")
      table.upsert(rows(20 until 60, 2L), "seq")
      table.deleteMergeOnRead(col("k") === "k3")
      table.maintain(fileThreshold = 1, deleteFileThreshold = 1)
      table.expireOlderThan(System.currentTimeMillis())
      table.vacuum(keepLast = 1)
    }
    assert(compacted == 200)
    assert(table.read.count() == 59)
    val fromHadoop = starts.filter(_.from("org.apache.hadoop."))
    assert(fromHadoop.size == 0, s"${fromHadoop.size} of ${starts.size} processes started " +
      "from Hadoop:\n" + starts.groupBy(_.toString).map { case (s, xs) => s"${xs.size} × $s" }
        .mkString("\n"))
  }
}
