package graft.storage

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.{GraftExtensions, SparkTestBase}

/** Where `GraftExtensions` installs graft's local filesystem, and where
  * an explicit Hadoop setting keeps it out.
  */
class LocalFsInstallSpec extends SparkTestBase {
  import GraftLocalFileSystem.{AbstractFileImplKey, FileImplKey}

  private val local = URI.create("file:///")

  test("a session built with the extension runs on graft's local filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get(FileImplKey) == classOf[GraftLocalFileSystem].getName)
    assert(conf.get(AbstractFileImplKey) == classOf[GraftLocalFs].getName)
    assert(FileSystem.get(local, conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(local, conf)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("an explicit fs.file.impl (spark.hadoop.fs.file.impl) is left untouched") {
    val conf = new Configuration()
    conf.set(FileImplKey, "perfbench.CountingLocalFs")
    GraftLocalFileSystem.install(conf)
    assert(conf.get(FileImplKey) == "perfbench.CountingLocalFs")
    assert(conf.get(AbstractFileImplKey) == classOf[GraftLocalFs].getName)
  }

  test("an explicit fs.AbstractFileSystem.file.impl is left untouched; Hadoop's default is not") {
    val custom = new Configuration()
    custom.set(AbstractFileImplKey, "org.example.CustomLocalFs")
    GraftLocalFileSystem.install(custom)
    assert(custom.get(AbstractFileImplKey) == "org.example.CustomLocalFs")
    assert(custom.get(FileImplKey) == classOf[GraftLocalFileSystem].getName)

    val default = new Configuration()
    assert(default.get(AbstractFileImplKey) == "org.apache.hadoop.fs.local.LocalFs")
    GraftLocalFileSystem.install(default)
    assert(default.get(AbstractFileImplKey) == classOf[GraftLocalFs].getName)
  }

  test("a second session on the same context installs idempotently") {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = (conf.get(FileImplKey), conf.get(AbstractFileImplKey), FileSystem.get(local, conf))
    new GraftExtensions().apply(new SparkSessionExtensions)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val second = SparkSession.builder()
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .getOrCreate()
      assert(second ne spark)
      assert(second.sparkContext eq spark.sparkContext)
      assert(second.sql("SELECT sorted_intersect_count(array(1L), array(1L))").head().getInt(0) == 1)
      val after = (conf.get(FileImplKey), conf.get(AbstractFileImplKey), FileSystem.get(local, conf))
      assert(after._1 == before._1 && after._2 == before._2 && (after._3 eq before._3))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
