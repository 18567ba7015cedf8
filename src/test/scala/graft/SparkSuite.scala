package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide, forked once). */
object SparkSuite {
  lazy val spark: SparkSession = GraftSession.start(
    GraftSession.builder(cores = 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString))

  /** The lake of [[spark]]'s `graft_dml` catalog. */
  def lake: graft.sources.RowStore = graft.sources.RowStore.of(spark)

  val sf: String = "/root/testdata/sf0.001"
}
