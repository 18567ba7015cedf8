package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The fixture lifecycle behind [[Scratch.materializeOnce]]: two
  * callers racing on one fresh directory build it once and read the
  * same bytes, and a build that throws is redone from an empty
  * directory instead of stacking on its own partial output. */
class ScratchSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def listing(dir: String): Seq[String] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally st.close()
  }

  test("two racing callers build a fixture once and read the same data") {
    val dir = Scratch.dir(spark, "graft_scratch_spec", "race")
    val runs = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map { _ =>
        pool.submit(() => {
          start.await()
          Scratch.materializeOnce(dir) {
            runs.incrementAndGet()
            Thread.sleep(200)
            spark.range(1000).write.mode("overwrite").parquet(dir)
          }
          spark.read.parquet(dir).agg(count(lit(1)), sum(hash(col("id"))))
            .head().toSeq
        })
      }
      start.countDown()
      // get() rethrows a caller's failure, so both threads returned
      val hashes = results.map(_.get(5, TimeUnit.MINUTES))
      assert(runs.get == 1, s"the build ran ${runs.get} times")
      assert(hashes.distinct.size == 1, s"the callers read $hashes")
      assert(hashes.head.head == 1000L)
    } finally pool.shutdownNow()
  }

  test("a build that failed is redone from an empty directory") {
    val dir = Scratch.dir(spark, "graft_scratch_spec", "retry")
    val calls = new AtomicInteger(0)
    def build(): Unit = {
      val n = calls.incrementAndGet()
      Files.write(Paths.get(dir, s"part-$n"), Array[Byte](1, 2, 3))
      if (n == 1) throw new IllegalStateException("build failed")
    }
    intercept[IllegalStateException](Scratch.materializeOnce(dir)(build()))
    assert(Scratch.materializeOnce(dir)(build()) == dir)
    assert(listing(dir) == Seq("_DONE", "part-2"))
    // the marker now holds: a third call runs nothing
    Scratch.materializeOnce(dir)(build())
    assert(calls.get == 2)
  }

  test("q69 rebuilds its Derby table after a build that left no marker") {
    val q69 = SparkEntry.queries("q69_jdbc_roundtrip")
    val expected = q69(spark, SparkSuite.sf).collect().toSeq
    val dbDir = Scratch.dir(spark, "graft_derby", SparkSuite.sf)
    // a build that wrote the database (booting it in this JVM) but
    // died before the marker: the retry clears the directory under
    // the booted database and must still re-create orders_rt
    Files.delete(Paths.get(dbDir, "_DONE"))
    assert(q69(spark, SparkSuite.sf).collect().toSeq == expected)
    assert(Files.exists(Paths.get(dbDir, "_DONE")))
  }

  test("the tag is sanitized once, idempotently") {
    assert(Scratch.tag("/data/sf0.001") == "data_sf0_001")
    assert(Scratch.tag(Scratch.tag("a-b.c")) == Scratch.tag("a-b.c"))
    assert(Scratch.dir(spark, "g", "/x/sf0.1") ==
      Scratch.dir(spark, "g", "_x_sf0_1"))
  }

  test("a dataset path's tag is not a name Spark hides") {
    val t = Scratch.tag("/root/testdata/sf0.001")
    assert(!t.startsWith("_") && !t.startsWith("."), t)
    assert(Scratch.tag(t) == t)
  }
}
