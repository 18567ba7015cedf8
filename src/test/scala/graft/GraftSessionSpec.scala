package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Session setup has one home: GraftSession builds every session and
  * the registries install what their rows need, once per session. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  /** Formatted messages of every log event emitted while `body` runs. */
  private def logsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-session-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body
    finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("running a function-using row twice re-registers nothing") {
    val row = SparkEntry.queries("t04_fingerprint")
    val logs = logsDuring {
      row(spark, sf).collect()
      row(spark, sf).collect()
    }
    val replaced = logs.filter(_.contains("replaced a previously registered"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }

  /** Order-insensitive, content-comparable rendering of a result. */
  private def canon(df: DataFrame): Seq[String] = {
    def value(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq
        .map { case (k, x) => value(k) + "->" + value(x) }.sorted
        .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
      case x => x.toString
    }
    df.collect().toSeq.map(value).sorted
  }

  test("rows set up a session graft did not build") {
    // one row per registry that uses catalog functions, plus a lake row
    val rows = Seq("d15_bloom_membership", "s01_ann_bruteforce",
      "s20_ann_graph", "t06_shingle_udtf", "m04_binaryfile_ingest",
      "q113_geo_radius_join", "q27_topk_aggregate", "q41_json_roundtrip",
      "st32_stream_dedup", "q110_dml_optimize")
    val expected = rows.map(n => canon(SparkEntry.queries(n)(spark, sf)))
    // the slot-clearing dance of GraftExtensionsSpec: a session sharing
    // the context but with its own function registry and conf
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = try {
      SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(fresh ne spark)
    assert(!fresh.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("poly_hash")))
    assert(fresh.conf.getOption("spark.sql.catalog.graft_dml").isEmpty)
    SparkSession.setActiveSession(fresh)
    try rows.zip(expected).foreach { case (n, want) =>
      assert(canon(SparkEntry.queries(n)(fresh, sf)) == want, n)
    } finally SparkSession.setActiveSession(spark)
  }

  test("only GraftSession builds sessions or installs their prerequisites") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val banned = Seq("SparkSession.builder()", "spark.sql.catalog.graft_dml",
      "FunctionCatalog.register")
    val exempt = Set("GraftSession.scala", "FunctionCatalog.scala")
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => exempt(p.getFileName.toString)).toSeq
    assert(files.size > 50)
    val hits = for {
      p: Path <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$p:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("a scan with at least half the cores' splits is not spread") {
    val conf = spark.sessionState.conf
    val before = conf.numShufflePartitions
    conf.setConfString("spark.sql.shuffle.partitions", "64")
    try {
      assert(spark.sparkContext.defaultParallelism == 4)
      val scan = spark.range(0, 1000, 1, 2).toDF("k")
      val out = Tables.spreadNarrowScan(spark, scan, "k")
      assert(out eq scan, out.queryExecution.analyzed.treeString)
    } finally conf.setConfString("spark.sql.shuffle.partitions",
      before.toString)
  }
}
