package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom Generator (UDTF surface): row emission, edge cases, and
  * the Generate plan shape. */
class ShingleGeneratorSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("shingles emits one (pos, n-gram) row per window, as a Generate node") {
    import spark.implicits._
    val df = Seq("a b c d").toDF("text")
      .select(expr("shingles(split(text, ' '), 3)"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "a b c"), (1, "b c d")))
    assert(df.queryExecution.executedPlan.toString.contains("Generate"),
      "a Generator must plan as Generate, not as a scalar projection")
  }

  test("short and empty token arrays emit nothing") {
    import spark.implicits._
    val df = Seq("x y", "").toDF("text")
      .select(expr("shingles(split(text, ' '), 3)"))
    assert(df.count() == 0)
  }

  test("null tokens invalidate every window containing them") {
    val df = spark.range(1)
      .select(expr("shingles(array('a', cast(null as string), 'b', 'c'), 2)"))
    assert(df.collect().map(_.getString(1)).toSeq == Seq("b c"))
  }
}
