package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A session built with spark.sql.extensions=graft.GraftExtensions must
  * expose the whole custom-function catalog to pure SQL with no
  * driver-side register calls. Uses newSession() off the shared
  * context: extensions apply per-SparkSession state. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions-injected catalog serves pure-SQL callers") {
    val shared = SparkSuite.spark // ensure the shared context exists first
    // getOrCreate returns the shared session, and the conf-string form
    // (spark.sql.extensions=graft.GraftExtensions) is a STATIC conf
    // read from the SparkContext at session build — unreachable from a
    // suite sharing one context. Clear the session slots and inject via
    // withExtensions, which is the same injection path the conf string
    // dispatches to; restore the slots for later suites.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = try {
      SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate() // no graft prepare() ever ran here
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(fresh.sql("SELECT poly_hash('abc') AS h").head().getLong(0) ==
      (('a' * 31L + 'b') * 31L + 'c') % 1000000007L)
    assert(fresh.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
      .head().getDouble(0) === 1.0)
    assert(fresh.sql(
      "SELECT shingle FROM (SELECT shingles(array('a','b','c'), 2))")
      .collect().map(_.getString(0)).toSeq == Seq("a b", "b c"))
    // topk_by returns array<struct<ord,payload>>, ranked descending
    assert(fresh.sql(
      "SELECT topk_by(CAST(x AS DOUBLE), x, 2) FROM VALUES (1L),(3L),(2L) AS t(x)")
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(3L, 2L))
  }
}
