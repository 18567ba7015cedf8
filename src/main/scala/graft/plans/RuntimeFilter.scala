package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Runtime (Bloom-filter) join pruning — the ROW-level counterpart to
  * q42's partition-level dynamic partition pruning.
  *
  * When a big fact joins a dimension that carries a selective
  * predicate, Catalyst's `InjectRuntimeFilter` rule builds a Bloom
  * filter over the dimension's join keys at runtime and injects a
  * `might_contain` gate on the fact side BELOW its shuffle, so
  * non-matching fact rows are dropped at the scan instead of being
  * shuffled and discarded by the join. At 100 TB this is the
  * difference between shuffling the full fact table and shuffling only
  * the ~selectivity fraction that can possibly match — the same
  * motivation as a manual semi-join pre-filter, but planned
  * automatically and with O(1)-size state (the Bloom filter) instead
  * of a materialized key set.
  *
  * The stock thresholds are sized for real clusters
  * (`applicationSideScanSizeThreshold` = 10 GB: below that the scan is
  * too cheap to bother protecting); the harness corpus is far smaller,
  * so q53 scales the thresholds down exactly the way q43 scales the
  * AQE skew thresholds — the PLAN transformation under test is the one
  * a 100 TB run gets with stock settings. Broadcast is disabled for
  * the same reason as q43: the demo models a dimension too big to
  * broadcast (a broadcast join would already prune at the scan via its
  * own runtime mechanisms, and nothing would shuffle).
  *
  * RuntimeFilterSpec pins that the executed plan actually carries the
  * injected `might_contain`; the q53 oracle pins row-level parity —
  * Bloom false positives may let extra rows THROUGH to the join, never
  * drop matches, so the result is exactly the plain join's.
  */
object RuntimeFilter {

  /** Scoped runtime-filter confs (q43's save/restore pattern). */
  private[graft] def withBloomConfs[T](s: SparkSession)(body: => T): T = {
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // harness corpus is ~MBs; the transformation, not the threshold,
      // is what must survive the 100x scale-up
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Urgent-orders revenue: lineitem ⋈ (orders WHERE urgent). The
    * equality predicate on the dimension is what marks it "likely
    * selective" for the injection rule. Unsorted — the write path has
    * no use for row order; callers that compare collected rows add the
    * presentation sort via [[urgentJoin]]. */
  private[graft] def urgentJoinCore(s: SparkSession, d: String): DataFrame = {
    val urgent = graft.Tables(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    graft.Tables(s, d, "lineitem")
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
  }

  private[graft] def urgentJoin(s: SparkSession, d: String): DataFrame =
    urgentJoinCore(s, d).orderBy(col("l_returnflag"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    "q53_bloom_join" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val out = graft.Scratch.dir(s, "graft_q53", tag)
      withBloomConfs(s) {
        urgentJoinCore(s, d).write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("l_returnflag"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // runtime filtering must be result-invariant: the oracle is the
    // plain join
    "q53_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
