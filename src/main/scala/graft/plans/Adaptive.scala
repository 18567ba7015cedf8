package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** AQE skew-join handling — the DEFAULT answer to shuffle skew (manual
  * salting, `Skew.saltedEquiJoin`/q28, is the fallback for cases AQE
  * cannot see ahead of time or for agg-after-join pipelines).
  *
  * AQE observes the actual map-output sizes of a sort-merge/shuffled-
  * hash join's shuffle, and splits any reducer partition larger than
  * `skewedPartitionThresholdInBytes` (and `skewedPartitionFactor` ×
  * median) into advisory-sized sub-reads, replicating the matching
  * partition of the other side — the same transformation salting does
  * by hand, but only where measured skew exists and with zero change
  * to the logical plan. q43 funnels 30% of lineitem onto one hot
  * orderkey and runs the join under thresholds scaled for the test
  * corpus (real clusters keep the 256 MB defaults); AdaptiveSpec
  * asserts the final adaptive plan actually split the hot partition
  * (`skew=true`).
  *
  * The query executes the join inside the conf scope (writing its
  * result to a per-application scratch dir, the st05 pattern) so the
  * confs are live during execution but never leak to other queries.
  */
object Adaptive {

  /** Sets AQE-skew confs scaled to the harness corpus (`sizeBytes` =
    * skew threshold AND advisory sub-partition size; the spec shrinks
    * it to force splits at sf0.001), runs `body`, restores prior
    * values. */
  private[graft] def withSkewConfs[T](s: SparkSession,
      sizeBytes: Long = 262144L)(body: => T): T =
    graft.GraftSession.withConfs(s, Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> sizeBytes.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> sizeBytes.toString,
      // coalescing's 1 MB minPartitionSize floor would re-merge the
      // sub-reads at harness scale, hiding the split
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> sizeBytes.toString,
      // keep the join a shuffle join: a broadcast would have no shuffle
      // to skew-split (and would be the right plan for a truly small
      // dim — this demo models a dim too big to broadcast)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))(body)

  /** The skewed join: 30% of lineitem rows funnel onto orderkey 1.
    *
    * The spread matters: AQE splits a skewed REDUCE partition along
    * its MAP-output chunk boundaries, so a shuffle fed by one mapper
    * (the harness fixture is a single-row-group parquet file → one
    * scan task) is unsplittable no matter how skewed. On a real
    * cluster the fact side always arrives from thousands of upstream
    * tasks; the spread reproduces that precondition here. */
  private[graft] def skewedAgg(s: SparkSession, d: String): DataFrame = {
    val fact = graft.Tables.spread(graft.Tables(s, d, "lineitem"))
      .withColumn("k",
        when(pmod(col("l_orderkey"), lit(10)) < 3, lit(1L))
          .otherwise(col("l_orderkey")))
    fact.join(graft.Tables(s, d, "orders"), col("k") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      .orderBy(col("o_orderstatus"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    "q43_aqe_skew_join" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_q43", d)
      withSkewConfs(s) {
        skewedAgg(s, d).write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("o_orderstatus"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // skew handling must be result-invariant: the oracle is the plain
    // join with the same key funnel
    "q43_aqe_skew_join" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1
        |                       ELSE l_orderkey END AS k, l_quantity
        |           FROM lineitem)
        |SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM f JOIN orders ON k = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
