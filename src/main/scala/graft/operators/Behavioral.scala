package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Behavioral / product analytics over the event and order histories —
  * the reporting layer a consumer of the reference's daily-extract
  * warehouse builds next (cohort retention, conversion funnels). Like
  * TimeSeries.scala these are §2.4/§2.5 extension shapes; none exist in
  * the reference's two scripts.
  *
  * Oracle discipline: integer month/µs arithmetic only; the single
  * retention ratio is one IEEE division stated identically in both
  * engines.
  */
object Behavioral {

  import Relational.t

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(

    // ── q77: COHORT RETENTION — customers grouped by first-order month
    // (the cohort), activity counted per months-since-cohort offset.
    // ONE fact shuffle total: per-customer aggregate carries min(month)
    // AND the distinct month set (collect_set is bounded by #calendar
    // months, ~84 here, a few hundred for decades — per-group state is
    // corpus-size-independent), then the explode feeds a small-key
    // (cohort × offset) aggregate. The naive two-scan formulation
    // (first-order subquery joined back to the fact) shuffles the fact
    // twice; this never re-reads it. Cohort size needs no second pass
    // either: every customer is active at offset 0 by definition of
    // "first month", so size = n_active(cohort, 0), recovered by a
    // window over the tiny (cohort × offset) rollup — a separate
    // size aggregate would re-execute the whole fact subtree (shuffle
    // and broadcast exchanges can't be reused across it).
    "q77_cohort_retention" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val mon = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast(IntegerType)
      val per = t(s, d, "orders")
        .select(col("o_custkey").as("k"), mon.as("mon"))
        .groupBy(col("k"))
        .agg(min(col("mon")).as("cohort"), collect_set(col("mon")).as("months"))
      val wc = Window.partitionBy(col("cohort"))
      per.select(col("cohort"), explode(col("months")).as("mon"))
        .withColumn("offset_months", (col("mon") - col("cohort")).cast(IntegerType))
        .groupBy(col("cohort"), col("offset_months"))
        .agg(count(lit(1)).as("n_active"))
        .withColumn("cohort_size",
          max(when(col("offset_months") === 0, col("n_active"))).over(wc))
        .select(col("cohort").as("cohort_mon"), col("offset_months"),
          col("n_active"), col("cohort_size"),
          (col("n_active").cast(DoubleType) / col("cohort_size").cast(DoubleType))
            .as("retention"))
        .orderBy(col("cohort_mon"), col("offset_months"))
    }),

    // ── q79: ORDERED CONVERSION FUNNEL — view → click (after the first
    // view) → purchase (after that click), strictly event-time-ordered
    // per user. Each stage is a min-timestamp aggregate keyed on
    // user_id joined to the previous stage's survivors: every join is
    // key-co-partitioned with the aggregates around it (no extra
    // shuffle beyond each stage's own), and stage tables shrink
    // monotonically, so funnel depth costs linear passes — never a
    // self-join of the raw stream against itself. Conversion time is
    // summed in exact integer microseconds.
    "q79_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t3"), min(col("t1")).as("t1"))
      def stage(df: DataFrame, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("stage"), col("n_users"),
            lit(null).cast(LongType).as("conv_us_sum"))
      stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(p.agg(count(lit(1)).as("n_users"),
            sum(unix_micros(col("t3")) - unix_micros(col("t1")))
              .as("conv_us_sum"))
          .select(lit("3_purchase").as("stage"), col("n_users"),
            col("conv_us_sum")))
        .orderBy(col("stage"))
    })
  ))

  val oracles: Map[String, String] = Map(
    "q77_cohort_retention" ->
      """WITH om AS (SELECT o_custkey AS k,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS INTEGER) AS mon
        |  FROM orders),
        |fc AS (SELECT k, MIN(mon) AS cohort FROM om GROUP BY 1),
        |act AS (SELECT DISTINCT k, mon FROM om),
        |sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM fc GROUP BY 1)
        |SELECT f.cohort AS cohort_mon,
        |  CAST(a.mon - f.cohort AS INTEGER) AS offset_months,
        |  COUNT(*) AS n_active, MIN(sz.cohort_size) AS cohort_size,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(MIN(sz.cohort_size) AS DOUBLE) AS retention
        |FROM act a JOIN fc f USING (k) JOIN sz ON sz.cohort = f.cohort
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q79_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(v.t1) AS t1
        |    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |    WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3, MIN(c.t1) AS t1
        |    FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |    WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users,
        |  CAST(NULL AS BIGINT) AS conv_us_sum FROM v
        |UNION ALL
        |SELECT '2_click', COUNT(*), CAST(NULL AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase', COUNT(*),
        |  CAST(SUM(epoch_us(t3) - epoch_us(t1)) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin
  )
}
