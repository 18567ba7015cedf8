package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot differencing — the change-data-capture primitive for
  * pipelines fed by full daily extracts (exactly the reference's
  * cadence: each Airflow run re-extracts the whole table,
  * `/root/reference/spark_ingest_script.py:56-61`). Given yesterday's
  * and today's snapshots, classify every key as added / removed /
  * changed / unchanged with ONE full-outer shuffle join on the key —
  * the minimal-movement plan: at 100 TB both sides hash-partition by
  * key once, and with both snapshots bucketed by key (sources.Bucketing)
  * even that shuffle disappears.
  */
object ChangeCapture {

  /** Classify `before` vs `after` on `key`; a row is `changed` when any
    * of `compareCols` differs (null-safe). Emits the full outer rows
    * with a `change_type` column. */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    val a = before.select(
      (col(key).as("_ak") +: compareCols.map(c => col(c).as(s"_a_$c"))): _*)
    val b = after.select(
      (col(key).as("_bk") +: compareCols.map(c => col(c).as(s"_b_$c"))): _*)
    // foldLeft, not reduce: with no comparand columns (key-presence-only
    // CDC) nothing ever differs and the classes collapse to
    // added/removed/unchanged
    val differs: Column = compareCols
      .map(c => !(col(s"_a_$c") <=> col(s"_b_$c")))
      .foldLeft(lit(false))(_ || _)
    a.join(b, col("_ak") === col("_bk"), "full_outer")
      .withColumn("change_type",
        when(col("_ak").isNull, lit("added"))
          .when(col("_bk").isNull, lit("removed"))
          .when(differs, lit("changed"))
          .otherwise(lit("unchanged")))
      .withColumn(key, coalesce(col("_ak"), col("_bk")))
  }

  /** SCD TYPE-2 BUILD — collapse a versioned snapshot history into
    * validity intervals: one row per (key, value-run) with
    * [valid_from, valid_to) version bounds and an is_current flag. The
    * classic warehouse dimension shape the reference's daily full
    * re-extract implies but never materializes (every run overwrites;
    * history is lost — this is the operator that KEEPS it).
    *
    * Plan: one shuffle total. Both windows partition by the key, so
    * the change-detection lag and the interval-closing lead reuse the
    * same hash partitioning — the filter between them is
    * partitioning-preserving, and at 100 TB the history table
    * hash-partitions by key exactly once regardless of version count.
    * The alternative formulations are strictly worse: self-join
    * version v with v-1 shuffles twice; a groupBy collecting each
    * key's full history into an array materializes per-key state that
    * the window's streaming frame never does. */
  def scd2Build(history: DataFrame, key: String, versionCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(key)).orderBy(col(versionCol))
    history
      .withColumn("_prev", lag(col(valueCol), 1).over(byKey))
      // an explicit first-row marker, NOT `_prev.isNull`: a lagged NULL
      // is ambiguous between "no previous version" and "previous value
      // was NULL" — with a nullable tracked value the isNull test would
      // split an unchanged NULL run into spurious intervals
      .withColumn("_rn", row_number().over(byKey))
      // keep only run heads: the first version, or a null-safe value
      // change (value→NULL and NULL→value are both real changes)
      .filter(col("_rn") === 1 || !(col(valueCol) <=> col("_prev")))
      .withColumn("valid_to", lead(col(versionCol), 1).over(byKey))
      .select(col(key), col(valueCol),
        col(versionCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── q47: diff two deterministic customer snapshots. Snapshot B
    // drops every 10th key (removed), bumps acctbal on every 7th
    // (changed), and mints negative keys from every 13th (added) — all
    // four classes exercised, all replayable in SQL.
    "q47_snapshot_diff" -> ((s, d) => {
      val c = graft.Tables(s, d, "customer")
      val before = c.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      val after = c.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
        .select(col("c_custkey").as("k"),
          (col("c_acctbal") + when(pmod(col("c_custkey"), lit(7)) === 0, 100.0)
            .otherwise(0.0)).as("bal"))
        .unionByName(c.filter(pmod(col("c_custkey"), lit(13)) === 0)
          .select((-col("c_custkey") - 1).as("k"), col("c_acctbal").as("bal")))
      snapshotDiff(before, after, "k", Seq("bal"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"))
        .orderBy(col("change_type"))
    }),

    // ── q51: MERGE-style UPSERT APPLY — the CDC CONSUMER side (q47 is
    // the producer): fold a keyed changeset of inserts/updates/deletes
    // into a base snapshot. Spark's parquet tables have no native MERGE
    // INTO, so the apply is the canonical one-shuffle formulation: full
    // outer join base↔changes on the key, drop deleted keys, take the
    // change's value over the base's. At 100 TB both sides
    // hash-partition by key once (bucketed layouts make it
    // shuffle-free), and the changeset side — a day's worth of changes
    // against years of accumulated base — is typically broadcastable.
    // Changeset here: every 10th key deleted, every 7th surviving key
    // restated (+100), inserts minted on negative keys from every 13th.
    "q51_upsert_apply" -> ((s, d) => {
      val c = graft.Tables(s, d, "customer")
      val base = c.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      val changes = c.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey").as("k"),
          lit(null).cast("double").as("new_bal"), lit("D").as("op"))
        .unionByName(
          c.filter(pmod(col("c_custkey"), lit(7)) === 0 &&
              pmod(col("c_custkey"), lit(10)) =!= 0)
            .select(col("c_custkey").as("k"),
              (col("c_acctbal") + 100.0).as("new_bal"), lit("U").as("op")))
        .unionByName(
          c.filter(pmod(col("c_custkey"), lit(13)) === 0)
            .select((-col("c_custkey") - 1).as("k"),
              col("c_acctbal").as("new_bal"), lit("I").as("op")))
      base.join(changes, Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("k"), coalesce(col("new_bal"), col("bal")).as("bal"))
        .orderBy(col("k"))
    }),

    // ── q92: SCD TYPE-2 dimension build over a 4-version snapshot
    // history. The history is synthesized IN-PLAN (explode of a
    // literal version sequence — narrow, no join): key k's balance
    // changes at version 1 iff k%2=0, at 2 iff k%3=0, at 3 iff k%5=0,
    // so runs of genuinely-unchanged versions exist and must collapse.
    // Both engines replay the same arithmetic, then the same
    // lag-filter-lead; output is the dimension itself.
    "q92_scd2_build" -> ((s, d) =>
      scd2Build(scd2Hist(s, d), "k", "v", "bal")
        .orderBy(col("k"), col("valid_from"))),

    // ── q100: POINT-IN-TIME JOIN — enrich each fact with the dimension
    // value that was CURRENT at the fact's own version, against the
    // very SCD2 dimension q92 builds (the consumer side of that
    // producer; together they are the full warehouse loop the
    // reference's overwrite-everything cadence forfeits). The interval
    // predicate rides as a RESIDUAL on a plain equi-join on the key —
    // the plan stays on hash-join machinery (pinned BNLJ-free in the
    // scale sweep) because each fact matches exactly one validity
    // interval and dims have few rows per key. At 100 TB the dimension
    // is the broadcast side (dimensions are key-cardinality-sized, not
    // fact-sized); a window-based as-of reformulation would instead
    // shuffle the full fact table into the dimension's key order.
    "q100_pit_join" -> ((s, d) => {
      val dim = scd2Build(scd2Hist(s, d), "k", "v", "bal")
      val facts = graft.Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("fk"),
          pmod(col("o_orderkey"), lit(4)).as("v_at"))
      facts.join(broadcast(dim),
          col("fk") === col("k") &&
            col("v_at") >= col("valid_from") &&
            (col("valid_to").isNull || col("v_at") < col("valid_to")))
        .groupBy(col("v_at"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("ok_sum"),
          sum(round(col("bal") * 100).cast("long")).as("bal_cents"))
        .orderBy(col("v_at"))
    })
  ))

  /** The q92/q100 shared fixture: a 4-version balance history per
    * customer key, synthesized in-plan with deterministic change
    * arithmetic both engines replay (see q92's comment). */
  private def scd2Hist(s: SparkSession, d: String): DataFrame =
    graft.Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal0"),
        explode(sequence(lit(0L), lit(3L))).as("v"))
      .select(col("k"), col("v"),
        (col("bal0")
          + when(col("v") >= 1 && pmod(col("k"), lit(2)) === 0, 100.0)
            .otherwise(0.0)
          + when(col("v") >= 2 && pmod(col("k"), lit(3)) === 0, 200.0)
            .otherwise(0.0)
          + when(col("v") >= 3 && pmod(col("k"), lit(5)) === 0, 300.0)
            .otherwise(0.0)).as("bal"))

  val oracles: Map[String, String] = Map(
    "q47_snapshot_diff" ->
      """WITH a AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
        |b AS (
        |  SELECT c_custkey AS k,
        |    bal + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal
        |  FROM (SELECT c_custkey, c_acctbal AS bal FROM customer)
        |       c2(c_custkey, bal) WHERE c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT -c_custkey - 1 AS k, c_acctbal AS bal FROM customer
        |  WHERE c_custkey % 13 = 0),
        |j AS (SELECT a.k AS ak, b.k AS bk, a.bal AS abal, b.bal AS bbal
        |      FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT CASE WHEN ak IS NULL THEN 'added'
        |            WHEN bk IS NULL THEN 'removed'
        |            WHEN abal <> bbal THEN 'changed'
        |            ELSE 'unchanged' END AS change_type,
        |  COUNT(*) AS n, CAST(SUM(COALESCE(ak, bk)) AS BIGINT) AS key_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // the applied snapshot row-for-row: deletes gone, updates restated,
    // inserts present, everything else untouched
    "q51_upsert_apply" ->
      """WITH base AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
        |changes AS (
        |  SELECT c_custkey AS k, CAST(NULL AS DOUBLE) AS new_bal, 'D' AS op
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100, 'U' FROM customer
        |  WHERE c_custkey % 7 = 0 AND c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT -c_custkey - 1, c_acctbal, 'I' FROM customer
        |  WHERE c_custkey % 13 = 0),
        |j AS (SELECT COALESCE(b.k, c.k) AS k, b.bal, c.new_bal, c.op
        |      FROM base b FULL OUTER JOIN changes c ON b.k = c.k)
        |SELECT k, COALESCE(new_bal, bal) AS bal FROM j
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY k""".stripMargin,

    // the same synthetic history (customer × versions 0..3, identical
    // change arithmetic) collapsed by the same lag-filter-lead
    "q92_scd2_build" ->
      s"""$scd2DimCteSql
        |SELECT k, bal, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM iv ORDER BY k, valid_from""".stripMargin,

    // the identical dimension CTE joined on key + interval containment
    "q100_pit_join" ->
      s"""$scd2DimCteSql,
        |f AS (SELECT o_orderkey, o_custkey AS fk,
        |             o_orderkey % 4 AS v_at FROM orders)
        |SELECT v_at, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS ok_sum,
        |  CAST(SUM(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM f JOIN iv ON f.fk = iv.k
        |  AND f.v_at >= iv.valid_from
        |  AND (iv.valid_to IS NULL OR f.v_at < iv.valid_to)
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** DuckDB twin of [[scd2Hist]] + [[scd2Build]] (ends at the `iv`
    * validity-interval CTE), shared by the q92/q100 oracles so the
    * dimension has ONE SQL definition. */
  // a def, not a val: `oracles` above interpolates it during object
  // init, and a later-declared val would still be null at that point
  private def scd2DimCteSql: String =
    """WITH hist AS (
      |  SELECT c_custkey AS k, v, c_acctbal
      |    + CASE WHEN v >= 1 AND c_custkey % 2 = 0 THEN 100 ELSE 0 END
      |    + CASE WHEN v >= 2 AND c_custkey % 3 = 0 THEN 200 ELSE 0 END
      |    + CASE WHEN v >= 3 AND c_custkey % 5 = 0 THEN 300 ELSE 0 END
      |    AS bal
      |  FROM customer, (SELECT UNNEST(generate_series(0, 3)) AS v)),
      |chg AS (
      |  SELECT k, v, bal,
      |    LAG(bal) OVER (PARTITION BY k ORDER BY v) AS prev,
      |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY v) AS rn
      |  FROM hist),
      |iv AS (
      |  SELECT k, bal, v AS valid_from,
      |    LEAD(v) OVER (PARTITION BY k ORDER BY v) AS valid_to
      |  FROM chg WHERE rn = 1 OR bal IS DISTINCT FROM prev)""".stripMargin
}
