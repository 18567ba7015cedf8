package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.TopKFunctions
import graft.plans.Skew

/** Array / map / higher-order-function and math scalar coverage
  * (SURVEY.md §2.8 north-star extensions).
  *
  * q25 exercises the Catalyst HOFs (`aggregate`, `transform`, `slice`,
  * `array_sort`, `array_max/min`, `map`/`element_at`) over the
  * embedding column — the codegen-friendly alternative to UDFs for
  * vector math. q26 exercises the math scalar surface.
  *
  * Oracle notes: HOF folds are sequential left-to-right in both
  * engines; transcendentals (ln) are ~1-ulp library calls, so they are
  * rounded harder than the algebraic columns.
  */
object HigherOrder {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(

    // ── q25: array & map functions + HOFs over embeddings.
    "q25_array_hof" -> ((s, d) => {
      Tables(s, d, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast(IntegerType).as("n"),
          // "+ 0.0" normalizes IEEE negative zero: DuckDB's round()
          // keeps -0.0, Spark's BigDecimal round yields +0.0 — found as
          // a real hash mismatch at sf0.1.
          (round(expr("aggregate(embedding, cast(0.0 as double), (a, x) -> a + cast(x as double))"), 6) + 0.0)
            .as("vsum"),
          (round(expr("cast(array_max(embedding) as double)"), 6) + 0.0).as("vmax"),
          (round(expr("cast(array_min(embedding) as double)"), 6) + 0.0).as("vmin"),
          // transform+slice HOF, emitted as SCALARS: the driver's diff
          // sorts rows in pandas, and an array column is unhashable
          // there (round-1 `err`); three double columns carry the same
          // check and stay comparable.
          expr("element_at(transform(slice(embedding, 1, 3), x -> round(cast(x as double), 4) + 0.0d), 1)")
            .as("first3_1"),
          expr("element_at(transform(slice(embedding, 1, 3), x -> round(cast(x as double), 4) + 0.0d), 2)")
            .as("first3_2"),
          expr("element_at(transform(slice(embedding, 1, 3), x -> round(cast(x as double), 4) + 0.0d), 3)")
            .as("first3_3"),
          (round(expr("cast(element_at(array_sort(embedding), 2) as double)"), 6) + 0.0)
            .as("second_smallest"),
          // map plumbing: build → extract (oracle sees just the value)
          element_at(map(lit("v"), col("vec_id")), "v").as("key_demo"),
          col("label"))
        .orderBy(col("vec_id"))
    }),

    // ── q26: math scalar functions over lineitem.
    "q26_math_funcs" -> ((s, d) => {
      Tables(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("rounded"),
          abs(col("l_discount") - 0.05).as("absd"),
          pow(col("l_quantity"), 2).as("qty_sq"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          floor(col("l_extendedprice")).cast(LongType).as("fl"),
          ceil(col("l_extendedprice")).cast(LongType).as("ce"),
          signum(col("l_discount") - 0.05).cast(IntegerType).as("sg"),
          pmod(col("l_orderkey"), lit(7)).cast(IntegerType).as("md"),
          round(log(col("l_quantity")), 6).as("ln_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── q27: custom TypedImperativeAggregate top-k — same result as the
    // window formulation (q07) and checked against the same oracle, but
    // with k-bounded heaps instead of per-group sorts (map-side partial
    // top-k; the shuffle carries ≤ k rows per group per task).
    "q27_topk_aggregate" -> ((s, d) => {
      Tables(s, d, "part")
        .groupBy(col("p_brand"))
        .agg(TopKFunctions.topkBy(col("p_retailprice"), col("p_partkey"), 3).as("top"))
        .select(col("p_brand"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("p_brand"), col("entry.payload").as("p_partkey"),
          col("entry.ord").as("p_retailprice"),
          (col("pos") + 1).cast(IntegerType).as("rn"))
        .orderBy(col("p_brand"), col("rn"))
    }),

    // ── q29: distributed statistics from decimal-exact moments — var,
    // stddev, corr derived from associative SUMs (map-side partial,
    // order-independent), not from streaming one-pass estimators whose
    // accumulation order would differ per engine. Exact percentiles via
    // linear interpolation ride along.
    "q29_stats_moments" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      def dsum(e: String, sc: Int) =
        sum(expr(e).cast(DecimalType(28, sc))).cast(DoubleType)
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          dsum("l_extendedprice", 2).as("sx"),
          dsum("l_extendedprice * l_extendedprice", 4).as("sxx"),
          dsum("l_quantity", 0).as("sy"),
          dsum("l_quantity * l_quantity", 0).as("syy"),
          dsum("l_extendedprice * l_quantity", 2).as("sxy"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"))
        .select(
          col("l_returnflag"), col("n"),
          round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 4)
            .as("var_price"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
            .as("stddev_price"),
          (round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6) + 0.0)
            .as("corr_price_qty"),
          col("median_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // ── q30: AS-OF JOIN composed from built-ins (SURVEY §2.10
    // preference (a)): each event is matched to its user's most recent
    // signup at-or-before its timestamp. One RANGE-frame window over a
    // single sorted shuffle — no custom plan, no per-row subquery. The
    // RANGE (not ROWS) frame makes same-timestamp signups visible,
    // matching the correlated-subquery oracle exactly.
    "q30_asof_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("signup_ts",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("signup_ts"))
        .orderBy(col("event_id"))
    }),

    // ── q32: NOT IN subquery — Catalyst plans this as a null-aware
    // anti join (different from NOT EXISTS when the subquery can yield
    // NULL); exercised through the SQL path to get the real NOT IN
    // resolution.
    "q32_not_in_subquery" -> ((s, d) => {
      Tables(s, d, "customer").createOrReplaceTempView("customer_v32")
      Tables(s, d, "orders").createOrReplaceTempView("orders_v32")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n FROM orders_v32
          |WHERE o_custkey NOT IN
          |  (SELECT c_custkey FROM customer_v32 WHERE c_acctbal < 0)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // ── q33: ordered string aggregation — collect_list is unordered by
    // contract, so determinism comes from array_sort before the join;
    // the oracle's string_agg(… ORDER BY) states the same result.
    "q33_string_agg" -> ((s, d) => {
      val sup = Tables(s, d, "supplier"); val n = Tables(s, d, "nation")
      sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(expr("array_join(array_sort(collect_list(s_name)), ',')").as("suppliers"),
          count(lit(1)).as("n_suppliers"))
        .orderBy(col("n_name"))
    }),

    // ── q35: RANGE JOIN (interval join) — events matched to the
    // maintenance windows containing them (120 deterministic 90-minute
    // windows, every 6 h over the event month). Spark has no native
    // range-join operator; the naive theta join (ts BETWEEN start AND
    // end) plans as BroadcastNestedLoopJoin — the d05 scale-killer
    // shape. This is the standard BUCKETED decomposition instead
    // (SURVEY §2.10 preference (a) — compose built-ins): every range
    // explodes to the hour buckets it overlaps (⌈90min/1h⌉+1 ≤ 2 rows),
    // events map to their single bucket, the join is an EQUI-join on
    // the bucket, and the exact interval predicate filters inside the
    // join's output — candidates are bounded by per-bucket overlap, not
    // |events|×|ranges|. Plan-asserted BNLJ-free (PortableHashSpec).
    "q35_range_join" -> ((s, d) => {
      val hourUs = 3600L * 1000000L
      val baseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
      val ranges = s.range(120).select(
        col("id").cast(IntegerType).as("range_id"),
        (lit(baseUs) + col("id") * lit(6L * hourUs)).as("r_start_us"),
        (lit(baseUs) + col("id") * lit(6L * hourUs) + lit(90L * 60L * 1000000L))
          .as("r_end_us"))
      val rb = ranges.withColumn("hour_bucket",
        explode(expr(s"sequence(r_start_us div $hourUs, (r_end_us - 1) div $hourUs)")))
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("hour_bucket", expr(s"ts_us div $hourUs"))
      ev.join(broadcast(rb), "hour_bucket") // ranges tiny → broadcast; at
        // scale both sides shuffle on the bucket — same equi-join plan
        .filter(col("ts_us") >= col("r_start_us") && col("ts_us") < col("r_end_us"))
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy(col("range_id"))
    }),

    // ── q38: correlated SCALAR subquery — Catalyst decorrelates the
    // per-row subquery into an aggregate + left outer join (one
    // shuffle), not a per-row probe; the SQL path is used so the real
    // RewriteCorrelatedScalarSubquery rule runs. COALESCE(0) states
    // the no-orders case explicitly on both engines.
    "q38_correlated_subquery" -> ((s, d) => {
      Tables(s, d, "customer").createOrReplaceTempView("customer_v38")
      Tables(s, d, "orders").createOrReplaceTempView("orders_v38")
      s.sql(
        """SELECT c_custkey, c_acctbal,
          |  COALESCE((SELECT COUNT(*) FROM orders_v38 o
          |            WHERE o.o_custkey = c.c_custkey), 0) AS n_orders
          |FROM customer_v38 c ORDER BY c_custkey""".stripMargin)
    }),

    // ── q39: LATERAL join — a correlated subquery in FROM position
    // with its own ORDER BY + LIMIT (top-2 suppliers per nation).
    // Catalyst plans the correlated limit through DomainJoin
    // decorrelation (a ranked window under the hood), not a per-row
    // re-execution — the same top-k-per-group shape as q07, reached
    // from the SQL surface a reference user would write.
    "q39_lateral_join" -> ((s, d) => {
      Tables(s, d, "nation").createOrReplaceTempView("nation_v39")
      Tables(s, d, "supplier").createOrReplaceTempView("supplier_v39")
      s.sql(
        """SELECT n_name, t.s_name, t.s_acctbal
          |FROM nation_v39 n,
          |LATERAL (SELECT s_name, s_acctbal FROM supplier_v39
          |         WHERE s_nationkey = n.n_nationkey
          |         ORDER BY s_acctbal DESC, s_name LIMIT 2) t
          |ORDER BY n_name, t.s_acctbal DESC, t.s_name""".stripMargin)
    }),

    // ── q28: skew-salted equi-join — result-identical to the plain
    // join (the oracle is the unsalted SQL), with the big side's hot
    // keys spread over 8 shuffle partitions. This is the DEMO of the
    // manual technique: AQE skew-join handling is the default tool (on
    // in Bench), and the ×8 small-side replication is why q28 costs
    // ~5× the unsalted q04 on unskewed data — you pay it only when a
    // known hot key would otherwise serialize one reducer.
    "q28_salted_join" -> ((s, d) => {
      val l = Tables(s, d, "lineitem"); val o = Tables(s, d, "orders")
      Skew.saltedEquiJoin(l, o, "l_orderkey", "o_orderkey", 8, col("l_linenumber"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // ── q63: the typed Aggregator + udaf() surface — the third custom
    // aggregate API (next to q27's TypedImperativeAggregate and the
    // built-ins): quantity-weighted mean unit price per return flag,
    // registered as a SQL function and driven through spark.sql so the
    // whole parse→plan→two-phase-aggregate path runs. Inputs are
    // integer units/cents; the only float step is the final division
    // (see WeightedMeanAggregator's oracle-discipline note).
    "q63_udaf_aggregator" -> ((s, d) => {
      s.udf.register("wmean_cents",
        org.apache.spark.sql.functions.udaf(graft.functions.WeightedMeanAggregator,
          org.apache.spark.sql.Encoders.product[graft.functions.WMIn]))
      Tables(s, d, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast(LongType).as("w"),
          round(col("l_extendedprice") * 100).cast(LongType).as("x"))
        .createOrReplaceTempView("li_cents")
      s.sql(
        """SELECT l_returnflag,
          |  wmean_cents(w, x) AS wmean_price_cents,
          |  sum(w) AS sum_units
          |FROM li_cents GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // ── q84: COLLECTION OPS II — the map-typed HOFs and array SET
    // operations q25 doesn't reach: map_from_arrays → map_filter →
    // map_values, map_zip_with, zip_with, array_except/filter over an
    // in-plan per-group sequence. Everything stays integer (line
    // numbers ≤ 7, squares ≤ 49) and arrays are built sorted, so the
    // canonical comma-joined strings and fold sums are hash-exact;
    // DuckDB restates the map results as list comprehensions over the
    // same range (its map type has no filter/zip surface — the VALUES
    // are the contract, not the container). All codegen'd per-row
    // collection kernels over one aggregate — no UDF, no shuffle
    // beyond the groupBy.
    "q84_collection_ops" -> ((s, d) => {
      Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_linenumber")).as("mx"))
        .select(col("l_orderkey"), col("mx"),
          expr("array_join(filter(sequence(1, mx), x -> x % 2 = 0), ',')")
            .as("evens_csv"),
          expr("""array_join(array_except(sequence(1, mx),
                    filter(sequence(1, mx), x -> x % 2 = 0)), ',')""")
            .as("odds_csv"),
          expr("""aggregate(zip_with(sequence(1, mx), reverse(sequence(1, mx)),
                    (x, y) -> x * y), cast(0 as bigint), (a, x) -> a + x)""")
            .as("zip_dot"),
          expr("""aggregate(map_values(map_filter(
                    map_from_arrays(sequence(1, mx),
                      transform(sequence(1, mx), x -> x * x)),
                    (k, v) -> k % 2 = 0)), cast(0 as bigint), (a, x) -> a + x)""")
            .as("even_sq_sum"),
          expr("""aggregate(map_values(map_zip_with(
                    map_from_arrays(sequence(1, mx),
                      transform(sequence(1, mx), x -> x * x)),
                    map_from_arrays(sequence(1, mx), sequence(1, mx)),
                    (k, v1, v2) -> v1 - v2)), cast(0 as bigint), (a, x) -> a + x)""")
            .as("zip_diff_sum"))
        .orderBy(col("l_orderkey"))
    }),

    // ── q80: RECURSIVE CTE (Spark 4) — transitive closure over an
    // implicit referral hierarchy (parent(k) = k div 10, a tree rooted
    // at 0): every customer's full ancestor chain, aggregated per
    // depth. The recursion is breadth-synchronous — each level is one
    // distributed step over the previous level's frame, so total work
    // is O(rows · depth) with depth ≈ log₁₀(keys); at 100 TB the same
    // query runs level-by-level without any driver-side loop (the
    // iteration the d06 label-propagation operator hand-rolls,
    // expressed declaratively). DuckDB runs the identical statement.
    "q80_recursive_cte" -> ((s, d) => {
      Tables(s, d, "customer").createOrReplaceTempView("customer_v80")
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT c_custkey AS k, c_custkey AS node, 0 AS depth
          |  FROM customer_v80
          |  UNION ALL
          |  SELECT k, node DIV 10 AS node, depth + 1 FROM anc WHERE node > 0
          |)
          |SELECT depth, count(*) AS n, sum(k) AS key_sum
          |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
        .select(col("depth").cast(IntegerType).as("depth"), col("n"),
          col("key_sum").cast(LongType).as("key_sum"))
    }),

    // ── q85: SESSION VARIABLES + dynamic identifiers (Spark 4) — the
    // parameterized-pipeline surface: a threshold lives in a typed
    // session variable (`DECLARE`/`SET VAR`), the target table name in
    // another, resolved at parse time via `IDENTIFIER()`. This is how
    // a SQL-first deployment templates one query over many
    // tables/thresholds without string-splicing SQL (and without the
    // injection surface splicing brings). Variables fold to literals
    // at plan time, so predicate pushdown sees a constant — the plan
    // is identical to the hand-written query; the oracle inlines the
    // same constants.
    "q85_session_vars" -> ((s, d) => {
      Tables(s, d, "orders").createOrReplaceTempView("orders_v85")
      s.sql("DECLARE OR REPLACE VARIABLE graft_min_price DOUBLE DEFAULT 0.0")
      s.sql("SET VAR graft_min_price = 250000.0")
      s.sql("DECLARE OR REPLACE VARIABLE graft_tbl STRING DEFAULT 'orders_v85'")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  min(o_totalprice) AS min_price
          |FROM IDENTIFIER(graft_tbl)
          |WHERE o_totalprice >= graft_min_price
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ── q86: SQL-DEFINED FUNCTIONS (Spark 4) — a scalar SQL UDF
    // (`CREATE FUNCTION … RETURN expr`, the declarative twin of q63's
    // typed Aggregator: inlined into the plan, fully codegen'd, no JVM
    // closure) and a SQL TABLE function (`RETURNS TABLE`, the
    // declarative twin of t06's custom Catalyst Generator) applied per
    // row via LATERAL. The i=1 arm recovers the unexpanded per-row sum
    // inside the expanded aggregate, so one query checks both
    // functions; the oracle restates the TVF arithmetically
    // (Σ 1..n = n(n+1)/2).
    "q86_sql_udfs" -> ((s, d) => {
      Tables(s, d, "lineitem").createOrReplaceTempView("li_v86")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(p DOUBLE)
          |RETURNS BIGINT RETURN CAST(round(p * 100) AS BIGINT)""".stripMargin)
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_expand(n INT)
          |RETURNS TABLE(i INT) RETURN SELECT explode(sequence(1, n))""".stripMargin)
      s.sql(
        """WITH ex AS (
          |  SELECT l_returnflag, graft_cents(l_extendedprice) AS cents, t.i
          |  FROM li_v86, LATERAL graft_expand(l_linenumber) AS t)
          |SELECT l_returnflag, COUNT(*) AS n_expanded,
          |  SUM(i) AS tvf_sum,
          |  SUM(CASE WHEN i = 1 THEN cents ELSE 0 END) AS sum_cents
          |FROM ex GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // ── q81: COLLATION-AWARE grouping and joining (Spark 4 collations)
    // — case-scattered segment labels (every even key lowercased)
    // group and join as ONE key under UTF8_LCASE without rewriting the
    // data through lower(): the collation rides the column type, so
    // every comparison — GROUP BY, the join to the canonical dim, and
    // a predicate — is case-insensitive while the stored bytes stay
    // untouched. The hashed output normalizes through upper() because
    // a collated group's representative bytes are engine-specific; the
    // oracle restates the same semantics via lower()-keyed grouping.
    "q81_collation" -> ((s, d) => {
      val ci = (c: org.apache.spark.sql.Column) => collate(c, "UTF8_LCASE")
      val cust = Tables(s, d, "customer")
        .withColumn("seg",
          when(pmod(col("c_custkey"), lit(2)) === 0, lower(col("c_mktsegment")))
            .otherwise(col("c_mktsegment")))
      val dim = Tables(s, d, "customer")
        .select(col("c_mktsegment").as("dim_seg")).distinct()
      cust.join(dim, ci(col("seg")) === ci(col("dim_seg")))
        .filter(ci(col("seg")) =!= lit("machinery"))
        .groupBy(ci(col("seg")).as("k"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("seg")).as("n_case_variants"))
        // normalize the output key back to the default binary collation
        // so the written schema is a plain string
        .select(collate(upper(col("k")), "UTF8_BINARY").as("segment"),
          col("n"), col("n_case_variants"))
        .orderBy(col("segment"))
    }),

    // ── q94: EXACT MEDIAN + DETERMINISTIC MODE per group. `median` is
    // Spark 3.4+'s exact percentile sugar — right for bounded per-group
    // value multisets (q37's approx_percentile is the 100 TB default;
    // this is the exact complement, and the pair documents the trade).
    // Mode is NOT taken from the built-in `mode()` — its tie choice is
    // engine-internal — but derived deterministically: count per
    // (group, value), then argmax by the (count, value) total order
    // (q82's rank trick; the value fits in the fold because
    // l_linestatus is one char). Both engines replay the same fold, so
    // the modal value is hash-exact even under ties.
    "q94_median_mode" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val med = li.groupBy(col("l_returnflag"))
        .agg(median(col("l_quantity")).as("med_qty"),
          median(col("l_extendedprice")).as("med_price"),
          count(lit(1)).as("n"))
      val mode = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(max_by(col("l_linestatus"),
            col("cnt") * 1024L + ascii(col("l_linestatus"))).as("mode_status"),
          max(col("cnt")).as("mode_n"))
      med.join(mode, "l_returnflag")
        .orderBy(col("l_returnflag"))
    }),

    // ── q95: ONE-PASS DATA PROFILING — the operational "what landed
    // today" snapshot (null fractions, exact cardinalities, ranges)
    // for a column set, computed in a SINGLE aggregate over one scan:
    // Spark's multi-distinct Expand handles the per-column distincts
    // in one shuffle, and the wide 1-row result unpivots to one row
    // per column via stack(). Numeric and string ranges ride separate
    // typed columns (casting doubles to strings is engine-dependent
    // formatting — the profile never does it).
    "q95_profile" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val wide = c.agg(
        count(lit(1)).as("n_rows"),
        // c_custkey
        sum(col("c_custkey").isNull.cast("long")).as("k_nulls"),
        countDistinct(col("c_custkey")).as("k_nd"),
        min(col("c_custkey")).cast("double").as("k_min"),
        max(col("c_custkey")).cast("double").as("k_max"),
        // c_acctbal
        sum(col("c_acctbal").isNull.cast("long")).as("b_nulls"),
        countDistinct(col("c_acctbal")).as("b_nd"),
        min(col("c_acctbal")).as("b_min"),
        max(col("c_acctbal")).as("b_max"),
        // c_mktsegment
        sum(col("c_mktsegment").isNull.cast("long")).as("s_nulls"),
        countDistinct(col("c_mktsegment")).as("s_nd"),
        min(col("c_mktsegment")).as("s_min"),
        max(col("c_mktsegment")).as("s_max"),
        // c_nationkey
        sum(col("c_nationkey").isNull.cast("long")).as("nk_nulls"),
        countDistinct(col("c_nationkey")).as("nk_nd"),
        min(col("c_nationkey")).cast("double").as("nk_min"),
        max(col("c_nationkey")).cast("double").as("nk_max"))
      wide.selectExpr("n_rows", """stack(4,
          'c_custkey',    k_nulls,  k_nd,  k_min,  k_max,  CAST(NULL AS STRING), CAST(NULL AS STRING),
          'c_acctbal',    b_nulls,  b_nd,  b_min,  b_max,  CAST(NULL AS STRING), CAST(NULL AS STRING),
          'c_mktsegment', s_nulls,  s_nd,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), s_min, s_max,
          'c_nationkey',  nk_nulls, nk_nd, nk_min, nk_max, CAST(NULL AS STRING), CAST(NULL AS STRING)
        ) AS (col_name, n_null, n_distinct, min_num, max_num, min_str, max_str)""")
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_num"), col("max_num"),
          col("min_str"), col("max_str"))
        .orderBy(col("col_name"))
    }),

    // ── q96: NULL-SAFE EQUALITY JOIN (`<=>` / IS NOT DISTINCT FROM) —
    // the semantics every dedup/reconciliation pipeline needs when the
    // join key is itself nullable (unknown country, unparsed id):
    // plain equality silently drops the NULL partition (NULL = NULL is
    // NULL), while `<=>` matches it as one key group. Still a hash
    // equi-join — NULL hashes like any key value, so the plan and the
    // scale story are identical to q04's. The NULL bridge row is live
    // at every SF (nullif over a mod class present on both sides).
    "q96_nullsafe_join" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .groupBy(expr("nullif(c_nationkey % 5, 2)").as("k"))
        .agg(count(lit(1)).as("n_cust"))
      val supp = Tables(s, d, "supplier")
        .groupBy(expr("nullif(s_nationkey % 5, 2)").as("k_s"))
        .agg(count(lit(1)).as("n_supp"))
      cust.join(supp, col("k") <=> col("k_s"))
        .select(col("k"), col("n_cust"), col("n_supp"),
          col("k").isNull.as("null_bridged"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // ── q97: EQUI-DEPTH HISTOGRAM, scalably — NOT a global ntile()
    // (that is a single-task total sort): quartile boundaries come
    // from ONE exact-percentile aggregate (at 100 TB swap in
    // approx_percentile — same plan shape), broadcast as a single row,
    // and the binning pass is a narrow codegen'd CASE over the fact.
    // Values are integer cents, so min/max/sum are exact; the
    // interpolated boundaries are computed identically by both
    // engines (the q29 precedent).
    "q97_equidepth_hist" -> ((s, d) => {
      val c = Tables(s, d, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
          .as("cents"))
      // DISTRIBUTED ORDER STATISTICS replace the exact-`percentile`
      // aggregate (optimization round 16, guide §2.4/§5): percentile's
      // partial buffers serialize EVERY value into the shuffle and its
      // single final-merge task sorts and cumulates the whole column
      // (measured: 1.5 s of map-side buffer serialization + a 2.3 s
      // one-task finalization at sf0.1 — and at 100 TB that one task
      // holds every distinct value, a scale-killer). Here the column
      // is range-partitioned (session parallelism — scale-adaptive),
      // per-partition counts give each partition's global offset, a
      // per-partition window numbers rows globally, and the quartile
      // boundaries come from six conditional-min aggregates over the
      // positioned rows. Arithmetic replicates PercentileBase
      // .getPercentile BIT-FOR-BIT (verified against the bytecode):
      //   pos = (n-1).toDouble * p; lo = floor(pos); hi = ceil(pos)
      //   v(k) = first value with cumulative count >= k  (k = lo+1/hi+1)
      //   b = if (hi == lo || v_lo == v_hi) v_lo.toDouble
      //       else (hi.toDouble - pos) * v_lo + (pos - lo.toDouble) * v_hi
      // so the binning — and the hash-checked output — is unchanged.
      val parts = s.sessionState.conf.numShufflePartitions
      // materialized ONCE (optimization round 17, guide §2.4): four
      // consuming subtrees (pidTotals→offsets→kframe, and pos) each
      // re-instantiated the scan + range shuffle — the r16 after-plan
      // carried rangepartitioning(cents) four times with no exchange
      // reuse (plan_ids 148/153/166/181), i.e. four full passes over
      // the column where one suffices. localCheckpoint truncates the
      // lineage so every consumer reads the one shuffled, sorted copy
      // (the d10/d12 multi-consumer discipline).
      val positioned = c.repartitionByRange(parts, col("cents"))
        .sortWithinPartitions(col("cents"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val pidTotals = positioned.groupBy(col("pid"))
        .agg(count(lit(1)).as("pn"))
      // P rows: the cumulative offset before each partition + total n
      val offsets = pidTotals
        .withColumn("off",
          coalesce(sum(col("pn")).over(org.apache.spark.sql.expressions
            .Window.orderBy(col("pid"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("pn")).over())
        .select(col("pid"), col("off"), col("n"))
      // the six target indices (+ position/floor/ceil per quartile),
      // computed once from n — a 1-row frame
      val kframe = offsets.agg(max(col("n")).as("n")).select(
        (Seq(col("n")) ++ Seq(0.25, 0.50, 0.75).zipWithIndex.flatMap {
          case (p, i) =>
            val pos = expr(s"CAST(n - 1 AS DOUBLE) * ${p}D")
            Seq(pos.as(s"pos$i"),
              expr(s"CAST(floor(CAST(n - 1 AS DOUBLE) * ${p}D) AS BIGINT)")
                .as(s"lo$i"),
              expr(s"CAST(ceil(CAST(n - 1 AS DOUBLE) * ${p}D) AS BIGINT)")
                .as(s"hi$i"))
        }): _*)
      // global position = partition offset + within-partition number;
      // the window groups by pid (session-parallel tasks, never one
      // global sort task)
      val pos = positioned
        .join(broadcast(offsets), "pid")
        .withColumn("cum", col("off") +
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("pid")).orderBy(col("cents"))))
      // v(k) = min value whose global position >= k — exact because
      // values weakly increase with position; ties collapse to the
      // same value either way
      val pickAggs = (0 to 2).flatMap { i =>
        Seq(min(when(col("cum") >= col(s"lo$i") + 1, col("cents")))
          .as(s"vlo$i"),
          min(when(col("cum") >= col(s"hi$i") + 1, col("cents")))
            .as(s"vhi$i"))
      }
      val picked = pos.crossJoin(broadcast(kframe))
        .agg(pickAggs.head, pickAggs.tail: _*)
      val bounds = picked.crossJoin(broadcast(kframe)).select(
        (0 to 2).map { i =>
          when(col(s"hi$i") === col(s"lo$i") ||
              col(s"vlo$i") === col(s"vhi$i"),
            col(s"vlo$i").cast("double"))
            .otherwise(
              (col(s"hi$i").cast("double") - col(s"pos$i")) *
                col(s"vlo$i").cast("double") +
                (col(s"pos$i") - col(s"lo$i").cast("double")) *
                  col(s"vhi$i").cast("double"))
            .as(s"b${i + 1}")
        }: _*)
      c.crossJoin(broadcast(bounds)) // 1-row build: the allowed class
        .withColumn("bin",
          when(col("cents") <= col("b1"), 0)
            .when(col("cents") <= col("b2"), 1)
            .when(col("cents") <= col("b3"), 2)
            .otherwise(3))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("bin"))
    })
  ))

  val oracles: Map[String, String] = Map(
    "q25_array_hof" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS n,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) + 0.0 AS vsum,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) + 0.0 AS vmax,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) + 0.0 AS vmin,
        |  list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 4) + 0.0)[1] AS first3_1,
        |  list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 4) + 0.0)[2] AS first3_2,
        |  list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 4) + 0.0)[3] AS first3_3,
        |  round(CAST(list_sort(embedding)[2] AS DOUBLE), 6) + 0.0 AS second_smallest,
        |  vec_id AS key_demo,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q26_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 1) AS rounded,
        |  abs(l_discount - 0.05) AS absd,
        |  power(l_quantity, 2) AS qty_sq,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  CAST(sign(l_discount - 0.05) AS INTEGER) AS sg,
        |  CAST(l_orderkey % 7 AS INTEGER) AS md,
        |  round(ln(l_quantity), 6) AS ln_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // same semantics as q07's window formulation
    "q27_topk_aggregate" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rn
        |  FROM part) WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    "q29_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sxy,
        |    quantile_cont(l_quantity, 0.5) AS median_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((sxx - sx * sx / n) / (n - 1), 4) AS var_price,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_price,
        |  round((n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) + 0.0 AS corr_price_qty,
        |  median_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q32_not_in_subquery" ->
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q33_string_agg" ->
      """SELECT n_name,
        |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
        |  COUNT(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // as-of semantics stated as a correlated subquery
    "q30_asof_join" ->
      """SELECT e.event_id, e.user_id, e.event_type,
        |  (SELECT max(s.ts) FROM events s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |     AND s.ts <= e.ts) AS signup_ts
        |FROM events e ORDER BY e.event_id""".stripMargin,

    // the declarative interval-containment statement; epoch_us mirrors
    // the engine's ns→µs truncation so boundary events agree
    "q35_range_join" ->
      """WITH r AS (SELECT i AS range_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 6 HOUR AS r_start,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 6 HOUR
        |      + INTERVAL 90 MINUTE AS r_end
        |  FROM generate_series(0, 119) t(i))
        |SELECT CAST(range_id AS INTEGER) AS range_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN r
        |  ON epoch_us(e.ts) >= epoch_us(r.r_start)
        | AND epoch_us(e.ts) < epoch_us(r.r_end)
        |GROUP BY range_id ORDER BY range_id""".stripMargin,

    "q38_correlated_subquery" ->
      """SELECT c_custkey, c_acctbal,
        |  COALESCE((SELECT COUNT(*) FROM orders o
        |            WHERE o.o_custkey = c.c_custkey), 0) AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin,

    "q39_lateral_join" ->
      """SELECT n_name, t.s_name, t.s_acctbal
        |FROM nation n,
        |LATERAL (SELECT s_name, s_acctbal FROM supplier
        |         WHERE s_nationkey = n.n_nationkey
        |         ORDER BY s_acctbal DESC, s_name LIMIT 2) t
        |ORDER BY n_name, t.s_acctbal DESC, t.s_name""".stripMargin,

    // the unsalted join — salting must not change the result set
    "q28_salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the Aggregator restated as exact integer sums with one final
    // double division — identical arithmetic to reduce/merge/finish
    "q63_udaf_aggregator" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS wmean_price_cents,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_units
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the same values as list comprehensions over the same range
    "q84_collection_ops" ->
      """WITH g AS (SELECT l_orderkey, CAST(MAX(l_linenumber) AS INTEGER) AS mx
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, mx,
        |  coalesce(array_to_string(list_filter(range(1, mx + 1), x -> x % 2 = 0), ','), '') AS evens_csv,
        |  coalesce(array_to_string(list_filter(range(1, mx + 1), x -> x % 2 <> 0), ','), '') AS odds_csv,
        |  CAST(list_sum(list_transform(range(1, mx + 1), i -> i * (mx + 1 - i))) AS BIGINT) AS zip_dot,
        |  CAST(coalesce(list_sum(list_transform(
        |    list_filter(range(1, mx + 1), k -> k % 2 = 0), k -> k * k)), 0) AS BIGINT) AS even_sq_sum,
        |  CAST(list_sum(list_transform(range(1, mx + 1), k -> k * k - k)) AS BIGINT) AS zip_diff_sum
        |FROM g ORDER BY l_orderkey""".stripMargin,

    // the identical recursive statement (DuckDB's // is Spark's DIV)
    "q80_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS k, c_custkey AS node, 0 AS depth FROM customer
        |  UNION ALL
        |  SELECT k, node // 10 AS node, depth + 1 FROM anc WHERE node > 0)
        |SELECT CAST(depth AS INTEGER) AS depth, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS key_sum
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin,

    // the variable/identifier indirection inlined to constants
    "q85_session_vars" ->
      """SELECT o_orderpriority, COUNT(*) AS n, MIN(o_totalprice) AS min_price
        |FROM orders WHERE o_totalprice >= 250000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // scalar UDF inlined as arithmetic; the TVF expansion restated in
    // closed form (COUNT over the expansion = Σn, Σi = n(n+1)/2)
    "q86_sql_udfs" ->
      """SELECT l_returnflag,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS n_expanded,
        |  CAST(SUM(l_linenumber * (l_linenumber + 1) // 2) AS BIGINT) AS tvf_sum,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the collation semantics restated through lower()-keyed grouping
    "q81_collation" ->
      """WITH cust AS (SELECT CASE WHEN c_custkey % 2 = 0
        |      THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg
        |    FROM customer),
        |dim AS (SELECT DISTINCT c_mktsegment AS dim_seg FROM customer)
        |SELECT upper(l) AS segment, COUNT(*) AS n,
        |  COUNT(DISTINCT seg) AS n_case_variants
        |FROM (SELECT seg, lower(seg) AS l FROM cust) c
        |JOIN dim ON c.l = lower(dim.dim_seg)
        |WHERE l <> 'machinery'
        |GROUP BY l ORDER BY segment""".stripMargin,

    // both engines interpolate even-count medians as the mean of the
    // two middles; the mode fold is replayed verbatim
    "q94_median_mode" ->
      """WITH med AS (
        |  SELECT l_returnflag, median(l_quantity) AS med_qty,
        |    median(l_extendedprice) AS med_price, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |sc AS (
        |  SELECT l_returnflag,
        |    arg_max(l_linestatus, cnt * 1024 + ord(l_linestatus))
        |      AS mode_status,
        |    MAX(cnt) AS mode_n
        |  FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |        FROM lineitem GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT med.l_returnflag, med_qty, med_price, n, mode_status, mode_n
        |FROM med JOIN sc USING (l_returnflag) ORDER BY 1""".stripMargin,

    // one profile row per column, restated column-by-column
    "q95_profile" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM customer)
        |SELECT * FROM (
        |  SELECT 'c_custkey' AS col_name, n_rows,
        |    (SELECT COUNT(*) FROM customer WHERE c_custkey IS NULL) AS n_null,
        |    (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS n_distinct,
        |    (SELECT CAST(MIN(c_custkey) AS DOUBLE) FROM customer) AS min_num,
        |    (SELECT CAST(MAX(c_custkey) AS DOUBLE) FROM customer) AS max_num,
        |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |  FROM n
        |  UNION ALL
        |  SELECT 'c_acctbal', n_rows,
        |    (SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL),
        |    (SELECT COUNT(DISTINCT c_acctbal) FROM customer),
        |    (SELECT MIN(c_acctbal) FROM customer),
        |    (SELECT MAX(c_acctbal) FROM customer),
        |    NULL, NULL
        |  FROM n
        |  UNION ALL
        |  SELECT 'c_mktsegment', n_rows,
        |    (SELECT COUNT(*) FROM customer WHERE c_mktsegment IS NULL),
        |    (SELECT COUNT(DISTINCT c_mktsegment) FROM customer),
        |    NULL, NULL,
        |    (SELECT MIN(c_mktsegment) FROM customer),
        |    (SELECT MAX(c_mktsegment) FROM customer)
        |  FROM n
        |  UNION ALL
        |  SELECT 'c_nationkey', n_rows,
        |    (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL),
        |    (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
        |    (SELECT CAST(MIN(c_nationkey) AS DOUBLE) FROM customer),
        |    (SELECT CAST(MAX(c_nationkey) AS DOUBLE) FROM customer),
        |    NULL, NULL
        |  FROM n)
        |ORDER BY col_name""".stripMargin,

    // IS NOT DISTINCT FROM is ANSI's spelling of Spark's <=>
    "q96_nullsafe_join" ->
      """WITH cust AS (SELECT nullif(c_nationkey % 5, 2) AS k,
        |         COUNT(*) AS n_cust FROM customer GROUP BY 1),
        |supp AS (SELECT nullif(s_nationkey % 5, 2) AS k,
        |         COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT cust.k, n_cust, n_supp, cust.k IS NULL AS null_bridged
        |FROM cust JOIN supp ON cust.k IS NOT DISTINCT FROM supp.k
        |ORDER BY cust.k NULLS FIRST""".stripMargin,

    // same interpolated quartile boundaries, same CASE binning
    "q97_equidepth_hist" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |             AS cents FROM lineitem),
        |b AS (SELECT quantile_cont(cents, 0.25) AS b1,
        |        quantile_cont(cents, 0.50) AS b2,
        |        quantile_cont(cents, 0.75) AS b3 FROM c)
        |SELECT bin, COUNT(*) AS n, MIN(cents) AS min_cents,
        |  MAX(cents) AS max_cents, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM (SELECT cents,
        |        CASE WHEN cents <= b1 THEN 0 WHEN cents <= b2 THEN 1
        |             WHEN cents <= b3 THEN 2 ELSE 3 END AS bin
        |      FROM c, b)
        |GROUP BY bin ORDER BY bin""".stripMargin
  )
}
