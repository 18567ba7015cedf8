package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables

/** Time-series / distribution analytics (SURVEY.md §2.4–§2.5 depth).
  *
  * The reference's crime feed is a daily time series
  * (`spark_ingest_script.py:85-95` re-extracts per day;
  * `da-capstone-emr-airflow.py` schedules it), so the operations a
  * consumer of that table runs next are time-series shapes: rolling
  * event-time windows, calendar densification over days with no
  * incidents, carry-forward of sparse attributes, and distribution
  * summaries. None of these exist in the reference's two scripts — they
  * are the §2.5 extension surface, expressed as declarative plans.
  *
  * Oracle discipline follows Relational.scala: integer day/month
  * arithmetic (never float time math), DECIMAL casts under sums, unique
  * sort keys everywhere, and per-row double arithmetic only where both
  * engines evaluate the identical IEEE expression.
  */
object TimeSeries {

  // one definition of the loader + decimal discipline (Relational's)
  import Relational.{t, dec}

  /** ONE definition of the q72/q74 shared contract: exact integer
    * moment sums of x = quantity units, y = price cents per return
    * flag (n, Σx, Σy, Σxy, Σx², Σy² — int64 per-row products,
    * DECIMAL(38,0) sums; Σy² ≈ 6e19 at sf0.1 overflows int64, decimal
    * keeps every moment exact and ANSI mode would fail loudly if a
    * bigger corpus outgrew 38 digits — DuckDB's HUGEINT sums are the
    * 128-bit twin), plus the streaming float built-ins (corr, regr_*)
    * each consumer tolerance-pins against its exact value. */
  private def momentSums(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast(LongType)
    val y = round(col("l_extendedprice") * 100).cast(LongType)
    def d38(c: Column): Column = c.cast(DecimalType(38, 0))
    val xd = x.cast(DoubleType)
    val yd = y.cast(DoubleType)
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(d38(x)).as("sx"), sum(d38(y)).as("sy"),
        sum(d38(x * y)).as("sxy"), sum(d38(x * x)).as("sxx"),
        sum(d38(y * y)).as("syy"),
        corr(xd, yd).as("corr_builtin"),
        regr_slope(yd, xd).as("b_slope"),
        regr_intercept(yd, xd).as("b_icept"),
        regr_r2(yd, xd).as("b_r2"))
  }

  /** The three exact covariance integers over [[momentSums]] output,
    * cast to double once (B·C would overflow decimal-38, so products
    * happen in the double domain — stated identically in the oracle). */
  private def momentABC: (Column, Column, Column) = (
    (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType),
    (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType),
    (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))

  /** DuckDB twin of [[momentSums]] (HUGEINT sums), shared by the
    * q72/q74 oracles so the contract has one SQL definition too. */
  private val momentCteSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS BIGINT)) AS sx,
      |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
      |    SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
      |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
      |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy
      |  FROM lineitem GROUP BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(

    // ── q57: ROLLING EVENT-TIME WINDOW — per-customer trailing-30-day
    // spend via a RANGE frame over the integer epoch-day. A ROWS frame
    // would be wrong (it counts rows, not days: a customer with two
    // orders in one day gets a different window), and a self-join
    // `o2.day BETWEEN o.day-29 AND o.day` would shuffle the fact table
    // against itself — the RANGE frame computes the same answer in ONE
    // pass over each customer partition after a single shuffle on
    // o_custkey. At 100 TB the frame bound is evaluated with a sliding
    // two-pointer over the sorted partition (no per-row rescan), so
    // cost stays O(rows) per partition.
    "q57_rolling_window" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-29, Window.currentRow)
      t(s, d, "orders")
        .withColumn("day", datediff(col("o_orderdate"), lit("1970-01-01")))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(dec(col("o_totalprice"), 2)).over(w).cast(DoubleType)
            .as("spend_30d"),
          count(lit(1)).over(w).as("n_orders_30d"))
        .orderBy(col("o_orderkey"))
    }),

    // ── q58: CALENDAR GAP FILL — one customer's monthly revenue
    // densified against the CORPUS-WIDE month spine, so months where
    // the customer ordered nothing surface as explicit 0 rows (the
    // per-entity reporting series; the corpus itself has no empty
    // months at any SF, a single customer always does — the fill is
    // never vacuous). The dense month spine is generated IN-PLAN from
    // the global aggregate's min/max (`sequence` + `explode` — rows
    // from a one-row frame, no driver-side collect), so the only
    // full-corpus work is one month-keyed aggregate; the spine build
    // and the left join touch #months rows (~80 here, a few thousand
    // even for a century).
    "q58_gap_fill" -> ((s, d) => {
      def monIdx: Column = year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1
      val monthly = t(s, d, "orders")
        .filter(col("o_custkey") === 1)
        .groupBy(monIdx.as("mon_idx"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"), 2)).as("rev_dec"))
      val spine = t(s, d, "orders")
        .agg(min(monIdx).as("mn"), max(monIdx).as("mx"))
        .selectExpr("explode(sequence(mn, mx)) AS mon_idx")
      spine.join(monthly, Seq("mon_idx"), "left")
        .select(col("mon_idx"),
          expr("mon_idx div 12").cast(IntegerType).as("y"),
          (col("mon_idx") % 12 + 1).cast(IntegerType).as("mon"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("rev_dec"), lit(0).cast(DecimalType(18, 2)))
            .cast(DoubleType).as("rev"))
        .orderBy(col("mon_idx"))
    }),

    // ── q59: FORWARD FILL (last observation carried forward) — each
    // event carries the user's most recent purchase amount. `last(...,
    // ignoreNulls)` over a running ROWS frame is the declarative LOCF:
    // one shuffle on user_id, one sort, no self-join, no loop. The
    // ordering key (ts, event_id) is total, so the fill is
    // deterministic even with simultaneous events. The filled value is
    // a pass-through double (no cross-row arithmetic), so oracle parity
    // is bit-exact.
    "q59_forward_fill" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("pv", when(col("event_type") === "purchase", col("value")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          last(col("pv"), ignoreNulls = true).over(w).as("last_purchase_value"))
        .orderBy(col("event_id"))
    }),

    // ── q60: DISTRIBUTION RANKS — percent_rank + cume_dist per brand
    // (where does each part's price sit within its brand?). The window
    // ORDER BY ends in the unique p_partkey, so ranks are tie-free and
    // the (rank-1)/(n-1) and cume counts are integers — the only
    // doubles are single IEEE divisions both engines evaluate
    // identically. One shuffle on p_brand; the rank pass is O(rows) per
    // partition after the sort.
    "q60_rank_distribution" -> ((s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").asc, col("p_partkey").asc)
      t(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          row_number().over(w).cast(IntegerType).as("rn"))
        .orderBy(col("p_partkey"))
    }),

    // ── q61: ARGMAX/ARGMIN AGGREGATION — which order is each
    // priority's biggest/smallest? `max_by`/`min_by` computes the
    // answer inside the hash aggregate (map-side partials carry one
    // candidate each) — no rank window, no self-join back to the
    // aggregate. The ordering value is made UNIQUE by folding the
    // 2-decimal price into integer cents and appending the orderkey —
    // in 128-bit arithmetic (DECIMAL(38,0) here, HUGEINT in the
    // oracle): cents·10^12 + key is collision-free and
    // lexicographic-by-(price, key) for any orderkey < 10^12, which
    // covers ~SF70k TPC-H (an int64 fold would break past key ~10^7 —
    // the max_by row and max_price could name DIFFERENT orders). A raw
    // price tie would otherwise make the result engine-dependent.
    "q61_argmax_groups" -> ((s, d) => {
      val ord = (round(col("o_totalprice") * 100).cast(DecimalType(38, 0)) *
        lit(1000000000000L) + col("o_orderkey")).cast(DecimalType(38, 0))
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderkey"), ord).as("top_orderkey"),
          min_by(col("o_orderkey"), ord).as("bottom_orderkey"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // ── q71: ROLLING DISTINCT (30-day active customers) — the
    // rolling-DAU/MAU metric. A window frame cannot express it (no
    // DISTINCT aggregates over frames in Spark, and a global RANGE
    // window would be one task anyway); the scale-correct decomposition
    // is q35's bucketed range join: the distinct (day, customer) pair
    // set joins a day spine through 30-day-wide buckets — each spine
    // day touches at most 2 buckets, so shuffle volume is ≤2× the pair
    // set regardless of corpus size — then an exact containment filter
    // and a per-day distinct count. Work is ~window×pairs spread across
    // all days: the standard production shape for this metric.
    "q71_rolling_active" -> ((s, d) => {
      val pairs = t(s, d, "orders")
        .select(datediff(col("o_orderdate"), lit("1970-01-01")).as("day"),
          col("o_custkey").as("c"))
        .distinct()
        .withColumn("bkt", expr("day div 30"))
      val spine = pairs.select(col("day").as("d0")).distinct()
        .withColumn("bkt", explode(array(
          expr("(d0 - 29) div 30"), expr("d0 div 30"))))
        .distinct()
      spine.join(pairs, Seq("bkt"))
        .filter(col("day").between(col("d0") - 29, col("d0")))
        .groupBy(col("d0").as("day"))
        .agg(countDistinct(col("c")).as("active_30d"))
        .orderBy(col("day"))
    }),

    // ── q72: CORRELATION, oracle-exact — the streaming `corr`
    // aggregate is order-dependent in floating point (engines disagree
    // in the last ulps), so the hash-checkable formulation computes
    // Pearson r FROM THE INTEGER MOMENT SUMS (n, Σx, Σy, Σxy, Σx²,
    // Σy²; quantity units and price cents, all int64-exact and
    // order-free) with one final IEEE expression both engines evaluate
    // identically. Spark's built-in corr is then pinned with a q23-style
    // tolerance boolean against that exact value — the built-in's
    // accuracy becomes a checked contract instead of an article of
    // faith.
    "q72_correlation" -> ((s, d) => {
      val base = momentSums(s, d)
      // A, B, C are exact integers; the only floats are the final
      // correctly-rounded casts and one IEEE expression
      val (a, b, c) = momentABC
      val r = a / sqrt(b * c)
      base.select(col("l_returnflag"), col("n"),
          r.as("pearson_r"),
          (abs(col("corr_builtin") - r) < 1e-9).as("builtin_within_tol"))
        .orderBy(col("l_returnflag"))
    }),

    // ── q78: MERGEABLE DISTINCT SKETCHES — Datasketches HLL built per
    // MONTH (`hll_sketch_agg`), merged per year (`hll_union_agg`), and
    // the merged estimate gated against the exact distinct count. The
    // q23 approx operator re-scans the corpus per question; THIS is the
    // 100 TB pattern it's missing: per-partition sketch state is a few
    // KB, persists with the partition, and any rollup (year, decade,
    // ad-hoc ranges) is a merge over sketches — no second pass over the
    // raw data. The estimate itself is engine-specific, so the hashed
    // contract is the exact count plus a 5%-relative-error boolean
    // (default lgConfigK=12 ⇒ ~1.6% σ; 5% is > 3σ).
    "q78_hll_merge" -> ((s, d) => {
      val y = year(col("o_orderdate"))
      val monthly = t(s, d, "orders")
        .groupBy(y.as("y"), month(col("o_orderdate")).as("m"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val merged = monthly.groupBy(col("y"))
        .agg(count(lit(1)).as("n_months"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = t(s, d, "orders")
        .groupBy(y.as("y"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      merged.join(exact, Seq("y"))
        .select(col("y"), col("n_months"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <=
            col("n_exact").cast(DoubleType) * 0.05).as("est_ok"))
        .orderBy(col("y"))
    }),

    // ── q82: HEAVY HITTERS — `approx_top_k` (Spark 4.1), the
    // frequent-items sketch completing the mergeable-sketch family
    // (q78 HLL distinct, q23/q37 approx count/percentile, q27 exact
    // top-k): one pass, fixed memory, partial-aggregable — at 100 TB
    // the per-partition sketches merge like any aggregate state. With
    // column cardinality ≤ maxItemsTracked (5 event types vs 100
    // tracked) the Misra–Gries-style counts are EXACT, so the whole
    // row set is oracle-checked, not tolerance-gated. The sketch's
    // own emission order under count ties is engine-internal, so rank
    // is re-derived with the (count, item) total order.
    "q82_heavy_hitters" -> ((s, d) => {
      val hh = t(s, d, "events")
        .agg(expr("approx_top_k(event_type, 3, 100)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("item").asc)
      hh.withColumn("rank", row_number().over(w).cast(IntegerType))
        .orderBy(col("rank"))
    }),

    // ── q74: LINEAR REGRESSION per group — slope/intercept/R² of
    // price-cents on quantity from the same exact integer moment sums
    // as q72 (order-free, hash-exact), then Spark's built-in
    // `regr_slope`/`regr_intercept`/`regr_r2` pinned against the exact
    // values with relative-tolerance booleans. The built-ins stream in
    // floating point (order-dependent last-ulp results that can't be
    // hash-compared across engines); the moment formulation turns the
    // whole regression into one hash aggregate plus a handful of
    // identical IEEE expressions.
    "q74_regression" -> ((s, d) => {
      val base = momentSums(s, d)
      // A, B, C exact (decimal-128); everything after the casts is the
      // identical IEEE expression tree in both engines
      val (a, b, c) = momentABC
      val nD = col("n").cast(DoubleType)
      val sxD = col("sx").cast(DoubleType)
      val syD = col("sy").cast(DoubleType)
      val slope = a / b
      val icept = syD / nD - slope * (sxD / nD)
      val r2 = (a * a) / (b * c)
      def tol(builtin: Column, exact: Column): Column =
        abs(builtin - exact) <= abs(exact) * 1e-6 + 1e-9
      base.select(col("l_returnflag"), col("n"),
          slope.as("slope"), icept.as("intercept"), r2.as("r2"),
          tol(col("b_slope"), slope).as("slope_tol"),
          tol(col("b_icept"), icept).as("icept_tol"),
          tol(col("b_r2"), r2).as("r2_tol"))
        .orderBy(col("l_returnflag"))
    }),

    // ── q75: INTERVAL CONCURRENCY (sweep line) — peak number of
    // simultaneously open line items (order date → ship date) per
    // month. The scale-correct shape is two-level: the full fact table
    // collapses to ±1 deltas per DAY in one distributed aggregate (key
    // space = #days, corpus-size-independent), and only then does a
    // prefix sum run — a window over ~2.4k day rows, not over the fact
    // table. Concurrency is piecewise constant between change points,
    // so a month's peak is the max over its OBSERVATION points — which
    // must include the month's first day, or concurrency carried over
    // the boundary is missed (Feb peaks at 5, March's only change is a
    // close to 4 → March's true peak is the carried 5) and change-free
    // months vanish entirely. The in-plan month spine (q58's pattern)
    // adds a zero-delta observation at every month start between the
    // corpus bounds, making the reported peak exact for every month.
    // The earliest day attaining the peak is recovered by an integer
    // max_by fold. A naive per-row running count would sort the whole
    // fact in one partition; this never touches more than
    // #days + #months rows after the first aggregate.
    "q75_concurrency" -> ((s, d) => {
      val li = t(s, d, "lineitem").join(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      val opens = li.select(
        datediff(col("o_orderdate"), lit("1970-01-01")).as("day"),
        lit(1L).as("delta"))
      val closes = li.select(
        (datediff(col("l_shipdate"), lit("1970-01-01")) + 1).as("day"),
        lit(-1L).as("delta"))
      val byDay = opens.unionByName(closes)
        .groupBy(col("day")).agg(sum(col("delta")).as("net"))
      def monOf(dcol: Column): Column = {
        val dt = date_add(lit("1970-01-01"), dcol.cast(IntegerType))
        year(dt) * 12 + month(dt) - 1
      }
      // zero-delta observation point at each month's first day
      val spine = byDay
        .agg(monOf(min(col("day"))).as("m0"), monOf(max(col("day"))).as("m1"))
        .select(explode(sequence(col("m0"), col("m1"))).as("midx"))
        .select(
          datediff(make_date(expr("midx div 12"), col("midx") % 12 + 1, lit(1)),
            lit("1970-01-01")).as("day"),
          lit(0L).as("net"))
      val allDays = byDay.unionByName(spine)
        .groupBy(col("day")).agg(sum(col("net")).as("net"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val conc = allDays
        .select(col("day"), sum(col("net")).over(w).as("open"))
        .withColumn("mon_idx", monOf(col("day")).cast(IntegerType))
      // fold = open·10⁶ + (999999 − day): max_by picks max concurrency,
      // ties to the EARLIEST day (exact for epoch days 0..999999)
      conc.groupBy(col("mon_idx"))
        .agg(max(col("open")).as("peak_open"),
          max_by(col("day"),
            col("open") * 1000000L + (lit(999999L) - col("day")))
            .as("first_peak_day"))
        .orderBy(col("mon_idx"))
    }),

    // ── q76: GAPS AND ISLANDS — per-user activity streaks over the
    // events table. The classic day − row_number() island key turns
    // consecutive-day runs into constant groups with NO self-join and
    // no iteration: one shuffle on user_id, one sort per partition,
    // then two small aggregates. Longest-streak ties break to the
    // earliest start via an integer max fold (len·10⁶ + (999999 −
    // start_day) — exact for epoch days 0..999999 inclusive, i.e.
    // through year 4707; the 10⁶−day variant would decode day 0 as
    // 10⁶), so the result is engine-independent without struct
    // ordering (which DuckDB's max_by lacks).
    "q76_streaks" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"),
          datediff(col("ts"), lit("1970-01-01")).as("day"))
        .distinct()
      val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = days
        .withColumn("island", col("day") - row_number().over(wu))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      val fold = col("len") * 1000000L + (lit(999999L) - col("start_day"))
      streaks.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("best_len"),
          (lit(999999L) - max(fold) % 1000000L).as("best_start_day"))
        .orderBy(col("user_id"))
    }),

    // ── q62: FIXED-WIDTH HISTOGRAM — order-value distribution in 50k
    // bins. Binning is a codegen'd per-row floor over the scan feeding
    // one small-key aggregate (bin count ≈ range/width, independent of
    // corpus size), so the full-data histogram costs one map pass + one
    // tiny shuffle at any scale. The floor(v/width) form is stated
    // identically in both engines; Spark's width_bucket would compute
    // the same bins but its clamped formula has no DuckDB twin to pin
    // against.
    "q62_histogram" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / lit(50000.0))
          .cast(IntegerType).as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("bin"))
    }),

    // ── q102: OHLC RESAMPLE — downsample the event stream to hourly
    // bars per event_type: open/close are the first/last value by
    // event time, high/low the extremes. The classic market-data /
    // telemetry reduction. One scan, one aggregate on a key whose
    // cardinality is #types × #hours (independent of row count): at
    // 100 TB this is a map-side-combining hash aggregate, never a
    // window — a row_number-over-window formulation would shuffle the
    // full stream into per-bar sorted partitions just to discard all
    // but two rows. Open/close use min_by/max_by over a collision-free
    // 128-bit event-time⊕id fold (DECIMAL(38,0); an int64 fold breaks
    // past event_id ≈ 1e9 — the gotcha-documented argmax discipline),
    // so ties are impossible and the bars are deterministic.
    "q102_resample_ohlc" -> ((s, d) => {
      val fold = (unix_micros(col("ts")).cast(DecimalType(38, 0))
        * lit(1000000000L) + col("event_id")).as("ord")
      t(s, d, "events")
        .select(col("event_type"), col("value"),
          // integer div, not `/`: Column `/` on longs is DOUBLE
          // division, and truncating its rounded quotient can cross an
          // hour boundary
          expr("(unix_micros(ts) div 3600000000) * 3600000000")
            .as("hr_us"), fold)
        .groupBy(col("event_type"), col("hr_us"))
        .agg(count(lit(1)).as("n"),
          min_by(col("value"), col("ord")).as("open_v"),
          max(col("value")).as("high_v"),
          min(col("value")).as("low_v"),
          max_by(col("value"), col("ord")).as("close_v"))
        .orderBy(col("event_type"), col("hr_us"))
    }),

    // ── q103: EWMA — exponentially weighted moving average of each
    // user's event values, α = 1/2, lookback 8. Formulated as a
    // BOUNDED LAG EXPANSION (nine lag terms over one per-user window)
    // rather than a recursive scan: Spark has no recursive window
    // state, and nine lags over an already-sorted partition are one
    // pass, zero extra shuffles (every lag reuses the same user_id
    // partitioning — same single-shuffle discipline as q57). The
    // power-of-two decay is deliberate: cents·2⁻ᵏ terms are all exact
    // multiples of 2⁻⁸ with ≤39 significant bits, so the sums — and
    // the final IEEE division — are bit-identical in any engine and in
    // any addition order, making an oracle hash match on doubles safe
    // (the same reason the decay is not 0.9). Users are pre-filtered
    // on the partition key, so the pruning happens at the scan.
    "q103_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val terms = (0 to 8).map { k =>
        val wt = math.pow(0.5, k)
        (coalesce(lag(col("cents"), k).over(w).cast(DoubleType)
          * lit(wt), lit(0.0)),
          when(lag(col("cents"), k).over(w).isNotNull, lit(wt))
            .otherwise(lit(0.0)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      t(s, d, "events")
        .filter(pmod(col("user_id"), lit(50)) === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("ewma", num / den)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("cents"), col("ewma"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // ── q104: DISTRIBUTION DRIFT — total-variation distance between
    // the 1995 and 1996 order-value distributions, the data-quality
    // gate a training pipeline runs before admitting a new snapshot.
    // ONE conditional aggregate builds both histograms in a single
    // scan+shuffle (a per-snapshot groupBy + full-outer join would
    // scan and shuffle twice); the grand totals ride a 1-row broadcast.
    // TVD is kept in EXACT integer arithmetic — the per-bin numerator
    // |n_a·N_b − n_b·N_a| over denominator 2·N_a·N_b — because a
    // float p·ln(p/q) PSI would not hash-match across engines; the
    // rational form is engine-independent and loses nothing (the
    // caller divides once at the end).
    "q104_drift_tvd" -> ((s, d) => {
      val o = t(s, d, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(floor(col("o_totalprice") / lit(25000.0))
          .cast(IntegerType).as("bin"))
        .agg(count(when(year(col("o_orderdate")) === 1995, 1)).as("n_a"),
          count(when(year(col("o_orderdate")) === 1996, 1)).as("n_b"))
      val totals = o.agg(sum(col("n_a")).as("tot_a"),
        sum(col("n_b")).as("tot_b"))
      o.crossJoin(broadcast(totals))
        .select(col("bin"), col("n_a"), col("n_b"),
          abs(col("n_a") * col("tot_b") - col("n_b") * col("tot_a"))
            .as("tvd_num"),
          (lit(2L) * col("tot_a") * col("tot_b")).as("tvd_den"))
        .orderBy(col("bin"))
    })
  ))

  val oracles: Map[String, String] = Map(
    "q57_rolling_window" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS n_orders_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q58_gap_fill" ->
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS INTEGER) AS mon_idx,
        |    COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders WHERE o_custkey = 1 GROUP BY 1),
        |b AS (SELECT CAST(MIN(year(o_orderdate)*12 + month(o_orderdate) - 1) AS INTEGER) AS mn,
        |      CAST(MAX(year(o_orderdate)*12 + month(o_orderdate) - 1) AS INTEGER) AS mx
        |      FROM orders),
        |spine AS (SELECT CAST(UNNEST(generate_series(mn, mx)) AS INTEGER) AS mon_idx FROM b)
        |SELECT spine.mon_idx,
        |  CAST(spine.mon_idx // 12 AS INTEGER) AS y,
        |  CAST(spine.mon_idx % 12 + 1 AS INTEGER) AS mon,
        |  CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(COALESCE(m.rev_dec, 0) AS DOUBLE) AS rev
        |FROM spine LEFT JOIN m ON spine.mon_idx = m.mon_idx
        |ORDER BY spine.mon_idx""".stripMargin,

    "q59_forward_fill" ->
      """SELECT event_id, user_id, event_type,
        |  LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q60_rank_distribution" ->
      """SELECT p_partkey, p_brand, p_retailprice,
        |  PERCENT_RANK() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice ASC, p_partkey ASC) AS pct_rank,
        |  CUME_DIST() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice ASC, p_partkey ASC) AS cume,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice ASC, p_partkey ASC) AS INTEGER) AS rn
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q61_argmax_groups" ->
      """SELECT o_orderpriority,
        |  max_by(o_orderkey, CAST(round(o_totalprice * 100) AS HUGEINT) * 1000000000000 + o_orderkey) AS top_orderkey,
        |  min_by(o_orderkey, CAST(round(o_totalprice * 100) AS HUGEINT) * 1000000000000 + o_orderkey) AS bottom_orderkey,
        |  MAX(o_totalprice) AS max_price,
        |  MIN(o_totalprice) AS min_price,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q71_rolling_active" ->
      """WITH p AS (SELECT DISTINCT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
        |    o_custkey AS c
        |  FROM orders),
        |days AS (SELECT DISTINCT day AS d0 FROM p)
        |SELECT d0 AS day, COUNT(DISTINCT c) AS active_30d
        |FROM days JOIN p ON p.day BETWEEN d0 - 29 AND d0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical moment arithmetic: HUGEINT sums, the same three exact
    // integers cast to double, the same single IEEE expression; the
    // tolerance boolean re-derives Pearson r the same way DuckDB's own
    // corr is irrelevant here — the contract is SPARK's builtin vs the
    // exact value, restated as TRUE because the oracle's exact r equals
    // the engine's by construction
    "q72_correlation" ->
      s"""WITH m AS ($momentCteSql)
        |SELECT l_returnflag, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
        |    AS pearson_r,
        |  TRUE AS builtin_within_tol
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // cardinality ≤ tracked slots ⇒ sketch counts are exact: the
    // oracle is the plain grouped count, top-3 by the same total order
    "q82_heavy_hitters" ->
      """WITH c AS (SELECT event_type AS item, COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT item, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item ASC) AS INTEGER) AS rank
        |  FROM c)
        |SELECT item, cnt, rank FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin,

    // the sketch estimate has no cross-engine twin; the hashed contract
    // is the exact distinct count and the tolerance boolean (TRUE)
    "q78_hll_merge" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |  COUNT(DISTINCT month(o_orderdate)) AS n_months,
        |  COUNT(DISTINCT o_custkey) AS n_exact,
        |  TRUE AS est_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // same HUGEINT moments; slope/intercept/R² stated as the identical
    // IEEE expression trees; the builtin-vs-exact booleans restate as
    // TRUE (the contract is Spark's regr_* against the exact value)
    "q74_regression" ->
      s"""WITH m AS ($momentCteSql),
        |e AS (SELECT l_returnflag, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS a,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS b,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS c,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd
        |  FROM m)
        |SELECT l_returnflag, n,
        |  a / b AS slope,
        |  syd / nd - (a / b) * (sxd / nd) AS intercept,
        |  (a * a) / (b * c) AS r2,
        |  TRUE AS slope_tol, TRUE AS icept_tol, TRUE AS r2_tol
        |FROM e ORDER BY l_returnflag""".stripMargin,

    "q75_concurrency" ->
      """WITH li AS (SELECT l.l_shipdate, o.o_orderdate
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |d AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
        |    1 AS delta FROM li
        |  UNION ALL
        |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) + 1 AS INTEGER) AS day,
        |    -1 AS delta FROM li),
        |byday AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM d GROUP BY 1),
        |b AS (SELECT
        |    year(DATE '1970-01-01' + MIN(day)) * 12 + month(DATE '1970-01-01' + MIN(day)) - 1 AS m0,
        |    year(DATE '1970-01-01' + MAX(day)) * 12 + month(DATE '1970-01-01' + MAX(day)) - 1 AS m1
        |  FROM byday),
        |spine AS (SELECT
        |    CAST(datediff('day', DATE '1970-01-01',
        |      make_date(CAST(midx // 12 AS INTEGER), CAST(midx % 12 + 1 AS INTEGER), 1)) AS INTEGER) AS day,
        |    CAST(0 AS BIGINT) AS net
        |  FROM (SELECT UNNEST(generate_series(m0, m1)) AS midx FROM b)),
        |alld AS (SELECT day, CAST(SUM(net) AS BIGINT) AS net
        |  FROM (SELECT * FROM byday UNION ALL SELECT * FROM spine) GROUP BY 1),
        |conc AS (SELECT day,
        |    CAST(SUM(net) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open,
        |    CAST(year(DATE '1970-01-01' + day) * 12
        |      + month(DATE '1970-01-01' + day) - 1 AS INTEGER) AS mon_idx
        |  FROM alld)
        |SELECT mon_idx, MAX(open) AS peak_open,
        |  CAST(max_by(day, open * 1000000 + (999999 - day)) AS INTEGER) AS first_peak_day
        |FROM conc GROUP BY mon_idx ORDER BY mon_idx""".stripMargin,

    "q76_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INTEGER) AS day
        |  FROM events),
        |isl AS (SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM days),
        |st AS (SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS best_len,
        |  CAST(999999 - (MAX(len * 1000000 + (999999 - start_day)) % 1000000) AS BIGINT) AS best_start_day
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q62_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER) AS bin,
        |  COUNT(*) AS n,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same µs-integer hour bucket and the same HUGEINT time⊕id
    // fold under arg_min/arg_max; o/h/l/c are SELECTED doubles (no
    // arithmetic), so they hash bit-exactly
    "q102_resample_ohlc" ->
      """SELECT event_type,
        |  CAST((epoch_us(ts) // 3600000000) * 3600000000 AS BIGINT) AS hr_us,
        |  COUNT(*) AS n,
        |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 1000000000
        |                 + event_id) AS open_v,
        |  MAX(value) AS high_v,
        |  MIN(value) AS low_v,
        |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 1000000000
        |                 + event_id) AS close_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the identical nine-term lag expansion: every cents·2⁻ᵏ product,
    // both sums, and the final division are exact IEEE doubles, so the
    // hash comparison on ewma is safe (power-of-two decay, ≤39
    // significant bits — see the query comment)
    "q103_ewma" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id % 50 = 0),
        |l AS (
        |  SELECT user_id, ts_us, event_id, cents,
        |    LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
        |    LAG(cents, 3) OVER w AS c3, LAG(cents, 4) OVER w AS c4,
        |    LAG(cents, 5) OVER w AS c5, LAG(cents, 6) OVER w AS c6,
        |    LAG(cents, 7) OVER w AS c7, LAG(cents, 8) OVER w AS c8
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, ts_us, event_id, cents,
        |  (CAST(cents AS DOUBLE)
        |   + COALESCE(CAST(c1 AS DOUBLE) * 0.5, 0.0)
        |   + COALESCE(CAST(c2 AS DOUBLE) * 0.25, 0.0)
        |   + COALESCE(CAST(c3 AS DOUBLE) * 0.125, 0.0)
        |   + COALESCE(CAST(c4 AS DOUBLE) * 0.0625, 0.0)
        |   + COALESCE(CAST(c5 AS DOUBLE) * 0.03125, 0.0)
        |   + COALESCE(CAST(c6 AS DOUBLE) * 0.015625, 0.0)
        |   + COALESCE(CAST(c7 AS DOUBLE) * 0.0078125, 0.0)
        |   + COALESCE(CAST(c8 AS DOUBLE) * 0.00390625, 0.0))
        |  /
        |  (1.0
        |   + CASE WHEN c1 IS NULL THEN 0.0 ELSE 0.5 END
        |   + CASE WHEN c2 IS NULL THEN 0.0 ELSE 0.25 END
        |   + CASE WHEN c3 IS NULL THEN 0.0 ELSE 0.125 END
        |   + CASE WHEN c4 IS NULL THEN 0.0 ELSE 0.0625 END
        |   + CASE WHEN c5 IS NULL THEN 0.0 ELSE 0.03125 END
        |   + CASE WHEN c6 IS NULL THEN 0.0 ELSE 0.015625 END
        |   + CASE WHEN c7 IS NULL THEN 0.0 ELSE 0.0078125 END
        |   + CASE WHEN c8 IS NULL THEN 0.0 ELSE 0.00390625 END) AS ewma
        |FROM l ORDER BY user_id, ts_us, event_id""".stripMargin,

    // both histograms from one conditional aggregate, the same exact
    // integer TVD numerator/denominator
    "q104_drift_tvd" ->
      """WITH h AS (
        |  SELECT CAST(FLOOR(o_totalprice / 25000.0) AS INTEGER) AS bin,
        |    COUNT(*) FILTER (WHERE year(o_orderdate) = 1995) AS n_a,
        |    COUNT(*) FILTER (WHERE year(o_orderdate) = 1996) AS n_b
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
        |             CAST(SUM(n_b) AS BIGINT) AS tot_b FROM h)
        |SELECT bin, n_a, n_b,
        |  ABS(n_a * tot_b - n_b * tot_a) AS tvd_num,
        |  2 * tot_a * tot_b AS tvd_den
        |FROM h, t ORDER BY bin""".stripMargin
  )
}
