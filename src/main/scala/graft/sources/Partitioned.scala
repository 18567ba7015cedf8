package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Hive-style partitioned copies + dynamic partition pruning (DPP).
  *
  * The reference's at-rest layout is date-partitioned parquet
  * (`/root/reference/spark_ingest_script.py:87` `partitionBy(y,m,d)`),
  * and the 100 TB payoff of that layout is PARTITION ELIMINATION: a
  * star-schema query whose dim-side filter implies "only these fact
  * partitions matter" should read only those directories. A static
  * filter prunes at plan time; when the filter arrives through a JOIN,
  * Spark's dynamic partition pruning executes the (broadcast) dim side
  * first and injects the observed key set as a runtime partition filter
  * into the fact scan — `PartitionFilters: [dynamicpruningexpression(...)]`
  * (asserted in PartitionedSpec). On a 7-year corpus filtered to 2
  * years, 5/7 of the fact I/O never happens; at 100 TB that is the
  * difference between a 2-year scan and a full-history scan.
  */
object Partitioned {

  /** Once-per-session ship-year-partitioned copy of lineitem (the write
    * is the amortized at-rest layout cost, as with Bucketing's copies;
    * per-applicationId scratch path, see [[graft.Scratch]]). */
  private[graft] def ensureShipYearCopy(s: SparkSession, d: String): String = {
    val out = graft.Scratch.dir(s, "graft_part", d)
    graft.Scratch.materializeOnce(out) {
      graft.Tables(s, d, "lineitem")
        .withColumn("l_shipyear", year(col("l_shipdate")).cast(IntegerType))
        .write.mode("overwrite").partitionBy("l_shipyear").parquet(out)
    }
  }

  /** The DPP join: fact partitioned by ship year, dim = the distinct
    * order years with a selective predicate. Kept as a method so the
    * spec can assert the runtime partition filter on the exact plan the
    * query runs. */
  private[graft] def dppJoin(s: SparkSession, d: String): DataFrame = {
    val fact = s.read.parquet(ensureShipYearCopy(s, d))
    val dim = graft.Tables(s, d, "orders")
      .select(year(col("o_orderdate")).cast(IntegerType).as("y")).distinct()
      .filter(col("y").between(1996, 1997))
    fact.join(dim, fact("l_shipyear") === dim("y"))
      .groupBy(col("l_shipyear"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      .orderBy(col("l_shipyear"))
  }

  /** Once per session: a partitioned events snapshot, then a DYNAMIC
    * partition overwrite of just the `click` partition (rows re-written
    * with user_id+1). Under the default STATIC mode, `mode(Overwrite)`
    * on a partitioned path deletes EVERY partition first — the classic
    * footgun that turns "refresh today's partition" into "drop the
    * table"; dynamic mode replaces only partitions present in the
    * incoming data, which is how a 100 TB date-partitioned table takes
    * daily restatements. The q46 oracle proves both halves: click rows
    * carry the update AND the untouched partitions survived. */
  private[graft] def ensureDynamicOverwrite(s: SparkSession, d: String): String = {
    val out = graft.Scratch.dir(s, "graft_dynow", d)
    graft.Scratch.materializeOnce(out) {
      val ev = graft.Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      graft.GraftSession.withConfs(s,
          Map("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
        ev.filter(col("event_type") === "click")
          .withColumn("user_id", col("user_id") + lit(1L))
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
      }
    }
  }

  /** Once per session: two daily customer snapshots with SCHEMA DRIFT.
    * The reference re-extracts the full upstream table every day
    * (`/root/reference/spark_ingest_script.py:85-95`, overwrite +
    * saveAsTable per run); within weeks of operating that cadence an
    * upstream ALTER TABLE lands and one day's snapshot carries a column
    * the previous days' don't. Day 1 here is (c_custkey, c_acctbal);
    * day 2 drops every 3rd customer (an ordinary day-over-day delta)
    * and ADDS c_mktsegment. */
  private[graft] def ensureDriftSnapshots(s: SparkSession, d: String): (String, String) = {
    val day1 = graft.Scratch.dir(s, "graft_drift1", d)
    val day2 = graft.Scratch.dir(s, "graft_drift2", d)
    graft.Scratch.materializeOnce(day2) {
      val c = graft.Tables(s, d, "customer")
      c.select(col("c_custkey"), col("c_acctbal"))
        .write.mode("overwrite").parquet(day1)
      c.filter(pmod(col("c_custkey"), lit(3)) =!= 0)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(day2)
    }
    (day1, day2)
  }

  /** The drift-tolerant read: ONE scan over both snapshot dirs with
    * parquet schema merging — pre-drift rows surface NULL for the new
    * column; nothing is rewritten. Kept as a method so SchemaDriftSpec
    * can assert it equals the explicit
    * `unionByName(allowMissingColumns = true)` two-read formulation. */
  private[graft] def driftMergedRead(s: SparkSession, d: String): DataFrame = {
    val (day1, day2) = ensureDriftSnapshots(s, d)
    s.read.option("mergeSchema", "true").parquet(day1, day2)
  }

  /** Once per session: a RANGE-PARTITIONED, WITHIN-PARTITION-SORTED
    * copy of lineitem on `l_shipdate` — the third leg of layout
    * optimization next to directory partitioning (q42) and bucketing
    * (q34). Each output file covers a narrow, near-disjoint shipdate
    * range and its pages are sorted, so a date-range query skips whole
    * files on parquet footer min/max and whole pages on page stats —
    * at 100 TB the difference between scanning a quarter and scanning
    * seven years, WITHOUT the directory explosion a per-day
    * `partitionBy` would create. RangeLayoutSpec pins the per-file
    * span property; the q52 oracle pins row-level correctness. */
  private[graft] def ensureRangeSorted(s: SparkSession, d: String): String = {
    val out = graft.Scratch.dir(s, "graft_range", d)
    graft.Scratch.materializeOnce(out) {
      graft.Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"),
          col("l_extendedprice"))
        .repartitionByRange(16, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** MANIFEST for [[ensureRangeSorted]]'s layout: one row per data file
    * with the sort column's [min,max] — the Iceberg/Delta file-stats
    * record, materialized ONCE at layout-build time as a tiny parquet
    * beside the data. Built with one `_metadata.file_path` groupBy over
    * the fresh layout (at 100 TB you'd harvest the same stats from
    * parquet footers or, better, record them as the writer closes each
    * file — the manifest's CONSUMERS are what this models). */
  private[graft] def ensureRangeManifest(s: SparkSession, d: String): String = {
    val dir = ensureRangeSorted(s, d)
    val man = graft.Scratch.dir(s, "graft_range_manifest", d)
    graft.Scratch.materializeOnce(man) {
      s.read.parquet(dir)
        .groupBy(col("_metadata.file_path").as("f"))
        .agg(min(col("l_shipdate")).as("lo"), max(col("l_shipdate")).as("hi"))
        .coalesce(1)
        .write.mode("overwrite").parquet(man)
    }
  }

  /** Plan-time file pruning off the manifest: the files whose [lo,hi]
    * overlaps [from,until), plus the layout's total file count. The
    * collect is MANIFEST-sized (one row per file — exactly what any
    * table format's planner holds in memory), never data-sized. ONE
    * aggregate returns both the kept list and the total, so planning
    * is a single Spark job. */
  private[graft] def manifestPrunedFiles(s: SparkSession, d: String,
      from: String, until: String): (Seq[String], Int) = {
    val man = s.read.parquet(ensureRangeManifest(s, d))
    // overlap test evaluated IN-PLAN (same string→timestamp coercion as
    // the data filter; driver-side Timestamp math would also have to
    // track the java8 datetime API's row types); collect_list skips the
    // nulls the un-kept files map to
    val row = man.agg(
      sort_array(collect_list(
        when(col("hi") >= from && col("lo") < until, col("f")))).as("keep"),
      count(lit(1)).as("total")).collect()(0)
    (row.getSeq[String](0), row.getLong(1).toInt)
  }

  /** Morton (Z-order) key: bit-interleave two non-negative ints so that
    * a sort by the key clusters rows that are close in BOTH dimensions.
    * Unrolled to 2·bits codegen'd shift/mask ops — stays inside
    * whole-stage codegen, no UDF. */
  /** n-dimensional Morton interleave of pre-normalized [0, 2^bits)
    * long columns — bit i of dimension k lands at output position
    * n*i + k. ONE implementation for both z-order sites (this file's
    * at-rest layout below and the catalog's zorder rewrite in
    * RowStoreOps.compact) so a bit-layout fix reaches both. Pure
    * codegen'd shift/mask ops, no UDF. */
  private[sources] def mortonInterleave(
      dims: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    val n = dims.length
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      dims.zipWithIndex.foldLeft(acc) { case (a, (d, k)) =>
        a.bitwiseOR(shiftleft(
          shiftright(d, i).bitwiseAND(lit(1L)), n * i + k))
      }
    }
  }

  private def zValue(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    mortonInterleave(Seq(a, b), bits)

  /** Once per session: a Z-ORDERED copy of lineitem on
    * (l_shipdate, l_partkey) — the multi-dimensional extension of q52's
    * single-column range layout. A range sort on shipdate gives perfect
    * date skipping but ZERO partkey skipping (every file spans all
    * parts); interleaving the two keys' bits bounds every file's extent
    * in BOTH dimensions, so footer min/max stats prune files for
    * date-only, part-only, AND date×part predicates. This is the
    * standard at-rest layout for multi-predicate fact tables at 100 TB
    * (Delta/Iceberg `ZORDER BY`), here expressed with nothing but
    * codegen'd bit ops + repartitionByRange. ZOrderLayoutSpec pins the
    * both-dims file-pruning property; the q54 oracle pins row parity.
    *
    * Both dimensions are NORMALIZED to a common 12-bit scale before
    * interleaving (the observed [min,max] stretched over 0..4095, the
    * Delta/Iceberg approach of z-ordering positions, not raw values).
    * Interleaving raw values breaks the curve whenever the domains'
    * magnitudes differ: at sf0.001 partkey fills only 8 of 12 bits, so
    * every high-order interleaved bit came from the date and part
    * locality vanished entirely (measured: a 10%-wide part window hit
    * 16/16 files; normalized it hits 4). The min/max stats ride the
    * plan as a broadcast scalar row — no driver-side collect. */
  private[graft] def ensureZOrdered(s: SparkSession, d: String): String = {
    val out = graft.Scratch.dir(s, "graft_zorder", d)
    graft.Scratch.materializeOnce(out) {
      def norm(c: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column) =
        (c - lo).cast(LongType) * 4096L / (hi - lo + 1).cast(LongType)
      val base = graft.Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_partkey"),
          col("l_quantity"))
        .withColumn("dd", datediff(col("l_shipdate"), lit("1995-01-01")))
      val stats = base.agg(min(col("dd")).as("ddlo"), max(col("dd")).as("ddhi"),
        min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"))
      val zv = zValue(norm(col("dd"), col("ddlo"), col("ddhi")),
        norm(col("l_partkey"), col("plo"), col("phi")), 12)
      // 64 range chunks = the top 3 interleaved bits of EACH dimension:
      // an 8×8 grid, so a ~10%-wide window in either dimension overlaps
      // 1–2 strips (≤16 of 64 files) even when it straddles a boundary
      base.crossJoin(broadcast(stats))
        .repartitionByRange(64, zv)
        .sortWithinPartitions(zv)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_partkey"),
          col("l_quantity"))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** INCREMENTAL PARTITION PROCESSING — the pattern the reference's
    * daily cadence actually wants (its Airflow DAG re-reads and
    * overwrites EVERYTHING every run,
    * `/root/reference/spark_ingest_script.py:85-95`): keep an
    * accumulated state table, and each run scans ONLY the partitions
    * that arrived since — here the latest ship-year against a state of
    * all prior years. The new-partition read is a static partition
    * filter on the hive-layout copy, so the scan lists and reads ONE
    * directory regardless of history size (ScalePlanSpec pins the
    * pruned scan); at 100 TB the run cost tracks the DAY'S data, not
    * the table's. Returned split (state, incremental) so the spec can
    * pin the incremental plan in isolation. */
  private[graft] def incrementalRun(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dir = ensureShipYearCopy(s, d)
    val state = graft.Scratch.dir(s, "graft_incr_state", d)
    def aggYears(df: DataFrame) = df
      .groupBy(col("l_shipyear"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
    graft.Scratch.materializeOnce(state) {
      // "yesterday's" accumulated state: every year but the newest
      aggYears(s.read.parquet(dir).filter(col("l_shipyear") < 2001))
        .write.mode("overwrite").parquet(state)
    }
    val incremental =
      aggYears(s.read.parquet(dir).filter(col("l_shipyear") === 2001))
    (s.read.parquet(state), incremental)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    "q42_dpp_join" -> ((s, d) => dppJoin(s, d)),

    // ── q98: the incremental run end-to-end — prior-state years merge
    // with the one freshly-scanned partition; the combined table must
    // equal the full-history aggregate (so a partition missed or
    // double-counted by the incremental path breaks the hash).
    "q98_incremental_partitions" -> ((s, d) => {
      val (state, incremental) = incrementalRun(s, d)
      state.withColumn("src", lit("state"))
        .unionByName(incremental.withColumn("src", lit("incremental")))
        .orderBy(col("l_shipyear"))
    }),

    // ── q54: a date×part box query over the Z-ordered layout — both
    // pushed predicates prune files via footer stats; results must
    // equal the flat table. The part range sits inside the smallest
    // SF's key domain so the row is non-vacuous at every scale.
    "q54_zorder_layout" -> ((s, d) => {
      s.read.parquet(ensureZOrdered(s, d))
        .filter(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1997-07-01" &&
          col("l_partkey") >= 40 && col("l_partkey") < 160)
        .groupBy(month(col("l_shipdate")).cast(IntegerType).as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy(col("m"))
    }),

    // ── q52: a quarter-scoped aggregate over the range-sorted layout —
    // the pushed l_shipdate range prunes most files via footer stats
    // before any row is read; results must equal the flat table.
    // ── q101: MANIFEST FILE SKIPPING — answer q52's quarter query by
    // consulting the file-stats manifest at PLAN time and handing the
    // scan only the files whose [min,max] overlap the predicate — the
    // Iceberg/Delta scan-planning loop, distinct in kind from q52
    // (which reads the whole listing and relies on parquet footer
    // pruning inside each task: that still pays listing, scheduling,
    // and footer reads for every file; the manifest path never opens
    // the skipped 14/16 at all — at 100 TB the difference between
    // touching a quarter's files and touching the table's).
    // ManifestSkipSpec pins that files-pruned property; the oracle
    // pins that pruning lost no rows. The residual filter stays on the
    // scan — file bounds admit whole files, not rows.
    "q101_manifest_skip" -> ((s, d) => {
      val (files, _) = manifestPrunedFiles(s, d, "1996-01-01", "1996-04-01")
      s.read.parquet(files: _*)
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy(month(col("l_shipdate")).cast(IntegerType).as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy(col("m"))
    }),

    "q52_range_layout" -> ((s, d) => {
      // half-open bounds: shipdates are TIMESTAMPs, and a closed
      // BETWEEN '…-03-31' would silently drop Mar 31 intra-day times
      s.read.parquet(ensureRangeSorted(s, d))
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy(month(col("l_shipdate")).cast(IntegerType).as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy(col("m"))
    }),

    // ── q50: aggregate ACROSS the drifted snapshots — the day the
    // upstream adds a column must not break (or silently drop) history.
    // Pre-drift rows land in a sentinel group via coalesce.
    "q50_schema_drift" -> ((s, d) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      driftMergedRead(s, d)
        .groupBy(coalesce(col("c_mktsegment"), lit("(pre-drift)")).as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("bal_sum"))
        .orderBy(col("segment"))
    }),

    "q46_dynamic_overwrite" -> ((s, d) => {
      s.read.parquet(ensureDynamicOverwrite(s, d))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
        .orderBy(col("event_type"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // state + incremental must reassemble the full history exactly
    "q98_incremental_partitions" ->
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS l_shipyear,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CASE WHEN year(l_shipdate) < 2001 THEN 'state'
        |       ELSE 'incremental' END AS src
        |FROM lineitem GROUP BY 1, 4 ORDER BY 1""".stripMargin,

    // the partitioned copy must not change the answer: the oracle is the
    // same join over the flat table
    "q42_dpp_join" ->
      """WITH dim AS (SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS y
        |             FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1997)
        |SELECT CAST(year(l_shipdate) AS INTEGER) AS l_shipyear,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN dim ON CAST(year(l_shipdate) AS INTEGER) = y
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the layout rewrite must be row-invariant: same quarter aggregate
    // as the flat table
    "q52_range_layout" ->
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS m, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q52's oracle verbatim: manifest pruning must be invisible in the
    // result — any file wrongly skipped breaks the hash
    "q101_manifest_skip" ->
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS m, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Z-order rewrite must be row-invariant: same box aggregate as
    // the flat table
    "q54_zorder_layout" ->
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS m, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-07-01'
        |  AND l_partkey >= 40 AND l_partkey < 160
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // union-by-name restatement of the two snapshots: day 1 without the
    // drifted column, day 2 (every 3rd customer dropped) with it
    "q50_schema_drift" ->
      """WITH u AS (
        |  SELECT c_custkey, c_acctbal, NULL AS c_mktsegment FROM customer
        |  UNION ALL BY NAME
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |  WHERE c_custkey % 3 <> 0)
        |SELECT COALESCE(c_mktsegment, '(pre-drift)') AS segment,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // click rows updated, every other partition intact — a static-mode
    // leak would collapse the non-click groups to zero rows
    "q46_dynamic_overwrite" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(user_id + CASE WHEN event_type = 'click'
        |                          THEN 1 ELSE 0 END) AS BIGINT) AS user_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
