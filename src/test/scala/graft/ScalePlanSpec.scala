package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Adaptive, RuntimeFilter}
import graft.sources.Partitioned

/** Plan-level assertions for the runtime-adaptivity scale features:
  * dynamic partition pruning (q42), AQE skew-join splitting (q43), and
  * runtime Bloom-filter join pruning (q53). Correctness of all three is
  * the DuckDB oracle's job; these tests pin that the OPTIMIZATION
  * actually engages — a silently-disabled DPP, skew split, or runtime
  * filter would still return correct rows while reading 7× the data (or
  * serializing one reducer, or shuffling the full fact table). */
class ScalePlanSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  test("q42 fact scan carries a runtime partition filter (DPP)") {
    val df = Partitioned.dppJoin(spark, sf)
    df.collect() // execute so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruningexpression in fact scan PartitionFilters:\n$plan")
  }

  test("d13 reassembles documents without any Window operator") {
    // the design point: segment order is restored by array_sort inside
    // the doc_id aggregate — a Window formulation would add a per-doc
    // sort pass over the full segment stream
    val df = SparkEntry.queries("d13_line_dedup")(spark, sf)
    df.collect()
    val windows = PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"d13 should be window-free, found: ${windows.map(_.nodeName)}")
  }

  test("q98 incremental scan prunes to the single unprocessed partition") {
    val (_, incremental) = Partitioned.incrementalRun(spark, sf)
    incremental.collect()
    val scans = PlanWalk.allNodes(incremental.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, "no file scan in the incremental plan")
    for (f <- scans) {
      assert(f.partitionFilters.nonEmpty &&
        f.partitionFilters.mkString(",").contains("2001"),
        s"incremental scan not partition-filtered: ${f.partitionFilters}")
      assert(f.selectedPartitions.partitionCount == 1,
        s"incremental scan read ${f.selectedPartitions.partitionCount} " +
          "partitions, expected exactly the one new ship-year directory")
    }
  }

  test("q99 ANALYZE feeds the optimizer an exact rowCount (non-vacuously)") {
    // rowCount propagation through plan stats is CBO-only — without
    // the flag the visitor reports sizeInBytes alone
    val key = "spark.sql.cbo.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val tbl = graft.sources.Formats.ensureStatsTable(spark, sf)
      val exact = spark.table(tbl).count()
      val withStats = spark.table(tbl).queryExecution.optimizedPlan.stats
      assert(withStats.rowCount.contains(BigInt(exact)),
        s"analyzed table reports rowCount=${withStats.rowCount}, want $exact")
      // contrast arm: the same data as a raw path scan has NO
      // rowCount even under CBO — proving the assertion above tests
      // the ANALYZE plumbing, not a default every relation gets
      val raw = spark.read.parquet(graft.Scratch.dir(spark, "graft_cbo", sf))
      assert(raw.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
        "raw scan unexpectedly carries a rowCount — the pin is vacuous")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("q42 partitioned copy prunes to the dim's years") {
    val dir = Partitioned.ensureShipYearCopy(spark, sf)
    val years = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("l_shipyear=")).map(_.getName).sorted
    // 1995..2001 in the fixture → 7 partition dirs; the q42 dim keeps 2
    assert(years.length == 7, s"expected 7 year partitions, got ${years.toSeq}")
  }

  test("q43 adaptive plan splits the hot partition (skew=true)") {
    // thresholds shrunk to engage at sf0.001's tiny shuffle blocks (the
    // query's 256 KB setting is scaled for the sf0.1 bench corpus)
    Adaptive.withSkewConfs(spark, sizeBytes = 256L) {
      val df = Adaptive.skewedAgg(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split join in the adaptive plan:\n$plan")
    }
  }

  test("q53 fact side carries the injected Bloom filter (might_contain)") {
    RuntimeFilter.withBloomConfs(spark) {
      val df = RuntimeFilter.urgentJoin(spark, sf)
      // the injection is a logical-optimizer rule — visible pre-execution
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom-filter gate on the fact side:\n$plan")
    }
  }

  test("q53 result is invariant under runtime filtering") {
    val base = RuntimeFilter.urgentJoin(spark, sf).collect().toSeq
    val filtered = RuntimeFilter.withBloomConfs(spark) {
      RuntimeFilter.urgentJoin(spark, sf).collect().toSeq
    }
    assert(base == filtered)
  }

  test("q55 plans the monthly aggregate's shuffle once (ReusedExchange)") {
    val df = SparkEntry.queries("q55_exchange_reuse")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("(reuse)"),
      s"expected the total branch to reuse the monthly agg's exchange:\n$plan")
  }

  test("q07 top-k-per-group plans a WindowGroupLimit below the rank window") {
    // the rank<=k filter must push a per-partition group limit under
    // the window (Spark 3.5's WindowGroupLimit): each map task forwards
    // at most k rows per group into the shuffle instead of the whole
    // partition contents being sorted first — the difference between
    // top-3-per-brand shuffling ~3·#brands rows and shuffling the fact
    val df = SparkEntry.queries("q07_topk_per_brand")(spark, sf)
    df.collect()
    val hits = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .count(_.nodeName.contains("WindowGroupLimit"))
    assert(hits > 0, "rank filter did not push a WindowGroupLimit")
  }

  test("q68 SHUFFLE_MERGE hint overrides auto-broadcast") {
    // customer is broadcast-sized at every SF, so without the hint the
    // planner picks BroadcastHashJoin on its own — SortMergeJoin in the
    // executed plan proves the hint, not the stats, chose the strategy
    val df = SparkEntry.queries("q68_join_hints")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected the hinted shuffle join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"auto-broadcast won over the SHUFFLE_MERGE hint:\n$plan")
  }

  test("BROADCAST hint overrides a disabled auto-broadcast threshold") {
    // the reverse direction: thresholds say "never broadcast", the hint
    // says broadcast — the hint must win
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      Tables(spark, sf, "orders").createOrReplaceTempView("orders_bh")
      Tables(spark, sf, "customer").createOrReplaceTempView("customer_bh")
      val df = spark.sql(
        """SELECT /*+ BROADCAST(customer_bh) */ count(*) AS n
          |FROM orders_bh JOIN customer_bh ON o_custkey = c_custkey""".stripMargin)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected the BROADCAST hint to force a broadcast join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q43 result is invariant under skew handling") {
    val base = Adaptive.skewedAgg(spark, sf).collect().toSeq
    val handled = Adaptive.withSkewConfs(spark, sizeBytes = 256L) {
      Adaptive.skewedAgg(spark, sf).collect().toSeq
    }
    assert(base == handled)
  }

  test("q101 manifest pruning skips most files and loses no rows") {
    val (kept, total) =
      Partitioned.manifestPrunedFiles(spark, sf, "1996-01-01", "1996-04-01")
    // non-vacuous in both directions: something survives (the quarter
    // exists) and most of the 16-file range layout is never opened
    assert(kept.nonEmpty, "manifest pruned ALL files for a non-empty quarter")
    assert(kept.size < total / 2,
      s"manifest kept ${kept.size} of $total files — pruning not engaging " +
        "(quarter predicate over a multi-year range layout)")
    val pruned = spark.read.parquet(kept: _*)
    val full = spark.read.parquet(Partitioned.ensureRangeSorted(spark, sf))
    def quarter(df: org.apache.spark.sql.DataFrame) = df
      .filter(org.apache.spark.sql.functions.col("l_shipdate") >= "1996-01-01" &&
        org.apache.spark.sql.functions.col("l_shipdate") < "1996-04-01")
      .count()
    assert(quarter(pruned) == quarter(full))
  }
}
