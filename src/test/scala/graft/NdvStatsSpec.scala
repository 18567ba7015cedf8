package graft

import org.scalatest.funsuite.AnyFunSuite

/** NDV statistics (q155) end to end: the KMV sketch's accuracy
  * contract, the DSv2 ColumnStatistics channel populating catalyst's
  * attributeStats under CBO, join-output cardinality estimated FROM
  * the reported NDV, and the concrete planning consequence — the
  * downstream broadcast decision flips with the stats present
  * (q99/q122's contrast-arm discipline). */
class NdvStatsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val s = spark
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("KMV sketch: exact under K distinct, ~±10% above, file-mergeable") {
    import RowStore.Kmv
    // direct estimator checks on synthetic hash populations
    val rnd = new scala.util.Random(7)
    def sketchOf(n: Int): Seq[Long] = {
      val hashes = (0 until n).map(_ => rnd.nextLong()).distinct
      hashes.sorted(Ordering.fromLessThan[Long](
        java.lang.Long.compareUnsigned(_, _) < 0)).take(Kmv.K)
    }
    assert(Kmv.estimate(sketchOf(100)) == 100L)
    val est = Kmv.estimate(sketchOf(50000))
    assert(math.abs(est - 50000L) < 7500L, s"KMV estimate off: $est")
    // merge == sketch-of-union (the property per-file folding needs)
    val a = sketchOf(10000)
    val b = sketchOf(10000)
    val merged = Kmv.merge(a, b)
    assert(merged.size == Kmv.K &&
      merged == merged.sorted(Ordering.fromLessThan[Long](
        java.lang.Long.compareUnsigned(_, _) < 0)))
  }

  test("reported NDV reaches attributeStats and join cardinality under CBO") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ndva")
    s.sql("CREATE TABLE graft_dml.spec.ndva (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('ndv'='k')")
    s.range(0, 400).selectExpr("id AS k", "id * 10 AS v")
      .writeTo("graft_dml.spec.ndva").append()
    // two commits so the plan-time fold genuinely merges sketches
    s.range(400, 800).selectExpr("id AS k", "id * 10 AS v")
      .writeTo("graft_dml.spec.ndva").append()
    assert(RowStoreOps.columnNdv("graft_dml.spec.ndva", "k")
      .exists(n => math.abs(n - 800L) <= 80L))

    withConfs("spark.sql.cbo.enabled" -> "true") {
      val df = s.table("graft_dml.spec.ndva")
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(800)))
      val kStat = stats.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.exists(_.distinctCount.exists(n =>
        (n - 800).abs <= 80)),
        s"attributeStats missing/wrong NDV for k: $kStat")
      assert(kStat.exists(_.min.contains(0L)) &&
        kStat.exists(_.max.contains(799L)),
        "zone-map min/max must ride along for plain long columns")

      // join-output cardinality estimated from the NDV: 800 × 800 /
      // max(800, 800) = 800 — without colstats this is None
      s.sql("DROP TABLE IF EXISTS graft_dml.spec.ndvb")
      s.sql("CREATE TABLE graft_dml.spec.ndvb (k BIGINT, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('ndv'='k')")
      s.range(0, 800).selectExpr("id AS k", "id + 5 AS w")
        .writeTo("graft_dml.spec.ndvb").append()
      val joined = df.join(s.table("graft_dml.spec.ndvb"), "k")
      val jr = joined.queryExecution.optimizedPlan.stats.rowCount
      assert(jr.exists(n => n >= 700 && n <= 900),
        s"NDV-driven join estimate expected ~800 rows, got $jr")
    }
  }

  test(".column_stats answers from manifests alone (zero file opens)") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cst")
    s.sql("CREATE TABLE graft_dml.spec.cst (k BIGINT, tag STRING) " +
      "TBLPROPERTIES ('ndv'='tag')")
    s.range(0, 40).selectExpr("id AS k", "concat('t', id % 4) AS tag")
      .writeTo("graft_dml.spec.cst").append()
    val pre = graft.sources.RowFiles.filesOpened.get()
    val rows = s.table("graft_dml.spec.cst.column_stats").collect()
    assert(graft.sources.RowFiles.filesOpened.get() == pre,
      ".column_stats must be pure manifest metadata")
    assert(rows.length == 1 && rows.head.getString(0) == "tag" &&
      rows.head.getLong(1) == 4L && rows.head.getLong(2) == 0L)
    // a dirty snapshot surfaces NULL, mirroring the scan's refusal
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cstm")
    s.sql("CREATE TABLE graft_dml.spec.cstm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor','ndv'='v')")
    s.sql("INSERT INTO graft_dml.spec.cstm VALUES (1, 10), (2, 20)")
    s.sql("DELETE FROM graft_dml.spec.cstm WHERE k = 1")
    val dirty = s.table("graft_dml.spec.cstm.column_stats").collect()
    assert(dirty.length == 1 && dirty.head.isNullAt(1) &&
      dirty.head.isNullAt(2))
    s.sql("DROP TABLE graft_dml.spec.cst")
    s.sql("DROP TABLE graft_dml.spec.cstm")
  }

  test("an all-NULL file records a valid empty sketch, not a gap") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ndvn")
    s.sql("CREATE TABLE graft_dml.spec.ndvn (k BIGINT, tag STRING) " +
      "TBLPROPERTIES ('ndv'='tag')")
    s.range(0, 50).selectExpr("id AS k", "concat('t', id % 5) AS tag")
      .writeTo("graft_dml.spec.ndvn").append()
    // second commit: tag entirely NULL — its file must still carry a
    // sketch entry (0 distinct, 50 nulls) or the table-wide fold
    // would refuse and q155-style consumers would crash
    s.range(50, 100).selectExpr("id AS k", "CAST(NULL AS STRING) AS tag")
      .writeTo("graft_dml.spec.ndvn").append()
    assert(RowStoreOps.columnNdv("graft_dml.spec.ndvn", "tag")
      .contains(5L))
    withConfs("spark.sql.cbo.enabled" -> "true") {
      val st = s.table("graft_dml.spec.ndvn")
        .queryExecution.optimizedPlan.stats
      val tagStat = st.attributeStats.find(_._1.name == "tag").map(_._2)
      assert(tagStat.exists(_.nullCount.exists(_ == 50)), s"$tagStat")
    }
    s.sql("DROP TABLE graft_dml.spec.ndvn")
  }

  test("compute_table_stats retro-fits sketches onto an existing table") {
    val s = spark
    // created WITHOUT the ndv property — write-time tracking never ran
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.anlz")
    s.sql("CREATE TABLE graft_dml.spec.anlz " +
      "(k BIGINT, tag STRING) PARTITIONED BY (bucket(4, k))")
    s.range(0, 600).selectExpr("id AS k",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('t', id % 7) END AS tag")
      .writeTo("graft_dml.spec.anlz").append()
    assert(RowStoreOps.columnNdv("graft_dml.spec.anlz", "k").isEmpty,
      "no sketches before ANALYZE")
    val res = s.sql("CALL graft_dml.system.compute_table_stats(" +
      "'spec.anlz', 'k,tag')").head()
    assert(res.getInt(0) == 4 && res.getInt(1) == 2)
    assert(RowStoreOps.columnNdv("graft_dml.spec.anlz", "k")
      .exists(n => (n - 600L).abs <= 60L))
    assert(RowStoreOps.columnNdv("graft_dml.spec.anlz", "tag")
      .contains(7L), "under-K cardinality must be exact; NULLs excluded")
    // the property sticks: subsequent writes keep the stats current
    s.range(600, 700).selectExpr("id AS k", "'fresh' AS tag")
      .writeTo("graft_dml.spec.anlz").append()
    assert(RowStoreOps.columnNdv("graft_dml.spec.anlz", "tag")
      .contains(8L), "post-ANALYZE writes must extend the sketches")
    // and the fold reaches CBO like write-time sketches do
    withConfs("spark.sql.cbo.enabled" -> "true") {
      val st = s.table("graft_dml.spec.anlz")
        .queryExecution.optimizedPlan.stats
      val kStat = st.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.exists(_.distinctCount.exists(n => (n - 700).abs <= 70)))
      val tagStat = st.attributeStats.find(_._1.name == "tag").map(_._2)
      assert(tagStat.exists(_.nullCount.exists(_ == 200)),
        s"null count must fold (200 of the first 600 rows): $tagStat")
    }
    // dirty snapshots refuse (the scan's own rule)
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.anlzm")
    s.sql("CREATE TABLE graft_dml.spec.anlzm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.anlzm VALUES (1, 10), (2, 20)")
    s.sql("DELETE FROM graft_dml.spec.anlzm WHERE k = 1")
    val e = intercept[Exception](RowStoreOps.computeTableStats(
      s, "graft_dml.spec.anlzm", Seq("k")))
    assert(e.getMessage.contains("clean snapshot"))
    s.sql("DROP TABLE graft_dml.spec.anlz")
    s.sql("DROP TABLE graft_dml.spec.anlzm")
  }

  test("the downstream broadcast decision flips under reported NDV") {
    val s = spark
    // A and B are small enough to broadcast from their exact row
    // counts in BOTH arms (join #1 is always a BHJ — the control);
    // the probe side C is row-heavy, far past the threshold. The
    // DIFFERENTIATOR is join #2's build side = the OUTPUT of A⋈B:
    // with reported NDV the estimator knows A⋈B ≈ 2000 rows (tiny,
    // broadcast into C); without column stats the join's size falls
    // back to the input-size product (huge, sort-merge). Only the
    // NDV makes the intermediate result's smallness knowable.
    def mk(name: String, props: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS graft_dml.spec.$name")
      s.sql(s"CREATE TABLE graft_dml.spec.$name (k BIGINT, v BIGINT) " +
        props)
      s.range(0, 2000).selectExpr("id AS k", "id * 3 AS v")
        .writeTo(s"graft_dml.spec.$name").append()
    }
    mk("fa", "TBLPROPERTIES ('ndv'='k')")
    mk("fb", "TBLPROPERTIES ('ndv'='k')")
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.fc")
    s.sql("CREATE TABLE graft_dml.spec.fc (k BIGINT)")
    s.range(0, 200000).selectExpr("id % 2000 AS k")
      .writeTo("graft_dml.spec.fc").append()
    def nBhj(): Int = withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (200 * 1024).toString) {
      val a = s.table("graft_dml.spec.fa")
      val b = s.table("graft_dml.spec.fb").selectExpr("k", "v AS w")
      val c = s.table("graft_dml.spec.fc")
      val q = a.join(b, "k").join(c, "k")
      q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins
          .BroadcastHashJoinExec => j
      }.size
    }
    val withNdv = nBhj()
    // contrast arm: identical data, row counts, and sizes — only the
    // ndv property differs
    mk("fa", "")
    mk("fb", "")
    val withoutNdv = nBhj()
    assert(withNdv == 2 && withoutNdv == 1,
      s"expected the NDV arm to broadcast the A-join-B intermediate " +
        s"into C where the statless arm cannot size it (got " +
        s"$withNdv vs $withoutNdv BroadcastHashJoins)")
    Seq("fa", "fb", "fc", "ndva", "ndvb").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft_dml.spec.$t"))
  }
}
