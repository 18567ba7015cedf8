package graft

import org.scalatest.funsuite.AnyFunSuite

/** Z-order rewrite (q166, `rewrite_data_files_sorted(t,
  * 'zorder(a,b)')`) — the file-level contract the query row can't
  * see: after the Morton rewrite, banded reads on EACH declared
  * dimension open a MINORITY of files (lexicographic sort gives the
  * second dimension nothing), the normalization bounds come from the
  * manifest's zone maps alone, and the spec surface refuses bad
  * specs loudly. */
class ZOrderRewriteSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  test("z-order rewrite cuts the opened fraction on BOTH dimensions") {
    val s = spark
    val t = "graft_dml.spec.zrw"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, p BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // two decorrelated dimensions: p walks a coprime stride so a k
    // band says nothing about p and vice versa
    for (r <- 0 until 2)
      s.sql(s"INSERT INTO $t VALUES " +
        (0 until 512).filter(_ % 2 == r)
          .map(i => s"($i, ${(i * 199) % 512}, $i)").mkString(", "))
    def band(c: String) =
      s"SELECT CAST(SUM(v) AS BIGINT) FROM $t " +
        s"WHERE $c >= 128 AND $c < 256"
    val wantK = (128 until 256).map(_.toLong).sum
    val wantP = (0 until 512).filter(i => { val p = (i * 199) % 512
      p >= 128 && p < 256 }).map(_.toLong).sum

    RowStoreOps.compact(s, t) // plain bin-pack
    assert(s.sql(band("k")).head().getLong(0) == wantK)
    assert(lake.lastSkippedBaseFiles.get() == 0)
    assert(s.sql(band("p")).head().getLong(0) == wantP)
    assert(lake.lastSkippedBaseFiles.get() == 0)

    // lexicographic on (k, p): k skips, p does NOT (the bias q166's
    // zorder exists to fix)
    RowStoreOps.compact(s, t, sortCols = Seq("k", "p"))
    assert(s.sql(band("p")).head().getLong(0) == wantP)
    assert(lake.lastSkippedBaseFiles.get() == 0,
      "lexicographic leading-k layout must not skip on p")

    val (gs, _, _) = RowStoreOps.compact(s, t, zorderCols = Seq("k", "p"))
    assert(gs == Set(0, 1, 2, 3), "zorder rewrite targets every group")
    // the q161 opened-fraction contract, now on BOTH dimensions: a
    // quarter-width band must open at most 0.7 of the files (the
    // exact fraction depends on the session's range-slice count; at
    // any slice count ≥ 4 the band's z-region misses at least the
    // opposite half of its own dimension)
    def frac(c: String, want: Long): Double = {
      assert(s.sql(band(c)).head().getLong(0) == want,
        "the rewrite must be observationally invisible")
      val planned = lake.lastPlannedBaseFiles.get()
      val skipped = lake.lastSkippedBaseFiles.get()
      assert(skipped > 0, s"$c band must skip under the z layout")
      planned.toDouble / (planned + skipped)
    }
    val fk = frac("k", wantK)
    assert(fk <= 0.7, s"k band opened fraction $fk")
    val fp = frac("p", wantP)
    assert(fp <= 0.7, s"p band opened fraction $fp")
    s.sql(s"DROP TABLE $t")
  }

  test("clustering_quality is manifest-only and tracks the rewrite") {
    val s = spark
    import graft.sources.RowFiles
    val t = "graft_dml.spec.cq"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cat STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    for (r <- 0 until 2)
      s.sql(s"INSERT INTO $t VALUES " +
        (0 until 200).filter(_ % 2 == r)
          .map(i => s"($i, 'c', $i)").mkString(", "))
    val opened0 = RowFiles.filesOpened.get()
    val (nf, qBefore) = RowStoreOps.clusteringQuality(t, "k")
    // zero data files opened: the metric folds manifest zone maps only
    assert(RowFiles.filesOpened.get() == opened0,
      "clustering_quality must not open data files")
    assert(nf >= 2 && qBefore > 0.8,
      s"churned layout must read ~1.0: files=$nf q=$qBefore")
    RowStoreOps.compact(s, t, sortCols = Seq("k"))
    val (_, qAfter) = RowStoreOps.clusteringQuality(t, "k")
    assert(qAfter < qBefore && qAfter < 0.5,
      s"sorted rewrite must collapse quality: $qBefore -> $qAfter")
    // statless column refuses instead of answering wrong
    val e = intercept[Exception] {
      RowStoreOps.clusteringQuality(t, "cat")
    }
    assert(e.getMessage.contains("undefined"), e.getMessage)
    s.sql(s"DROP TABLE $t")
  }

  test("zorder spec validation refuses loudly") {
    val s = spark
    val t = "graft_dml.spec.zrwv"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cat STRING, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 'a', 1), (2, 'b', 2)")
    // one column is not a space-filling curve
    val e1 = intercept[Exception] {
      RowStoreOps.compact(s, t, zorderCols = Seq("k"))
    }
    assert(e1.getMessage.contains("2-4 columns"), e1.getMessage)
    // string columns have no normalized Morton position
    val e2 = intercept[Exception] {
      RowStoreOps.compact(s, t, zorderCols = Seq("k", "cat"))
    }
    assert(e2.getMessage.contains("BIGINT or INT"), e2.getMessage)
    // both specs at once is ambiguous
    val e3 = intercept[Exception] {
      RowStoreOps.compact(s, t, sortCols = Seq("k"),
        zorderCols = Seq("k", "v"))
    }
    assert(e3.getMessage.contains("not both"), e3.getMessage)
    // the CALL surface parses zorder(...) and refuses the empty form
    val e4 = intercept[Exception] {
      s.sql("CALL graft_dml.system.rewrite_data_files_sorted" +
        "('spec.zrwv', 'zorder()')").collect()
    }
    assert(e4.getMessage.contains("sort_col"), e4.getMessage)
    // whitespace/comma variants parse to zero columns — same refusal
    val e5 = intercept[Exception] {
      s.sql("CALL graft_dml.system.rewrite_data_files_sorted" +
        "('spec.zrwv', 'zorder( , )')").collect()
    }
    assert(e5.getMessage.contains("at least one column"), e5.getMessage)
    s.sql(s"DROP TABLE $t")
  }

  test("a column literally named zorder sorts, not silently bin-packs") {
    val s = spark
    val t = "graft_dml.spec.zrname"
    s.sql(s"DROP TABLE IF EXISTS $t")
    // 'zorder' was the handshake's preserve-layout sentinel before the
    // prefix-typed segment codec ('sort=' / 'layout=preserve'); a sort
    // column of that name silently degraded to an unsorted bin-pack
    s.sql(s"CREATE TABLE $t (k BIGINT, zorder BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    for (r <- 0 until 2)
      s.sql(s"INSERT INTO $t SELECT id, id * 3 FROM range(0, 200) " +
        s"WHERE id % 2 = $r")
    val (_, qBefore) = RowStoreOps.clusteringQuality(t, "zorder")
    RowStoreOps.compact(s, t, sortCols = Seq("zorder"))
    val (_, qAfter) = RowStoreOps.clusteringQuality(t, "zorder")
    assert(qBefore > 0.8 && qAfter < 0.5,
      s"sorted rewrite on a column named zorder must cluster: " +
        s"$qBefore -> $qAfter")
    s.sql(s"DROP TABLE $t")
  }

  test("clustering_quality reads 1.0 on a single-value domain") {
    val s = spark
    val t = "graft_dml.spec.cqone"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, c BIGINT)")
    s.sql(s"INSERT INTO $t SELECT id, 42 FROM range(0, 50)")
    // every file trivially spans the degenerate domain — by the
    // metric's contract that is maximal extent (1.0), not the 0.0 the
    // ratio formula yields by arithmetic accident
    val (_, q) = RowStoreOps.clusteringQuality(t, "c")
    assert(q == 1.0, s"single-value domain quality was $q")
    s.sql(s"DROP TABLE $t")
  }

  test("zorder rewrite clamps delta rows outside the base-file bounds") {
    val s = spark
    val t = "graft_dml.spec.zrclamp"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, p BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t SELECT id, id * 2, id FROM range(0, 100)")
    // MOR merge-inserts land as DELTA records — their values never
    // enter the base files' zone maps the normalization folds, so
    // they normalize out of [0, 2^bits) and must CLAMP to the edge
    // cells, not alias across the curve
    s.sql(s"""MERGE INTO $t x
      USING (SELECT * FROM VALUES (5000L, -3000L, 1L), (9000L, 7000L, 2L)
        AS m(k, p, v)) m ON x.k = m.k
      WHEN NOT MATCHED THEN INSERT *""")
    val pre = s.sql(s"SELECT k, p, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    RowStoreOps.compact(s, t, zorderCols = Seq("k", "p"))
    val post = s.sql(s"SELECT k, p, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(post == pre, "zorder rewrite must preserve content exactly")
    s.sql(s"DROP TABLE $t")
  }
}
