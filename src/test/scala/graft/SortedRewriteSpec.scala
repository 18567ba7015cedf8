package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sort-ordered OPTIMIZE (q161, `rewrite_data_files_sorted`) — the
  * file-level contract: after churn, plain bin-packed OPTIMIZE leaves
  * one group-wide file per group (a banded read skips NOTHING), while
  * the sorted rewrite's range-clustered files make the same banded
  * read open a strictly smaller fraction — with the planned file set
  * agreeing with the manifest's zone maps, content observationally
  * unchanged, and rows-planned bounded by the band's true row count
  * plus boundary tolerance. */
class SortedRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  test("sorted rewrite restores zone-map skipping on a churned table") {
    val s = spark
    val t = "graft_dml.spec.srw"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // three commits, each spanning the FULL key range [0, 300) —
    // every group's every file then covers everything (churn)
    for (r <- 0 until 3)
      s.sql(s"INSERT INTO $t VALUES " +
        (0 until 300).filter(_ % 3 == r)
          .map(i => s"($i, ${i * 2})").mkString(", "))
    val banded = s"SELECT CAST(SUM(v) AS BIGINT) FROM $t " +
      "WHERE k >= 100 AND k < 200"
    val want = (100 until 200).map(_ * 2L).sum

    RowStoreOps.compact(s, t) // plain bin-pack: 1 group-wide file each
    assert(s.sql(banded).head().getLong(0) == want)
    val plainPlanned = RowStore.lastPlannedBaseFiles.get()
    val plainSkipped = RowStore.lastSkippedBaseFiles.get()
    assert(plainPlanned == 4 && plainSkipped == 0,
      s"bin-packed layout must plan all 4 group files, skip none: " +
        s"$plainPlanned/$plainSkipped")

    val (gs, _, _) = RowStoreOps.compact(s, t, sortCols = Seq("k"))
    assert(gs == Set(0, 1, 2, 3), "sorted rewrite targets every group")
    assert(s.sql(banded).head().getLong(0) == want,
      "the rewrite must be observationally invisible")
    val planned = RowStore.lastPlannedBaseFiles.get()
    val skipped = RowStore.lastSkippedBaseFiles.get()
    assert(skipped > 0, "range-clustered files must skip under the band")
    val frac = planned.toDouble / (planned + skipped)
    assert(frac < 1.0 && frac <= 0.7,
      s"opened fraction must DROP vs plain OPTIMIZE's 1.0: " +
        s"$planned of ${planned + skipped} ($frac)")

    // the planner's file set agrees with the manifest's zone maps,
    // and rows planned are band-sized, not table-sized
    val man = RowStore.readManifest(t, RowStore.currentVersion(t))
    assert(man.forall(_.kind == "base"))
    val intersecting = man.filter(e =>
      e.maxK.exists(_ >= 100L) && e.minK.exists(_ < 200L))
    assert(planned == intersecting.size,
      s"planned $planned vs manifest-intersecting ${intersecting.size}")
    val rowsPlanned = intersecting.flatMap(_.rows).sum
    assert(rowsPlanned < 300,
      s"sorted layout must plan a band-sized row subset, got $rowsPlanned")

    // multi-column lexicographic sort spec: leading-column clustering
    // makes a range predicate on a STRING column skip via the
    // truncated string zone maps
    val t2 = "graft_dml.spec.srw2"
    s.sql(s"DROP TABLE IF EXISTS $t2")
    s.sql(s"CREATE TABLE $t2 (k BIGINT, cat STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    s.sql(s"INSERT INTO $t2 VALUES " +
      (0 until 240).map(i =>
        s"($i, '${('a' + i % 4).toChar}', ${i * 3})").mkString(", "))
    val catBand = s"SELECT CAST(SUM(v) AS BIGINT) FROM $t2 " +
      "WHERE cat >= 'b' AND cat <= 'b'"
    val want2 = (0 until 240).filter(_ % 4 == 1).map(_ * 3L).sum
    assert(s.sql(catBand).head().getLong(0) == want2)
    assert(RowStore.lastSkippedBaseFiles.get() == 0,
      "interleaved layout has nothing to skip on cat")
    RowStoreOps.compact(s, t2, sortCols = Seq("cat", "k"))
    assert(s.sql(catBand).head().getLong(0) == want2)
    assert(RowStore.lastSkippedBaseFiles.get() > 0,
      "cat-leading sort must make the cat band skip files")
    s.sql(s"DROP TABLE $t2")

    // NESTED sort key: the ordered distribution's identity transform
    // reads the dotted name as a field path, and the nested leaf's
    // zone maps make the nested band skip after the rewrite
    val t3 = "graft_dml.spec.srw3"
    s.sql(s"DROP TABLE IF EXISTS $t3")
    s.sql(s"CREATE TABLE $t3 (k BIGINT, props STRUCT<band: BIGINT>) " +
      "PARTITIONED BY (bucket(2, k))")
    s.sql(s"INSERT INTO $t3 VALUES " +
      (0 until 200).map(i =>
        s"($i, named_struct('band', ${i % 50}L))").mkString(", "))
    val nestedBand = s"SELECT CAST(COUNT(*) AS BIGINT) FROM $t3 " +
      "WHERE props.band >= 10 AND props.band < 20"
    assert(s.sql(nestedBand).head().getLong(0) == 40)
    assert(RowStore.lastSkippedBaseFiles.get() == 0,
      "interleaved bands: nothing skippable before the rewrite")
    RowStoreOps.compact(s, t3, sortCols = Seq("props.band"))
    assert(s.sql(nestedBand).head().getLong(0) == 40)
    assert(RowStore.lastSkippedBaseFiles.get() > 0,
      "nested-leaf sort must make the nested band skip files")
    s.sql(s"DROP TABLE $t3")

    // refusal: sorting by a struct column has no zone-map form
    s.sql(s"DROP TABLE IF EXISTS graft_dml.spec.srwn")
    s.sql("CREATE TABLE graft_dml.spec.srwn " +
      "(k BIGINT, p STRUCT<a: BIGINT>)")
    s.sql("INSERT INTO graft_dml.spec.srwn VALUES (1, named_struct('a', 1L))")
    val e = intercept[Exception](
      RowStoreOps.compact(s, "graft_dml.spec.srwn", sortCols = Seq("p")))
    assert(e.getMessage.contains("struct"), e.getMessage)
    s.sql(s"DROP TABLE $t")
    s.sql("DROP TABLE graft_dml.spec.srwn")
  }
}
