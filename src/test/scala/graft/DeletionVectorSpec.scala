package graft

import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors (q154, TBLPROPERTIES('deletes'='dv')) — the
  * file-level contract the query row can't see: ONE bitmap blob per
  * touched data file regardless of deleted-row count (a second delete
  * commit REPLACES the file's vector with the union, never stacks a
  * second entry), no base file ever rewritten, the change feed
  * identical to the record-based MOR path, and equality-delete
  * interleave still ordered (resurrection semantics survive the
  * vector encoding). */
class DeletionVectorSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.RowStore

  private def entries(key: String) =
    lake.readManifest(key, lake.currentVersion(key))

  test("one vector per touched file; second delete merges, not stacks") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.dv")
    s.sql("CREATE TABLE graft_dml.spec.dv (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) " +
      "TBLPROPERTIES ('format'='mor','deletes'='dv')")
    s.sql("INSERT INTO graft_dml.spec.dv VALUES " +
      (0 until 12).map(i => s"($i, ${i * 10})").mkString(", "))
    val key = "graft_dml.spec.dv"
    val baseNames = entries(key).filter(_.kind == "base").map(_.name)
    assert(baseNames.size == 2, "one base file per bucket")

    // first delete: k % 3 = 0 hits both buckets → one vector per file,
    // NO positional delete records, NO base rewrite
    s.sql("DELETE FROM graft_dml.spec.dv WHERE k % 3 = 0")
    val e1 = entries(key)
    assert(e1.filter(_.kind == "base").map(_.name) == baseNames,
      "deletes must never rewrite base files")
    assert(e1.count(_.kind == "dv") == 2, "one vector per touched file")
    assert(!e1.exists(_.kind == "delta"),
      "a pure delete in dv mode writes no positional records")
    val dv1Names = e1.filter(_.kind == "dv").map(_.name).toSet

    // second delete: k % 4 = 2 (all even keys → only bucket 0's file
    // is touched again). Its vector is REPLACED by the merged one;
    // bucket 1's untouched vector is retained verbatim — still
    // exactly one vector per file either way.
    s.sql("DELETE FROM graft_dml.spec.dv WHERE k % 4 = 2")
    val e2 = entries(key)
    assert(e2.count(_.kind == "dv") == 2,
      "a file has AT MOST ONE vector however many deletes touched it")
    assert(e2.filter(_.kind == "dv").map(_.name).toSet
      .intersect(dv1Names).size == 1,
      "the touched file's vector is replaced; the untouched one kept")
    assert(e2.filter(_.kind == "base").map(_.name) == baseNames)

    val want = (0 until 12).filterNot(i => i % 3 == 0 || i % 4 == 2)
      .map(_.toLong)
    assert(s.table(key).orderBy("k").collect().map(_.getLong(0)).toSeq
      == want)

    // time travel: the first delete's snapshot still resolves through
    // its own (un-merged) vector
    val v2 = s.sql(s"SELECT k FROM $key VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(v2 == (0 until 12).filterNot(_ % 3 == 0).map(_.toLong))

    // OPTIMIZE folds vectors away like delta records — content
    // invariant, groups clean after
    graft.sources.RowStoreOps.compact(s, key)
    val e3 = entries(key)
    assert(!e3.exists(_.kind != "base"), "compaction drops vectors")
    assert(s.table(key).orderBy("k").collect().map(_.getLong(0)).toSeq
      == want)
  }

  test("update+delete mix, CDF identical to the record-based MOR path") {
    val s = spark
    def lifecycle(t: String, props: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) $props")
      s.sql(s"INSERT INTO $t VALUES " +
        (0 until 20).map(i => s"($i, ${i * 10})").mkString(", "))
      s.sql(s"UPDATE $t SET v = v + 1 WHERE k % 5 = 1")
      s.sql(s"DELETE FROM $t WHERE k % 4 = 0")
    }
    lifecycle("graft_dml.spec.dvr", "TBLPROPERTIES ('format'='mor')")
    lifecycle("graft_dml.spec.dvv",
      "TBLPROPERTIES ('format'='mor','deletes'='dv')")
    def stateOf(t: String) = s.table(t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stateOf("graft_dml.spec.dvr") == stateOf("graft_dml.spec.dvv"),
      "dv and record MOR must be observationally identical")
    def cdf(t: String) = s.read.option("from", "1")
      .table(s"$t.changes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._3, x._2)).toSeq
    assert(cdf("graft_dml.spec.dvr") == cdf("graft_dml.spec.dvv"),
      "the change feed must not see the delete encoding")
  }

  test("equality-delete interleave stays ordered under vectors") {
    val s = spark
    val t = "graft_dml.spec.dve"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor','deletes'='dv')")
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 10).map(i => s"($i, ${i * 10})").mkString(", "))
    // commit order: eq-delete {2,3} → DV delete (k=4) → re-insert 3.
    // The re-insert must resurrect key 3 (eq-delete scopes to rows
    // visible at ITS commit), and the DV must not touch the new rid.
    import s.implicits._
    graft.sources.RowStoreOps.equalityDelete(s, t,
      Seq(2L, 3L).toDF("k"))
    s.sql(s"DELETE FROM $t WHERE k = 4")
    s.sql(s"INSERT INTO $t VALUES (3, 999)")
    val got = s.table(t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Seq(0L -> 0L, 1L -> 10L, 3L -> 999L, 5L -> 50L,
      6L -> 60L, 7L -> 70L, 8L -> 80L, 9L -> 90L)
    assert(got == want)
    // the DV'd snapshot before the re-insert: 3 absent, 4 absent
    val key = t
    val vPre = lake.currentVersion(key) - 1
    assert(s.sql(s"SELECT k FROM $t VERSION AS OF $vPre")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 5L, 6L, 7L, 8L, 9L))
  }

  test(".files surfaces vectors with popcounts; OPTIMIZE clears them") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.dvf")
    s.sql("CREATE TABLE graft_dml.spec.dvf (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) " +
      "TBLPROPERTIES ('format'='mor','deletes'='dv')")
    s.sql("INSERT INTO graft_dml.spec.dvf VALUES " +
      (0 until 12).map(i => s"($i, ${i * 10})").mkString(", "))
    val t = "graft_dml.spec.dvf"
    def dvRows() = s.table(s"$t.files").filter("kind = 'dv'")
      .selectExpr("grp", "dv_target", "dv_deleted_rows")
      .collect().toSeq
    assert(dvRows().isEmpty, "no vectors before any delete")

    // k % 3 = 0 → {0,3,6,9}: buckets 0 and 1 each lose 2 rows
    s.sql(s"DELETE FROM $t WHERE k % 3 = 0")
    val after = dvRows()
    assert(after.size == 2, "one .files dv row per touched file")
    assert(after.forall(r => !r.isNullAt(1) && r.getLong(2) == 2L),
      s"each vector covers 2 deleted rows with its target: $after")
    // union-replace keeps ONE row per file, popcount grows: k % 4 = 2
    // → {2,6,10} even keys, bucket 0 only; 6 already deleted
    s.sql(s"DELETE FROM $t WHERE k % 4 = 2")
    val merged = dvRows()
    assert(merged.size == 2)
    assert(merged.map(_.getLong(2)).sorted == Seq(2L, 4L),
      s"bucket 0's vector unions to 4 set bits: $merged")
    // data-file rows never carry the dv columns
    assert(s.table(s"$t.files").filter("kind = 'base'")
      .selectExpr("dv_target", "dv_deleted_rows")
      .collect().forall(r => r.isNullAt(0) && r.isNullAt(1)))

    // .partitions rolls the vectors up per group — and because
    // rid-deletes are terminal (one vector per file, positions of
    // committed rows), a dv-only group still reports an EXACT live
    // n_rows: base rows minus popcounts. 12 rows − 6 deleted = 6.
    val pr = s.table(s"$t.partitions")
      .selectExpr("grp", "n_rows", "n_dv_deleted")
      .orderBy("grp").collect()
    assert(pr.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0, 2L, 4L), (1, 4L, 2L)), pr.mkString("; "))

    // OPTIMIZE folds the vectors into rewritten bases — the dv rows
    // disappear from .files and content is unchanged
    val pre = s.table(t).orderBy("k").collect().toSeq
    graft.sources.RowStoreOps.compact(s, t)
    assert(dvRows().isEmpty, "OPTIMIZE must clear the vectors")
    assert(s.table(t).orderBy("k").collect().toSeq == pre)
    assert(s.table(s"$t.partitions")
      .selectExpr("CAST(SUM(n_dv_deleted) AS BIGINT)").head().getLong(0) == 0,
      "post-OPTIMIZE partitions carry no vector debt")
    s.sql(s"DROP TABLE $t")
  }

  test("commit-message payload is O(touched files), not O(deleted rows)") {
    val s = spark
    // two single-file tables, same file count, 64× the rows: the dv
    // blobs are written EXECUTOR-SIDE and only fixed-size handles ride
    // the commit messages, so the serialized message bytes must be
    // ~flat in deleted-row count (the r15 payload — bitmap words —
    // grew by rows/8 per file and would trip the 2× ceiling here)
    def measuredDelete(t: String, rows: Int): (Long, Int) = {
      s.sql(s"DROP TABLE IF EXISTS $t")
      // bucket(1, k): every row co-locates into ONE group → one base
      // file and one touched target, so the two measurements differ
      // ONLY in deleted-row count
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(1, k)) " +
        "TBLPROPERTIES ('format'='mor','deletes'='dv')")
      s.range(rows).selectExpr("id AS k", "id * 10 AS v")
        .writeTo(t).append()
      var bytes = -1L
      lake.commitBytesProbe = b => bytes = b
      try s.sql(s"DELETE FROM $t WHERE k % 2 = 0")
      finally lake.commitBytesProbe = null
      assert(bytes > 0, "the delete commit must report its payload")
      val e = entries(t)
      val nBase = e.count(_.kind == "base")
      assert(e.count(_.kind == "dv") == nBase,
        "one vector per touched base file")
      assert(!e.exists(_.kind == "delta"))
      assert(s.table(t).count() == rows / 2)
      (bytes, nBase)
    }
    val (small, nb1) = measuredDelete("graft_dml.spec.dvp1", 512)
    val (large, nb2) = measuredDelete("graft_dml.spec.dvp2", 512 * 64)
    assert(nb1 == nb2,
      s"comparability: both tables must land the same file count " +
        s"($nb1 vs $nb2) — the distribution shuffles to session " +
        "parallelism either way")
    assert(large < small * 2,
      s"dv commit payload must not scale with deleted rows: " +
        s"$small bytes for ${512 / 2} deletes vs $large bytes for " +
        s"${512 * 64 / 2}")
    s.sql("DROP TABLE graft_dml.spec.dvp1")
    s.sql("DROP TABLE graft_dml.spec.dvp2")
  }

  test("refusals: dv without mor, unknown deletes value") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.dvbad")
    val e1 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.dvbad (k BIGINT) " +
        "TBLPROPERTIES ('deletes'='dv')")
    }
    assert(e1.getMessage.contains("merge-on-read"))
    val e2 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.dvbad (k BIGINT) " +
        "TBLPROPERTIES ('format'='mor','deletes'='positional')")
    }
    assert(e2.getMessage.contains("deletes"))
  }
}
