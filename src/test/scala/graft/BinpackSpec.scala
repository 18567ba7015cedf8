package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BinpackOps, RowStore}

/** File-count/size pins for the size-aware binpack (q178 drives the
  * SQL lifecycle): fragments pack to one file per group, well-sized
  * entries survive byte-verbatim, a packed table is a no-op with NO
  * version committed, an oversized file splits toward the target, and
  * delta-bearing (MOR) groups are out of scope by contract. */
class BinpackSpec extends AnyFunSuite {

  private def sizes(t: String): Map[String, Long] = {
    val dir = RowStore.dataDir(t)
    RowStore.readManifest(t, RowStore.currentVersion(t))
      .filter(_.kind == "base")
      .map(e => e.name ->
        new java.io.File(RowStore.entryPath(dir, e.name)).length()).toMap
  }

  test("fragments pack per group; in-band files survive; then no-op") {
    val s = SparkSuite.spark
    val t = "graft_dml.bp.a"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t SELECT id, id * 3 FROM range(0, 2000)")
    for (i <- 0 until 8)
      s.sql(s"INSERT INTO $t VALUES (${9000 + i}, $i)")
    val before = sizes(t)
    val target = before.values.max
    val content = s.table(t).collect().map(_.toSeq).toSet

    val (rw, wr, skipped) = BinpackOps.binpack(s, t, target)
    assert(rw == 8 && wr == 4,
      s"8 fragments must pack into one file per group: rw=$rw wr=$wr")
    assert(skipped == 4, s"the 4 seed files must be skipped: $skipped")
    val after = sizes(t)
    val inBand = before.filter(_._2 >= (target * 3) / 4).keySet
    assert(inBand.size == 4 && inBand.subsetOf(after.keySet),
      "well-sized entries must survive by name (stats untouched)")
    assert(s.table(t).collect().map(_.toSeq).toSet == content,
      "binpack must be observationally invisible")

    // a packed table is a provable NO-OP: nothing planned, nothing
    // committed (the packed 2-row files are lone per group — a lone
    // undersized file re-written alone would be the same file)
    val v1 = RowStore.currentVersion(t)
    val (rw2, wr2, _) = BinpackOps.binpack(s, t, target)
    assert(rw2 == 0 && wr2 == 0 && RowStore.currentVersion(t) == v1,
      "second binpack must plan nothing and commit nothing")
  }

  test("an oversized file splits toward the target size") {
    val s = SparkSuite.spark
    val t = "graft_dml.bp.b"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    // one group (k ≡ 0 mod 4), one big file
    s.sql(s"INSERT INTO $t SELECT id * 4, id FROM range(0, 8000)")
    val before = sizes(t)
    assert(before.size == 1)
    val target = before.values.head / 3
    val (rw, wr, _) = BinpackOps.binpack(s, t, target)
    assert(rw == 1 && wr == 3,
      s"a 3×target file must split into ~3 slices: rw=$rw wr=$wr")
    val after = sizes(t)
    assert(after.size == 3)
    // hash-sliced, so sizes are approximate — pin a generous band
    after.values.foreach(sz => assert(
      sz > target / 3 && sz < target * 5 / 2,
      s"slice size $sz far from target $target"))
    assert(s.table(t).count() == 8000)
  }

  test("delta-bearing groups are out of scope (no-op, not corruption)") {
    val s = SparkSuite.spark
    val t = "graft_dml.bp.c"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    s.sql(s"INSERT INTO $t VALUES (3, 30)")
    s.sql(s"DELETE FROM $t WHERE k = 2") // delta record
    val v0 = RowStore.currentVersion(t)
    val (rw, wr, _) = BinpackOps.binpack(s, t, 1L << 20)
    assert(rw == 0 && wr == 0 && RowStore.currentVersion(t) == v0,
      "binpack must skip delta-bearing groups entirely " +
        "(rewrite_data_files owns them)")
    assert(s.table(t).count() == 2)
  }
}
