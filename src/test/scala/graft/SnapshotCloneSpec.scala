package graft

import org.scalatest.funsuite.AnyFunSuite

/** snapshot_table (q172) — the storage half the query row can't see:
  * clone entries are external (absolute-path) references into the
  * source's data dir, single-group churn on the clone rewrites ONLY
  * that group (the other groups keep their live references), no
  * maintenance on the clone (VACUUM, orphan cleanup) can delete
  * source bytes, a MOR source's delta records and deletion vectors
  * survive the absolutization (dv targets staying in leaf form — rid
  * addresses, not file references), and cloning onto an existing
  * table refuses. */
class SnapshotCloneSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  private def entries(key: String) =
    lake.readManifest(key, lake.currentVersion(key))

  private def ownFiles(key: String): Seq[String] = {
    val st = java.nio.file.Files.list(
      java.nio.file.Paths.get(lake.dataDir(key)))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally st.close()
  }

  private def fresh(name: String, props: String = ""): String = {
    val s = spark
    val t = s"graft_dml.spec.$name"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      s"PARTITIONED BY (bucket(4, k))$props")
    s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 200)")
    t
  }

  test("references source files externally; single-group churn keeps the rest") {
    val s = spark
    val src = fresh("sc_src1")
    val dst = "graft_dml.spec.sc_dst1"
    s.sql(s"DROP TABLE IF EXISTS $dst")
    val refs = RowStoreOps.snapshotTable(src, dst)
    assert(refs > 0)
    val e0 = lake.readManifest(dst, 0)
    assert(e0.nonEmpty && e0.forall(_.name.startsWith("/")),
      "clone entries must be absolute references")
    assert(ownFiles(dst).isEmpty, "zero bytes in the clone's own dir")
    // content equal at snapshot
    assert(s.table(dst).count() == s.table(src).count())
    // sequential longs bucket as k % 4: deleting k%8==0 rows (HALF of
    // group 0 — a full-group delete would drop the group instead of
    // rewriting it) rewrites ONLY group 0; the others keep references
    s.sql(s"DELETE FROM $dst WHERE k % 8 = 0")
    val post = entries(dst)
    assert(post.exists(e => e.kind == "base" && e.name.startsWith("/")),
      "untouched groups must keep their external references")
    assert(post.exists(e => e.kind == "base" && !e.name.startsWith("/")),
      "the rewritten group must land in the clone's own dir")
    assert(s.table(dst).count() == 175)
    assert(s.table(src).count() == 200, "source must not see clone churn")
  }

  test("clone maintenance never deletes source bytes") {
    val s = spark
    val src = fresh("sc_src2")
    val dst = "graft_dml.spec.sc_dst2"
    s.sql(s"DROP TABLE IF EXISTS $dst")
    RowStoreOps.snapshotTable(src, dst)
    s.sql(s"DELETE FROM $dst WHERE k % 4 = 0") // v1: drops some refs
    // expire the clone's v0 (which references source files) and sweep
    // its dir for orphans at a zero horizon — both must leave the
    // source's bytes alone (external entries are referenced, not owned)
    RowStoreOps.vacuum(dst, 1)
    RowStoreOps.removeOrphanFiles(dst, 0L)
    assert(s.table(src).count() == 200,
      "source must read complete after clone maintenance")
    assert(s.table(dst).count() == 150)
  }

  test("clones a MOR source with deltas and deletion vectors intact") {
    val s = spark
    val src = fresh("sc_src3",
      " TBLPROPERTIES ('format'='mor','deletes'='dv')")
    s.sql(s"DELETE FROM $src WHERE k % 9 = 0")
    s.sql(s"UPDATE $src SET v = v + 1 WHERE k % 4 = 0")
    val dst = "graft_dml.spec.sc_dst3"
    s.sql(s"DROP TABLE IF EXISTS $dst")
    RowStoreOps.snapshotTable(src, dst)
    val e0 = lake.readManifest(dst, 0)
    // dv targets stay in LEAF form (rid-space addresses — r15 advisor:
    // absolutizing them broke the existing-vector lookup on clones);
    // each must pair with the leaf of an absolutized base entry
    val baseLeaves = e0.filter(_.kind == "base")
      .map(e => e.name.substring(e.name.lastIndexOf('/') + 1)).toSet
    val dvs = e0.filter(_.kind == "dv")
    assert(dvs.nonEmpty, "fixture must clone at least one vector")
    dvs.foreach { e =>
      assert(!e.dvTarget.get.startsWith("/"),
        s"dv target ${e.dvTarget} must stay leaf-form in the clone")
      assert(baseLeaves(e.dvTarget.get), s"dv target ${e.dvTarget} " +
        "must pair with a cloned base entry's leaf")
    }
    val a = s.sql(s"SELECT k, v FROM $src ORDER BY k").collect().toSeq
    val b = s.sql(s"SELECT k, v FROM $dst ORDER BY k").collect().toSeq
    assert(a == b, "MOR clone must read identically to its source")
  }

  test("refuses to clone onto an existing table") {
    val s = spark
    val src = fresh("sc_src4")
    intercept[IllegalArgumentException] {
      RowStoreOps.snapshotTable(src, src)
    }
  }
}
