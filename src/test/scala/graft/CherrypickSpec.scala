package graft

import org.scalatest.funsuite.AnyFunSuite

/** cherrypick_branch (q170) — the manifest half the query row can't
  * see: the rebase keeps main's interleaved files AND the branch's
  * appends, time travel still resolves the pre-pick version, a
  * branch whose base IS the head degenerates to the fast-forward, a
  * staged REMOVAL replays only while main still carries the removed
  * entry untouched, and the conflict case (an interleaved commit
  * rewrote what the branch removed) refuses loudly and leaves the
  * branch ref intact for re-staging. */
class CherrypickSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  private def entries(key: String) =
    lake.readManifest(key, lake.currentVersion(key))

  private def fresh(name: String): String = {
    val s = spark
    val t = s"graft_dml.spec.$name"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 100)")
    t
  }

  test("rebases appends onto a moved main; pre-pick version intact") {
    val s = spark
    val t = fresh("cp1")
    s.sql(s"SELECT id + 1000 AS k, id AS v FROM range(0, 30)")
      .writeTo(t).option("branch", "b").append()
    s.sql(s"INSERT INTO $t SELECT id + 2000, id FROM range(0, 20)") // v2
    // strict publish refuses: main moved past the fork base
    intercept[java.util.ConcurrentModificationException] {
      RowStoreOps.publishBranch(t, "b")
    }
    assert(lake.branchExists(t, "b"), "refusal must keep the branch")
    val mainFiles = entries(t).map(_.name).toSet
    val v = RowStoreOps.cherrypickBranch(t, "b")
    assert(v == 3)
    assert(!lake.branchExists(t, "b"), "pick consumes the branch")
    // main's files all survive; the branch added new ones
    val post = entries(t).map(_.name).toSet
    assert(mainFiles.subsetOf(post))
    assert(post.size > mainFiles.size)
    assert(s.table(t).count() == 150)
    // the hotfix AND the audited slice both present
    assert(s.sql(s"SELECT COUNT(*) FROM $t WHERE k >= 2000").head()
      .getLong(0) == 20)
    assert(s.sql(s"SELECT COUNT(*) FROM $t WHERE k >= 1000 AND k < 2000")
      .head().getLong(0) == 30)
    // time travel: the pre-pick head is unchanged
    assert(s.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 2").head()
      .getLong(0) == 120)
  }

  test("base == head degenerates to the fast-forward") {
    val s = spark
    val t = fresh("cp2")
    s.sql(s"SELECT id + 1000 AS k, id AS v FROM range(0, 10)")
      .writeTo(t).option("branch", "b").append()
    val v = RowStoreOps.cherrypickBranch(t, "b")
    assert(v == 2)
    assert(s.table(t).count() == 110)
  }

  test("replays a staged removal while main left the entry untouched") {
    val s = spark
    val t = fresh("cp3")
    val e1 = entries(t)
    val victim = e1.head
    // stage a branch that removed one base file (the compaction /
    // delete-on-branch shape the append path never produces)
    lake.writeBranchManifest(t, "b", 1, e1.filterNot(_ == victim))
    s.sql(s"INSERT INTO $t SELECT id + 2000, id FROM range(0, 20)") // append
    val v = RowStoreOps.cherrypickBranch(t, "b")
    assert(v == 3)
    val post = entries(t)
    assert(!post.exists(_.name == victim.name), "removal must replay")
    assert(s.table(t).count() == 100 + 20 - victim.rows.get)
  }

  test("publishBranches validates all before committing any") {
    val s = spark
    val t1 = fresh("pb1")
    val t2 = fresh("pb2")
    s.sql(s"SELECT id + 1000 AS k, id AS v FROM range(0, 10)")
      .writeTo(t1).option("branch", "b").append()
    s.sql(s"SELECT id + 1000 AS k, id AS v FROM range(0, 10)")
      .writeTo(t2).option("branch", "b").append()
    s.sql(s"INSERT INTO $t2 SELECT id + 2000, id FROM range(0, 5)") // t2→v2
    intercept[java.util.ConcurrentModificationException] {
      RowStoreOps.publishBranches(Seq(t1 -> "b", t2 -> "b"))
    }
    // all-or-nothing: t1 (whose branch WAS publishable) committed
    // nothing, both refs survive
    assert(lake.currentVersion(t1) == 1)
    assert(lake.branchExists(t1, "b") && lake.branchExists(t2, "b"))
    // a table may appear once per call
    intercept[IllegalArgumentException] {
      RowStoreOps.publishBranches(Seq(t1 -> "b", t1 -> "b"))
    }
    // recovery: cherry-pick t2's moved branch, then the pair is gone —
    // t1 publishes alone through the same entry point
    RowStoreOps.cherrypickBranch(t2, "b")
    val vs = RowStoreOps.publishBranches(Seq(t1 -> "b"))
    assert(vs == Seq(2))
    assert(s.table(t1).count() == 110)
    assert(s.table(t2).count() == 115)
  }

  test("refuses when an interleaved commit rewrote a removed entry") {
    val s = spark
    val t = fresh("cp4")
    val e1 = entries(t)
    lake.writeBranchManifest(t, "b", 1, e1.tail)
    // COW DELETE rewrites the groups holding even keys — every base
    // file is replaced, so the branch's removal target is gone
    s.sql(s"DELETE FROM $t WHERE k % 2 = 0")
    assert(!entries(t).exists(_.name == e1.head.name),
      "fixture must rewrite the removed entry")
    val pre = entries(t)
    intercept[java.util.ConcurrentModificationException] {
      RowStoreOps.cherrypickBranch(t, "b")
    }
    assert(lake.branchExists(t, "b"), "refusal must keep the branch")
    assert(entries(t) == pre, "refusal must not commit")
  }
}
