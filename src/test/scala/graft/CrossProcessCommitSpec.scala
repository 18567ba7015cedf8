package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RowStore

/** TWO SEPARATE DRIVER PROCESSES against ONE warehouse — the
  * deployability gap the r14 verdict named: in-JVM the commitLock
  * serializes writers, but cross-process atomicity must come from the
  * storage layer itself. These tests fork a real second JVM
  * ([[CrossProcessWorker]], same test classpath) whose `graft_dml`
  * catalog shares this process's `warehouse` option, and pin:
  *
  *   1. a table created by one process is read and written by the
  *      other, versions stay LINEAR (no number skipped, none lost);
  *   2. a commit that loses the atomic create-if-absent race (the
  *      other PROCESS committed the same version number inside its
  *      read→publish window, forced deterministically via
  *      [[RowStore.prePublishHook]]) retries: re-reads the head,
  *      re-validates its group signatures, and lands — both merges
  *      applied exactly once, both manifests intact;
  *   3. the OVERLAPPING variant refuses instead of silently dropping
  *      the other process's update: the retry's re-validation throws
  *      ConcurrentModificationException, and a plain re-run of the
  *      statement then succeeds on top of the winner;
  *   4. a commit outside the SQL write path (add_files) rebases the
  *      same way, because every single-table commit goes through
  *      [[RowStore.commit]];
  *   5. two processes' ALTERs never split table metadata from its
  *      version: the loser lands on top of the winner's schema or
  *      refuses, and the current metadata is always the head's;
  *   6. a table the other process dropped and re-created reads as the
  *      new table: no cached resolution of the old one is served;
  *   7. publish_branches whose first link loses to the other process
  *      throws CommitConflictException (a multi-table publish never
  *      retries) and publishes nothing: every branch stays staged.
  */
class CrossProcessCommitSpec extends AnyFunSuite {

  private def forkWorker(root: String, sqls: Seq[String]): Process =
    XProc.fork(root, sqls)

  private def awaitOk(p: Process): Unit = XProc.await(p)

  test("two processes share one warehouse; versions stay linear") {
    val root = Files.createTempDirectory("graft-xproc").toString
    XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      s.sql("DROP TABLE IF EXISTS graft_dml.xp.t")
      s.sql("CREATE TABLE graft_dml.xp.t (k BIGINT, v BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.t VALUES (1, 10), (2, 20)")
      // the OTHER process appends, then updates — two commits there
      awaitOk(forkWorker(root, Seq(
        "INSERT INTO graft_dml.xp.t VALUES (3, 30)",
        "UPDATE graft_dml.xp.t SET v = v + 1 WHERE k = 1")))
      // this process sees both of the worker's commits...
      val key = "graft_dml.xp.t"
      assert(lake.versions(key) == Seq(0, 1, 2, 3),
        s"versions after worker: ${lake.versions(key)}")
      assert(s.table(key).orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 11L), (2L, 20L), (3L, 30L)))
      // ...and commits past them; the chain stays linear end to end
      s.sql("DELETE FROM graft_dml.xp.t WHERE k = 2")
      assert(lake.versions(key) == Seq(0, 1, 2, 3, 4))
      assert(s.table(key).count() == 2)
    }
  }

  test("publish loss to another process rebases and retries (disjoint)") {
    val root = Files.createTempDirectory("graft-xproc").toString
    XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      for (t <- Seq("t", "src_a", "src_b"))
        s.sql(s"DROP TABLE IF EXISTS graft_dml.xp.$t")
      s.sql("CREATE TABLE graft_dml.xp.t (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("INSERT INTO graft_dml.xp.t VALUES " +
        (0 until 16).map(i => s"($i, ${i * 10})").mkString(", "))
      // disjoint sources: a touches only group 1 (k ≡ 1 mod 4) from
      // THIS process; b touches only group 2 from the worker process
      s.sql("CREATE TABLE graft_dml.xp.src_a (k BIGINT, dv BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.src_a VALUES (1, 100), (5, 100)")
      s.sql("CREATE TABLE graft_dml.xp.src_b (k BIGINT, dv BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.src_b VALUES (2, 200), (6, 200)")
      val key = "graft_dml.xp.t"
      val v0 = lake.currentVersion(key)

      // deterministic race: our MERGE computes its manifest against
      // v0's head, then the hook (first publish attempt only) runs the
      // worker's MERGE to COMPLETION in the other process — so our
      // create-if-absent at v0+1 is GUARANTEED to lose, and the retry
      // loop must rebase onto the worker's manifest and land at v0+2
      val fires = new AtomicInteger(0)
      lake.prePublishHook = () => {
        if (fires.incrementAndGet() == 1)
          awaitOk(forkWorker(root, Seq(
            """MERGE INTO graft_dml.xp.t t USING graft_dml.xp.src_b x
               ON t.k = x.k
               WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")))
      }
      try s.sql("""MERGE INTO graft_dml.xp.t t USING graft_dml.xp.src_a x
          ON t.k = x.k
          WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")
      finally lake.prePublishHook = () => ()
      assert(fires.get() == 2,
        s"expected exactly one publish loss + one retry, saw ${fires.get()}" +
          " publish attempts")
      assert(lake.versions(key) == (0 to v0 + 2),
        s"linear versions: ${lake.versions(key)}")
      val got = s.table(key).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == (0 until 16).map(i => (i.toLong, i * 10L +
        (if (i == 1 || i == 5) 100L
        else if (i == 2 || i == 6) 200L else 0L))),
        s"both processes' merges applied exactly once: $got")
    }
  }

  test("add_files loses its publish to another process, then rebases") {
    val root = Files.createTempDirectory("graft-xproc").toString
    val ext = Files.createTempDirectory("graft-xproc-ext").toString
    try XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      s.sql("DROP TABLE IF EXISTS graft_dml.xp.t")
      s.sql("CREATE TABLE graft_dml.xp.t (k BIGINT, v BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.t VALUES (1, 10), (2, 20)")
      import s.implicits._
      Seq((100L, 1L), (101L, 2L)).toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$ext/p")
      val key = "graft_dml.xp.t"
      val v0 = lake.currentVersion(key)
      // the worker's INSERT takes v0+1 inside our read→publish window
      val fires = new AtomicInteger(0)
      lake.prePublishHook = () => {
        if (fires.incrementAndGet() == 1)
          awaitOk(forkWorker(root, Seq(
            "INSERT INTO graft_dml.xp.t VALUES (3, 30)")))
      }
      try graft.sources.RowStoreOps.addFiles(key, ext)
      finally lake.prePublishHook = () => ()
      assert(fires.get() == 2,
        s"expected exactly one publish loss + one retry, saw ${fires.get()}" +
          " publish attempts")
      assert(lake.versions(key) == (0 to v0 + 2),
        s"linear versions: ${lake.versions(key)}")
      val got = s.table(key).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L), (100L, 1L),
        (101L, 2L)), s"both the insert and the import landed once: $got")
    } finally Scratch.deleteTree(ext)
  }

  test("ALTER loses its publish to another process's ALTER; metadata stays the head's") {
    val root = Files.createTempDirectory("graft-xproc").toString
    XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      s.sql("DROP TABLE IF EXISTS graft_dml.xp.t")
      s.sql("CREATE TABLE graft_dml.xp.t (k BIGINT, v BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.t VALUES (1, 10)")
      val key = "graft_dml.xp.t"
      val v0 = lake.currentVersion(key)
      // the worker's ADD COLUMNS (b) takes v0+1 inside the publish
      // window of this process's ADD COLUMNS (a)
      val fires = new AtomicInteger(0)
      lake.prePublishHook = () => {
        if (fires.incrementAndGet() == 1)
          awaitOk(forkWorker(root, Seq(
            "ALTER TABLE graft_dml.xp.t ADD COLUMNS (b BIGINT)")))
      }
      val refused =
        try { s.sql("ALTER TABLE graft_dml.xp.t ADD COLUMNS (a BIGINT)"); None }
        catch { case e: Exception => Some(e) }
        finally lake.prePublishHook = () => ()
      assert(fires.get() >= 1, "the worker never ran")
      def cols(v: Int) = lake.versionMeta(key, v).schema.fieldNames.toSeq
      assert(cols(v0 + 1) == Seq("k", "v", "b"),
        s"the worker's version records its own schema: ${cols(v0 + 1)}")
      val head = lake.currentVersion(key)
      refused match {
        case None =>
          assert(head == v0 + 2 && cols(head) == Seq("k", "v", "b", "a"),
            s"rebased ALTER: v$head ${cols(head)}")
        case Some(e) =>
          def causes(t: Throwable): Seq[Throwable] =
            if (t == null) Seq.empty else t +: causes(t.getCause)
          assert(causes(e).exists(
            _.isInstanceOf[java.util.ConcurrentModificationException]),
            s"expected an OCC refusal, got $e")
          assert(head == v0 + 1, s"a refused ALTER publishes nothing: v$head")
      }
      assert(lake.readMeta(key) == lake.versionMeta(key, head))
      assert(s.table(key).schema.fieldNames.toSeq == cols(head))
    }
  }

  private def rows(key: String): Seq[(Long, Long)] =
    SparkSession.active.table(key).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("a table another process dropped and re-created reads as the new table") {
    val root = Files.createTempDirectory("graft-xproc").toString
    XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      val key = "graft_dml.xp.t"
      s.sql(s"DROP TABLE IF EXISTS $key")
      s.sql(s"CREATE TABLE $key (k BIGINT, v BIGINT)")
      s.sql(s"INSERT INTO $key VALUES (1, 10), (2, 20)")
      assert(rows(key) == Seq((1L, 10L), (2L, 20L)))
      // same name, same version numbers, other files
      awaitOk(forkWorker(root, Seq(
        s"DROP TABLE $key",
        s"CREATE TABLE $key (k BIGINT, v BIGINT)",
        s"INSERT INTO $key VALUES (7, 70)")))
      assert(lake.versions(key) == Seq(0, 1))
      assert(rows(key) == Seq((7L, 70L)))
    }
  }

  test("publish_branches loses its first link to another process and publishes nothing") {
    val root = Files.createTempDirectory("graft-xproc").toString
    XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      val (a, b) = ("graft_dml.xp.pa", "graft_dml.xp.pb")
      for (t <- Seq(a, b)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
        s.sql(s"INSERT INTO $t VALUES (1, 10)")
        s.range(2, 4).selectExpr("id AS k", "id * 10 AS v").writeTo(t)
          .option("branch", "audit").append()
      }
      val (va, vb) = (lake.currentVersion(a), lake.currentVersion(b))
      // the worker's INSERT takes a's next version after every branch
      // validated and staged, before a's link
      val fires = new AtomicInteger(0)
      lake.prePublishHook = () => {
        if (fires.incrementAndGet() == 1)
          awaitOk(forkWorker(root, Seq(s"INSERT INTO $a VALUES (9, 90)")))
      }
      try intercept[RowStore.CommitConflictException] {
        graft.sources.RowStoreOps.publishBranches(
          Seq(a -> "audit", b -> "audit"))
      } finally lake.prePublishHook = () => ()
      assert(fires.get() == 1, "no link may follow the lost one")
      assert(lake.versions(a) == (0 to va + 1) && rows(a) ==
        Seq((1L, 10L), (9L, 90L)), s"a holds only the worker's version")
      assert(lake.versions(b) == (0 to vb) &&
        rows(b) == Seq((1L, 10L)), "b is untouched")
      for (t <- Seq(a, b))
        assert(lake.branchExists(t, "audit"), s"$t's branch stays staged")
    }
  }

  test("overlapping cross-process merge refuses, then succeeds on re-run") {
    val root = Files.createTempDirectory("graft-xproc").toString
    XProc.withWarehouse(root) { s =>
      val lake = RowStore.of(s)
      for (t <- Seq("t", "src_a", "src_b"))
        s.sql(s"DROP TABLE IF EXISTS graft_dml.xp.$t")
      s.sql("CREATE TABLE graft_dml.xp.t (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("INSERT INTO graft_dml.xp.t VALUES " +
        (0 until 16).map(i => s"($i, ${i * 10})").mkString(", "))
      // BOTH sides touch group 1 (k ≡ 1 mod 4)
      s.sql("CREATE TABLE graft_dml.xp.src_a (k BIGINT, dv BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.src_a VALUES (1, 100)")
      s.sql("CREATE TABLE graft_dml.xp.src_b (k BIGINT, dv BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.src_b VALUES (5, 7)")
      val key = "graft_dml.xp.t"
      val mergeA = """MERGE INTO graft_dml.xp.t t
          USING graft_dml.xp.src_a x ON t.k = x.k
          WHEN MATCHED THEN UPDATE SET v = t.v + x.dv"""
      val fires = new AtomicInteger(0)
      lake.prePublishHook = () => {
        if (fires.incrementAndGet() == 1)
          awaitOk(forkWorker(root, Seq(
            """MERGE INTO graft_dml.xp.t t USING graft_dml.xp.src_b x
               ON t.k = x.k
               WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")))
      }
      // the retry's re-validation sees group 1 changed since our scan
      // and REFUSES — the worker's already-committed update is never
      // silently dropped
      val thrown =
        try { intercept[Exception] { s.sql(mergeA) } }
        finally lake.prePublishHook = () => ()
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(thrown).exists(
        _.isInstanceOf[java.util.ConcurrentModificationException]),
        s"expected an OCC refusal, got $thrown")
      // worker's commit is intact; a plain re-run then lands on top
      assert(s.table(key).where("k = 5").collect().head.getLong(1) == 57L)
      s.sql(mergeA)
      val got = s.table(key).where("k in (1, 5)").orderBy("k").collect()
        .map(_.getLong(1)).toSeq
      assert(got == Seq(110L, 57L), s"sequential outcome after re-run: $got")
    }
  }
}
