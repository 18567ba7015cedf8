package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RowStore

/** TWO SEPARATE DRIVER PROCESSES against ONE warehouse — the
  * deployability gap the r14 verdict named: in-JVM the commitLock
  * serializes writers, but cross-process atomicity must come from the
  * storage layer itself. These tests fork a real second JVM
  * ([[CrossProcessWorker]], same test classpath) pointed at a shared
  * `-Dgraft.warehouse.root`, and pin:
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
  *      statement then succeeds on top of the winner.
  */
class CrossProcessCommitSpec extends AnyFunSuite {

  private def forkWorker(root: String, sqls: Seq[String]): Process =
    XProc.fork(root, sqls)

  private def awaitOk(p: Process): Unit = XProc.await(p)

  test("two processes share one warehouse; versions stay linear") {
    val s = SparkSuite.spark
    val root = Files.createTempDirectory("graft-xproc").toString
    System.setProperty("graft.warehouse.root", root)
    try {
      s.sql("DROP TABLE IF EXISTS graft_dml.xp.t")
      s.sql("CREATE TABLE graft_dml.xp.t (k BIGINT, v BIGINT)")
      s.sql("INSERT INTO graft_dml.xp.t VALUES (1, 10), (2, 20)")
      // the OTHER process appends, then updates — two commits there
      awaitOk(forkWorker(root, Seq(
        "INSERT INTO graft_dml.xp.t VALUES (3, 30)",
        "UPDATE graft_dml.xp.t SET v = v + 1 WHERE k = 1")))
      // this process sees both of the worker's commits...
      val key = "graft_dml.xp.t"
      assert(RowStore.versions(key) == Seq(0, 1, 2, 3),
        s"versions after worker: ${RowStore.versions(key)}")
      assert(s.table(key).orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 11L), (2L, 20L), (3L, 30L)))
      // ...and commits past them; the chain stays linear end to end
      s.sql("DELETE FROM graft_dml.xp.t WHERE k = 2")
      assert(RowStore.versions(key) == Seq(0, 1, 2, 3, 4))
      assert(s.table(key).count() == 2)
    } finally {
      System.clearProperty("graft.warehouse.root")
      Scratch.deleteTree(root)
    }
  }

  test("publish loss to another process rebases and retries (disjoint)") {
    val s = SparkSuite.spark
    val root = Files.createTempDirectory("graft-xproc").toString
    System.setProperty("graft.warehouse.root", root)
    try {
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
      val v0 = RowStore.currentVersion(key)

      // deterministic race: our MERGE computes its manifest against
      // v0's head, then the hook (first publish attempt only) runs the
      // worker's MERGE to COMPLETION in the other process — so our
      // create-if-absent at v0+1 is GUARANTEED to lose, and the retry
      // loop must rebase onto the worker's manifest and land at v0+2
      val fires = new AtomicInteger(0)
      RowStore.prePublishHook = () => {
        if (fires.incrementAndGet() == 1)
          awaitOk(forkWorker(root, Seq(
            """MERGE INTO graft_dml.xp.t t USING graft_dml.xp.src_b x
               ON t.k = x.k
               WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")))
      }
      try s.sql("""MERGE INTO graft_dml.xp.t t USING graft_dml.xp.src_a x
          ON t.k = x.k
          WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")
      finally RowStore.prePublishHook = () => ()
      assert(fires.get() == 2,
        s"expected exactly one publish loss + one retry, saw ${fires.get()}" +
          " publish attempts")
      assert(RowStore.versions(key) == (0 to v0 + 2),
        s"linear versions: ${RowStore.versions(key)}")
      val got = s.table(key).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == (0 until 16).map(i => (i.toLong, i * 10L +
        (if (i == 1 || i == 5) 100L
        else if (i == 2 || i == 6) 200L else 0L))),
        s"both processes' merges applied exactly once: $got")
    } finally {
      System.clearProperty("graft.warehouse.root")
      Scratch.deleteTree(root)
    }
  }

  test("overlapping cross-process merge refuses, then succeeds on re-run") {
    val s = SparkSuite.spark
    val root = Files.createTempDirectory("graft-xproc").toString
    System.setProperty("graft.warehouse.root", root)
    try {
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
      RowStore.prePublishHook = () => {
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
        finally RowStore.prePublishHook = () => ()
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
    } finally {
      System.clearProperty("graft.warehouse.root")
      Scratch.deleteTree(root)
    }
  }
}
