package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RowStore, RowStoreOps}

/** CRASH-DURABILITY fault injection (the r14 verdict's second ask):
  * the concurrency specs test interleavings; these tests KILL a
  * writer — `Runtime.halt` in a forked JVM, no shutdown hooks, no
  * cleanup — at the commit seams and pin the recovery story:
  *
  *   - a writer halted between its data-file writes and its manifest
  *     publish leaves the table byte-identical for readers: the
  *     landed task files are referenced by NO manifest, stay
  *     invisible, and `remove_orphan_files` reclaims exactly them
  *     (COW base files and MOR delta/dv files both);
  *   - a re-run of the killed statement then lands cleanly — no
  *     poisoned state survives the crash;
  *   - publish_branches interrupted between two tables' links leaves
  *     the first published and the second still staged; re-running
  *     on the survivor reaches the same terminal state as an
  *     uninterrupted publish (the documented recovery);
  *   - copy_into healed-log discipline: a re-run that finds NO new
  *     files still rewrites an incomplete ingest.log (the r14
  *     advisor's residual-hazard fix).
  */
class CrashRecoverySpec extends AnyFunSuite {

  private def dataFiles(key: String): Set[String] = {
    val d = Paths.get(RowStore.dataDir(key))
    val stream = Files.list(d)
    try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(!_.startsWith(".")).toSet
    finally stream.close()
  }

  test("COW writer killed before publish: invisible, swept, re-runnable") {
    val s = SparkSuite.spark
    val root = Files.createTempDirectory("graft-crash").toString
    System.setProperty("graft.warehouse.root", root)
    try {
      s.sql("DROP TABLE IF EXISTS graft_dml.cr.t")
      s.sql("CREATE TABLE graft_dml.cr.t (k BIGINT, v BIGINT)")
      s.sql("INSERT INTO graft_dml.cr.t VALUES (1, 10), (2, 20)")
      val key = "graft_dml.cr.t"
      val v0 = RowStore.currentVersion(key)
      val before = dataFiles(key)

      // the worker dies AFTER its tasks landed files, BEFORE the
      // manifest publish — the exact window a task-retry storm or
      // OOM kill hits in production
      XProc.await(XProc.fork(root,
        Seq("INSERT INTO graft_dml.cr.t VALUES (3, 30), (4, 40)"),
        Map("graft.halt.at" -> "preCommit")), expect = 42)

      // no manifest advanced; the landed debris is invisible to reads
      assert(RowStore.currentVersion(key) == v0,
        "a killed writer must not advance the version")
      assert(s.table(key).count() == 2)
      val debris = dataFiles(key) -- before
      assert(debris.nonEmpty,
        "fixture vacuous: the kill must land uncommitted task files")

      // orphan sweep reclaims exactly the debris (horizon 0: writers
      // externally quiesced — the worker is dead)
      val (deleted, retained) = RowStoreOps.removeOrphanFiles(key, 0L)
      assert(deleted == debris.size && dataFiles(key) == before,
        s"sweep must reclaim exactly the crash debris ($deleted vs " +
          s"${debris.size})")
      assert(retained == before.size)

      // the killed statement re-runs cleanly — nothing poisoned
      s.sql("INSERT INTO graft_dml.cr.t VALUES (3, 30), (4, 40)")
      assert(RowStore.currentVersion(key) == v0 + 1)
      assert(s.table(key).orderBy("k").collect().map(_.getLong(1)).toSeq ==
        Seq(10L, 20L, 30L, 40L))
    } finally {
      System.clearProperty("graft.warehouse.root")
      Scratch.deleteTree(root)
    }
  }

  test("MOR dv writer killed before publish: delta/dv debris swept") {
    val s = SparkSuite.spark
    val root = Files.createTempDirectory("graft-crash").toString
    System.setProperty("graft.warehouse.root", root)
    try {
      for (t <- Seq("t", "src")) s.sql(s"DROP TABLE IF EXISTS graft_dml.cr.$t")
      s.sql("CREATE TABLE graft_dml.cr.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('format'='mor', 'deletes'='dv')")
      s.sql("INSERT INTO graft_dml.cr.t VALUES " +
        (0 until 8).map(i => s"($i, ${i * 10})").mkString(", "))
      s.sql("CREATE TABLE graft_dml.cr.src (k BIGINT)")
      s.sql("INSERT INTO graft_dml.cr.src VALUES (1), (2), (3)")
      val key = "graft_dml.cr.t"
      val v0 = RowStore.currentVersion(key)
      val before = dataFiles(key)

      // prePublish = the LATEST kill point: delta files landed from
      // tasks AND the driver already wrote the merged dv blobs; only
      // the manifest link is missing
      XProc.await(XProc.fork(root, Seq(
        """MERGE INTO graft_dml.cr.t t USING graft_dml.cr.src x
           ON t.k = x.k
           WHEN MATCHED AND t.k = 1 THEN UPDATE SET v = 999
           WHEN MATCHED THEN DELETE"""),
        Map("graft.halt.at" -> "prePublish")), expect = 42)

      assert(RowStore.currentVersion(key) == v0)
      assert(s.table(key).count() == 8,
        "reads must not see the killed MERGE's deltas or vectors")
      val debris = dataFiles(key) -- before
      assert(debris.nonEmpty, "fixture vacuous: no crash debris landed")

      val (deleted, _) = RowStoreOps.removeOrphanFiles(key, 0L)
      assert(deleted == debris.size && dataFiles(key) == before)

      // re-run lands; dv/delta replay resolves the same statement
      s.sql("""MERGE INTO graft_dml.cr.t t USING graft_dml.cr.src x
           ON t.k = x.k
           WHEN MATCHED AND t.k = 1 THEN UPDATE SET v = 999
           WHEN MATCHED THEN DELETE""")
      assert(s.table(key).orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((0L, 0L), (1L, 999L)) ++ (4 until 8).map(i =>
          (i.toLong, i * 10L)))
    } finally {
      System.clearProperty("graft.warehouse.root")
      Scratch.deleteTree(root)
    }
  }

  test("publish_branches interrupted between links: survivors re-publish") {
    val s = SparkSuite.spark
    val (ka, kb) = ("graft_dml.cr.pba", "graft_dml.cr.pbb")
    for (t <- Seq(ka, kb)) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
      s.sql(s"INSERT INTO $t VALUES (1, 10)") // v1 seed
      // stage one audit branch per table (the q176 WAP shape)
      s.range(3, 5).selectExpr("id AS k", "id * 10 AS v")
        .writeTo(t).option("branch", "audit").append()
    }
    // inject the crash AFTER the first table's link + branch drop —
    // the sharpest window the r14 verdict named for q176
    RowStoreOps.postPublishLinkHook =
      t => sys.error(s"injected crash after $t")
    val e =
      try intercept[RuntimeException] {
        RowStoreOps.publishBranches(Seq((ka, "audit"), (kb, "audit")))
      } finally RowStoreOps.postPublishLinkHook = _ => ()
    assert(e.getMessage.contains("injected crash"), e.getMessage)
    // partial state is EXACTLY as documented: the linked table is
    // published (branch consumed), the other still fully staged
    assert(RowStore.currentVersion(ka) == 2 &&
      !RowStore.branchExists(ka, "audit"),
      "first table must be published with its branch consumed")
    assert(RowStore.currentVersion(kb) == 1 &&
      RowStore.branchExists(kb, "audit"),
      "second table must remain staged, nothing torn")
    assert(s.table(kb).count() == 1,
      "readers of the staged table must not see branch rows")
    // documented recovery: re-run on the survivor reaches the same
    // terminal state an uninterrupted publish would have
    RowStoreOps.publishBranches(Seq((kb, "audit")))
    for (t <- Seq(ka, kb)) {
      assert(RowStore.currentVersion(t) == 2)
      assert(!RowStore.branchExists(t, "audit"))
      assert(s.table(t).orderBy("k").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 3L, 4L), s"terminal content of $t")
    }
  }

  test("copy_into heals an incomplete log even with no new files") {
    val s = SparkSuite.spark
    val t = "graft_dml.cr.cpy"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    val dir = Scratch.dir(s, "graft_crash_spec", "cpy")
    s.range(0, 20).selectExpr("id AS k", "id AS v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    RowStoreOps.copyInto(t, dir)
    val logP = Paths.get(RowStore.dataDir(t)).getParent.resolve("ingest.log")
    val healthy = Files.readAllLines(logP).asScala.toSet
    assert(healthy.size == 2)
    // crash window: manifest committed, log write lost
    Files.delete(logP)
    // a re-run that finds NOTHING new must still heal the log — the
    // r14 advisor's fix; before it, the VACUUM-expires-history
    // double-load hazard stayed open until new files arrived
    val (n, _, skipped) = RowStoreOps.copyInto(t, dir)
    assert(n == 0 && skipped == 2)
    assert(Files.exists(logP),
      "no-new-files re-run must rewrite the incomplete log")
    assert(Files.readAllLines(logP).asScala.toSet == healthy,
      "healed log must match the pre-crash content")
  }

  test("cherry-pick refuses a duplicate external-file addition") {
    val s = SparkSuite.spark
    val t = "graft_dml.cr.ccp"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val dir = Scratch.dir(s, "graft_crash_spec", "ccp")
    s.range(100, 110).selectExpr("id AS k", "id AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val ext = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(ext.size == 1)
    // stage a branch that registers the external file...
    val base = RowStore.currentVersion(t)
    val (_, baseEntries) = (base, RowStore.readManifest(t, base))
    RowStore.writeBranchManifest(t, "imp", base, baseEntries ++ Seq(
      RowStore.FileEntry("base", 0, ext.head, rows = Some(10L),
        spec = -1)))
    // ...then an interleaved main commit registers the SAME file
    RowStoreOps.addFiles(t, dir)
    val e = intercept[java.util.ConcurrentModificationException] {
      RowStoreOps.cherrypickBranch(t, "imp")
    }
    assert(e.getMessage.contains("already registered"), e.getMessage)
    assert(s.table(t).count() == 11,
      "the refused cherry-pick must leave main intact")
  }
}
