package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RowStore, Transact}

/** Storage-half pins for the multi-statement transaction (q177 drives
  * the SQL lifecycle; this spec pins what the query row can't see):
  * adoption MOVES files instead of copying, clones tear down on both
  * commit and rollback, a refused commit leaves the transaction open
  * and nothing moved, and MOR delta/dv state survives adoption with
  * its rid pairing intact. */
class TransactSpec extends AnyFunSuite {

  private def listData(key: String): Set[String] = {
    val d = Paths.get(RowStore.dataDir(key))
    val stream = Files.list(d)
    try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(!_.startsWith(".")).toSet
    finally stream.close()
  }

  test("commit MOVES txn-written files; clones drop; versions advance") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.a"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    val baseFilesBefore = listData(t)
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"INSERT INTO $ck VALUES (3, 30)")
    s.sql(s"UPDATE $ck SET v = v + 1 WHERE k = 1")
    val txnWritten = listData(ck) // files only the txn wrote
    assert(txnWritten.nonEmpty)
    val vs = Transact.commit(txn.id)
    assert(vs == Seq(RowStore.currentVersion(t)))
    // clone gone; every file its final manifest referenced from its
    // own dir now lives in the base's dir (MOVED — the clone dir was
    // dropped, so a copy would have been deleted with it)
    assert(!RowStore.exists(ck), "clone must drop at commit")
    val baseFilesAfter = listData(t)
    val manifest = RowStore.readManifest(t, RowStore.currentVersion(t))
      .map(_.name).toSet
    assert(manifest.forall(n => n.startsWith("/") || baseFilesAfter(n)),
      s"adopted manifest references a missing file: $manifest")
    assert((baseFilesAfter -- baseFilesBefore).nonEmpty,
      "txn-written files must land in the base data dir")
    assert(s.table(t).orderBy("k").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("rollback drops clones and leaves bases byte-identical") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.b"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val v0 = RowStore.currentVersion(t)
    val files0 = listData(t)
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"DELETE FROM $ck WHERE k = 1")
    s.sql(s"INSERT INTO $ck VALUES (9, 90)")
    assert(Transact.rollback(txn.id) == 1)
    assert(!RowStore.exists(ck))
    assert(RowStore.currentVersion(t) == v0 && listData(t) == files0,
      "rollback must not touch the base: no version, no file")
    assert(s.table(t).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // double rollback is a loud error, not a silent no-op
    intercept[IllegalArgumentException] { Transact.rollback(txn.id) }
  }

  test("refused commit leaves the txn open, nothing moved; retry works") {
    val s = SparkSuite.spark
    val (ta, tb) = ("graft_dml.tx.c", "graft_dml.tx.d")
    for (t <- Seq(ta, tb)) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
      s.sql(s"INSERT INTO $t VALUES (1, 10)")
    }
    val txn = Transact.begin(Seq(ta, tb))
    val (ca, cb) = (Transact.cloneKey(ta, txn.id),
      Transact.cloneKey(tb, txn.id))
    s.sql(s"INSERT INTO $ca VALUES (2, 20)")
    s.sql(s"INSERT INTO $cb VALUES (3, 30)")
    val cloneFiles = listData(ca)
    // interloper on A in the SAME group the txn touched (2 and 6
    // share bucket k % 4 = 2): a genuine write-write conflict the
    // group-level OCC must refuse (a disjoint interloper lands — the
    // next test)
    s.sql(s"INSERT INTO $ta VALUES (6, 60)")
    intercept[java.util.ConcurrentModificationException] {
      Transact.commit(txn.id)
    }
    // ALL-or-nothing: neither table advanced past its own state, the
    // clones (including untouched B's) survive with every file in
    // place — the txn can be inspected, rolled back, or re-begun
    assert(RowStore.exists(ca) && RowStore.exists(cb),
      "a refused commit must keep the transaction open")
    assert(listData(ca) == cloneFiles, "refusal must move nothing")
    assert(s.table(tb).count() == 1,
      "the non-conflicting table must not publish either")
    assert(Transact.rollback(txn.id) == 2)
  }

  test("group-DISJOINT interloper and transaction BOTH land (rebase)") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.g"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"INSERT INTO $ck VALUES (2, 20)")   // txn touches group 2
    s.sql(s"INSERT INTO $t VALUES (7, 70)")    // interloper: group 3
    val curBefore = RowStore.currentVersion(t)
    val vs = Transact.commit(txn.id)
    // the commit REBASED onto the interloper's head instead of
    // refusing: both writes are visible, nothing lost, version linear
    assert(vs == Seq(curBefore + 1))
    assert(s.table(t).orderBy("k").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (7L, 70L)),
      "group-disjoint concurrent writer and transaction must BOTH land")
    // overlapping refusal still holds on the same machinery: pinned
    // by 'refused commit leaves the txn open' above
  }

  test("registry: open txns are observable; GC reclaims expired ones") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.r"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val v0 = RowStore.currentVersion(t)
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"INSERT INTO $ck VALUES (2, 20)")
    // observable from the registry (any process could run this scan)
    val rec = Transact.scan().find(_.id == txn.id)
    assert(rec.isDefined && rec.get.tables == Seq(t) &&
      rec.get.bases(t) == v0 && rec.get.ownedByThisProcess,
      s"open txn must be on the registry: ${Transact.scan()}")
    // a generous TTL keeps it; ttl 0 reclaims it: clones + record
    // gone, base untouched
    val (e0, k0) = Transact.gcTransactions(3600 * 1000L)
    assert(e0 == 0 && k0 >= 1, s"($e0, $k0)")
    assert(RowStore.exists(ck))
    val (e1, _) = Transact.gcTransactions(0L)
    assert(e1 >= 1)
    assert(!RowStore.exists(ck), "GC must drop the expired clone")
    assert(Transact.scan().forall(_.id != txn.id))
    assert(RowStore.currentVersion(t) == v0 && s.table(t).count() == 1,
      "GC must never touch the base")
    // the reclaimed id is dead for commit and rollback alike
    intercept[IllegalArgumentException] { Transact.commit(txn.id) }
    intercept[IllegalArgumentException] { Transact.rollback(txn.id) }
  }

  test("a foreign process's txn: observed, commit refused, GC'd") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.x"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val v0 = RowStore.currentVersion(t)
    // P1: a SECOND JVM opens a transaction and exits WITHOUT
    // committing — the crashed-owner shape; its record and clones
    // survive it on the shared warehouse (this process's scratch
    // root, handed to the worker via -Dgraft.warehouse.root)
    val sharedRoot = graft.sources.RowStore.dataDir(t)
      .stripSuffix(s"/$t/data")
    val before = Transact.scan().map(_.id).toSet
    XProc.await(XProc.fork(sharedRoot, Seq(
      "CALL graft_dml.system.begin_transaction('tx.x')")))
    val foreign = Transact.scan().filterNot(o => before(o.id))
    assert(foreign.size == 1, s"worker's txn must be observable: " +
      s"${Transact.scan()}")
    val o = foreign.head
    assert(!o.ownedByThisProcess && o.tables == Seq(t))
    assert(RowStore.exists(Transact.cloneKey(t, o.id)),
      "the foreign clone is visible debris")
    // this process may neither commit nor roll back the foreign txn
    val e1 = intercept[IllegalArgumentException] { Transact.commit(o.id) }
    assert(e1.getMessage.contains("owned by process"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] { Transact.rollback(o.id) }
    assert(e2.getMessage.contains("owned by process"), e2.getMessage)
    // the owner is dead: GC reclaims its debris, base untouched
    val (reclaimed, _) = Transact.gcTransactions(0L)
    assert(reclaimed >= 1)
    assert(!RowStore.exists(Transact.cloneKey(t, o.id)))
    assert(RowStore.currentVersion(t) == v0 && s.table(t).count() == 1)
  }

  test("MOR dv table: delta and vector state survives adoption") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.m"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor', 'deletes'='dv')")
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 8).map(i => s"($i, ${i * 10})").mkString(", "))
    // pre-txn MOR churn so the clone carries existing deltas + dvs
    s.sql(s"DELETE FROM $t WHERE k = 7")
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"""MERGE INTO $ck c USING (SELECT 1 AS k UNION ALL
      SELECT 2 AS k) x ON c.k = x.k
      WHEN MATCHED AND c.k = 1 THEN UPDATE SET v = 999
      WHEN MATCHED THEN DELETE""")
    Transact.commit(txn.id)
    // the adopted snapshot replays deltas + vectors over the base
    // files exactly as the clone did (leaf-rid pairing intact)
    assert(s.table(t).orderBy("k").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (1L, 999L)) ++ (3 until 7).map(i =>
        (i.toLong, i * 10L)))
    // the clone's MERGE deleted from a file that ALREADY carried a
    // vector (the pre-txn k=7 delete): the clone-side lookup must
    // find the existing vector through the clone manifest — a missed
    // lookup (r15 advisor: snapshotTable absolutized dvTargets out
    // of leaf form) stacks a second vector on the same target, which
    // the union keeps observationally correct but breaks the
    // at-most-one-vector-per-file invariant forever
    val dvs = RowStore.readManifest(t, RowStore.currentVersion(t))
      .filter(_.kind == "dv")
    assert(dvs.nonEmpty && dvs.groupBy(_.dvTarget).forall(_._2.size == 1),
      s"adoption must preserve at-most-one-vector-per-file: " +
        dvs.map(e => (e.name, e.dvTarget)).mkString("; "))
    assert(dvs.flatMap(_.dvTarget).forall(!_.startsWith("/")),
      s"dv targets must stay in leaf form through clone+adoption: $dvs")
    // and the table keeps working post-adoption: further MOR churn
    s.sql(s"DELETE FROM $t WHERE k = 0")
    assert(s.table(t).count() == 5)
  }

  test("a commit that fails mid-adoption CLOSES the transaction") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.f"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val v0 = RowStore.currentVersion(t)
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"INSERT INTO $ck VALUES (2, 20)")
    // inject a phase-1 IO failure: delete one txn-written file out
    // from under the adoption's Files.move
    val cloneDir = Paths.get(RowStore.dataDir(ck))
    val victim = Files.list(cloneDir).iterator().asScala
      .filter(!_.getFileName.toString.startsWith(".")).toSeq.head
    Files.delete(victim)
    val e = intercept[IllegalStateException] { Transact.commit(txn.id) }
    assert(e.getMessage.contains("CLOSED"), e.getMessage)
    // the contract: base untouched, clones dropped, id dead — a
    // retry-poisoned transaction must not stay claimable
    assert(RowStore.currentVersion(t) == v0 && s.table(t).count() == 1)
    assert(!RowStore.exists(ck), "a closed txn's clones must drop")
    intercept[IllegalArgumentException] { Transact.commit(txn.id) }
    intercept[IllegalArgumentException] { Transact.rollback(txn.id) }
  }

  test("DDL inside a transaction refuses at commit") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.e"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"ALTER TABLE $ck ADD COLUMN extra BIGINT")
    val e = intercept[IllegalArgumentException] { Transact.commit(txn.id) }
    assert(e.getMessage.contains("DDL"), e.getMessage)
    assert(Transact.rollback(txn.id) == 1)
    assert(s.table(t).columns.toSeq == Seq("k", "v"))
  }

  test("concurrent DDL on the BASE reads as a retryable conflict") {
    val s = SparkSuite.spark
    val t = "graft_dml.tx.h"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val txn = Transact.begin(Seq(t))
    val ck = Transact.cloneKey(t, txn.id)
    s.sql(s"INSERT INTO $ck VALUES (2, 20)")
    // the interloper evolves the BASE's schema — the transaction did
    // no DDL, so the refusal must be the ConcurrentModification retry
    // signal, not the 'DDL in transactions' misdiagnosis (r16 review)
    s.sql(s"ALTER TABLE $t ADD COLUMN extra BIGINT")
    val e = intercept[java.util.ConcurrentModificationException] {
      Transact.commit(txn.id)
    }
    assert(e.getMessage.contains("evolved concurrently"), e.getMessage)
    assert(Transact.rollback(txn.id) == 1)
    assert(s.table(t).columns.toSeq == Seq("k", "v", "extra"))
  }
}
