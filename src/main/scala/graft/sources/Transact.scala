package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** MULTI-STATEMENT CROSS-TABLE TRANSACTIONS — the general form of
  * q176's atomic publish (r14 verdict item 7): BEGIN … any DML across
  * several `graft_dml` tables … COMMIT, all-or-nothing, with snapshot
  * isolation in between.
  *
  * Mechanism: snapshot-isolated WORKING CLONES, not staged branches —
  * branch staging only composes appends (the WAP contract), while a
  * transaction needs full DML generality:
  *
  *   - BEGIN: per declared table, record its base version and
  *     zero-copy shallow-clone it ([[RowStoreOps.snapshotTable]] —
  *     metadata-only, no data bytes move) to `<table>__txn<id>`, and
  *     persist an OPEN-TRANSACTION RECORD in the warehouse
  *     (`_txns/txn<id>`: owner process token, creation time, tables
  *     with their bases). Statements then run against the clones with
  *     EVERYTHING the engine supports (MERGE/UPDATE/DELETE/INSERT/
  *     OPTIMIZE): a clone is a real table. Readers of the base tables
  *     see the pre-txn snapshots throughout — isolation by
  *     construction.
  *   - COMMIT (one commitLock section): OCC-validate every base
  *     table, then ADOPT each clone's snapshot into its base: files
  *     the txn wrote (they live in the clone's data dir) MOVE by
  *     same-fs rename into the base's data dir, untouched entries
  *     (absolute references into the base's own data dir, the
  *     shallow-clone form) relativize back to leaf names, true
  *     external references (add_files imports) carry verbatim. Leaf
  *     names never change, so `leaf#pos` rid addressing — and with it
  *     every delta record and deletion-vector pairing — survives
  *     adoption untouched. The tables then publish through
  *     [[RowStore.commitTables]], the multi-table commit
  *     publish_branches also uses: every table's next manifest is
  *     STAGED before any links; the clones and the record drop.
  *
  *     OCC is GROUP-LEVEL (r15 verdict item 4): a base that advanced
  *     since BEGIN refuses only when a (spec, group) pair the
  *     transaction TOUCHED also changed under it — the same per-group
  *     signature rule single-table rewrites validate with
  *     ([[GroupWrite]]'s ReplaceGroups) — otherwise the commit
  *     REBASES: untouched groups carry the interloper's entries from
  *     the current head, touched groups adopt the clone's. The rebase
  *     requires cleanly group-tagged state; a table-wide (group < 0)
  *     delta anywhere in play falls back to the strict
  *     version-equality refusal (group replay order against
  *     table-wide records is not reconstructible across a rebase).
  *   - ROLLBACK: drop the clones and the record. The bases were never
  *     touched.
  *
  * CROSS-PROCESS completeness (r15 verdict item 3): the on-disk
  * record makes open transactions OBSERVABLE from any process
  * ([[scan]]), COMMIT/ROLLBACK refuse from a process that does not
  * own the record (the owner token), and [[gcTransactions]] — exposed
  * as `CALL graft_dml.system.gc_transactions(ttl_ms)` — reclaims a
  * crashed owner's debris: expired records drop their clones and die,
  * bases untouched by construction.
  *
  * Scale note: BEGIN and COMMIT are metadata-sized (manifest entries ×
  * tables); the only per-file work at COMMIT is one rename per file
  * the transaction actually wrote. Nothing row-sized ever rides the
  * driver.
  *
  * Remaining confinement (documented): schema evolution inside a
  * transaction refuses at COMMIT (adoption carries entries, not
  * metadata). */
object Transact {

  final case class Txn(id: Long, tables: Seq[String],
    bases: Map[String, Int], metas: Map[String, RowStore.Meta])

  /** One table's validated commit plan: `carried` entries come from
    * the CURRENT head (the interloper's world, kept verbatim on a
    * rebase; empty on the fast path), `adopt` entries come from the
    * clone manifest in clone-name form (phase 1 moves/relativizes
    * them). */
  private final case class TablePlan(table: String, cur: Int,
    carried: Seq[RowStore.FileEntry], adopt: Seq[RowStore.FileEntry])

  /** Ids seed from the JVM start time (ms, shifted to leave counter
    * room) rather than 1: clone names land on SHARED disk, so two
    * driver processes — or a restart after a crash that left
    * `<table>__txnN` debris — must never draw an id a sibling or a
    * corpse already used (the review finding: per-JVM `1` collided
    * both ways). The create-if-absent record write backstops even
    * that. */
  private val nextId = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis() << 12)

  /** This process's identity in transaction records — what makes a
    * cross-process COMMIT/ROLLBACK attempt distinguishable from the
    * owner's. */
  private val processToken = java.util.UUID.randomUUID().toString

  def cloneKey(table: String, id: Long): String = s"${table}__txn$id"

  // ── the on-disk registry ──────────────────────────────────────────
  // `_txns/txn<id>`, line-oriented: owner token, creation ms, one
  // line per table with its base version. Written create-if-absent at
  // BEGIN (an id collision with crash debris refuses instead of
  // adopting the corpse), deleted at COMMIT/ROLLBACK/GC. The record
  // is advisory metadata — the clones ARE the transaction's state —
  // so a torn world (record without clones or vice versa) degrades to
  // reclaimable debris, never to wrong data.

  private def txnDir(lake: RowStore): Path = {
    val p = Paths.get(lake.tableDir("_txns"))
    Files.createDirectories(p)
    p
  }
  private def recordPath(lake: RowStore, id: Long): Path = txnDir(lake).resolve(s"txn$id")

  private def writeRecord(lake: RowStore, txn: Txn): Unit = {
    val body = s"owner\t$processToken\nms\t${System.currentTimeMillis()}\n" +
      txn.tables.map(t => s"table\t$t\t${txn.bases(t)}\n").mkString
    Files.write(recordPath(lake, txn.id),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    ()
  }

  /** An open transaction as any process sees it. */
  final case class OpenTxn(id: Long, owner: String, createdMs: Long,
    tables: Seq[String], bases: Map[String, Int]) {
    def ownedByThisProcess: Boolean = owner == Transact.processToken
  }

  private def readRecord(p: Path): Option[OpenTxn] =
    try {
      val lines = Files.readAllLines(p).asScala.toSeq.map(_.split("\t"))
      val id = p.getFileName.toString.stripPrefix("txn").toLong
      val owner = lines.collectFirst { case Array("owner", o) => o }.get
      val ms = lines.collectFirst { case Array("ms", m) => m.toLong }.get
      val tabs = lines.collect { case Array("table", t, b) => t -> b.toInt }
      Some(OpenTxn(id, owner, ms, tabs.map(_._1), tabs.toMap))
    } catch { case _: Exception => None } // concurrently deleted / torn

  /** Every open transaction's record, any owner. */
  def scan(lake: RowStore): Seq[OpenTxn] = {
    val d = txnDir(lake)
    RowStore.listNames(d).filter(_.startsWith("txn"))
      .flatMap(n => readRecord(d.resolve(n))).sortBy(_.id)
  }

  /** Refuse an operation on a transaction this process does not own.
    * A missing record reads as closed/GC'd (the in-process
    * [[RowStore.openTxns]] check then words the error). */
  private def requireOwned(lake: RowStore, op: String, id: Long): Unit =
    readRecord(recordPath(lake, id)).foreach(r => require(r.ownedByThisProcess,
      s"$op: transaction $id is owned by process ${r.owner} — only " +
        "the owning process can commit or roll back (its clones are " +
        s"observable as <table>__txn$id; a dead owner's debris " +
        "reclaims via gc_transactions)"))

  /** Reclaim expired transactions (ttl from each record's creation
    * time): drop their clones and records; bases untouched by
    * construction. Any process may run it — the intended janitor for
    * a crashed owner's debris. Returns (reclaimed, still open). */
  def gcTransactions(lake: RowStore, ttlMs: Long): (Int, Int) =
    lake.commitLock.synchronized {
      val now = System.currentTimeMillis()
      val all = scan(lake)
      val (expired, kept) = all.partition(o => now - o.createdMs >= ttlMs)
      expired.foreach { o =>
        o.tables.foreach { t =>
          lake.drop(cloneKey(t, o.id)); ()
        }
        Files.deleteIfExists(recordPath(lake, o.id))
        lake.openTxns.remove(o.id)
      }
      (expired.size, kept.size)
    }

  /** Start a transaction over `tables` (store keys). Returns the txn
    * whose clones (`cloneKey(t, id)`) statements should target. A
    * begin that fails mid-way (e.g. a clone-name collision on table
    * 3 of 4) drops the clones it already made — no leaked debris
    * without a rollback handle. */
  def begin(lake: RowStore, tables: Seq[String]): Txn =
    lake.commitLock.synchronized {
      require(tables.nonEmpty, "begin_transaction: no tables")
      require(tables.distinct.size == tables.size,
        "begin_transaction: a table may appear once")
      tables.foreach(t => require(lake.exists(t),
        s"begin_transaction: $t does not exist"))
      val id = nextId.getAndIncrement()
      val bases = tables.map(t => t -> lake.currentVersion(t)).toMap
      val metas = tables.map(t => t -> lake.readMeta(t)).toMap
      val made = scala.collection.mutable.ListBuffer.empty[String]
      val txn = Txn(id, tables, bases, metas)
      try {
        tables.foreach { t =>
          RowStoreOps.snapshotTable(t, cloneKey(t, id)); made += t
        }
        writeRecord(lake, txn)
      } catch { case e: Throwable =>
        made.foreach(t => lake.drop(cloneKey(t, id)))
        throw e
      }
      lake.openTxns.put(id, txn)
      txn
    }

  /** Abandon the transaction: drop the clones and the record, bases
    * untouched. Runs under the commit lock and atomically claims the
    * id, so a rollback can never race a concurrent commit on the same
    * transaction into deleting clone files mid-adoption. */
  def rollback(lake: RowStore, id: Long): Int = lake.commitLock.synchronized {
    requireOwned(lake, "rollback_transaction", id)
    val txn = lake.openTxns.remove(id)
    require(txn != null, s"rollback_transaction: no open transaction $id")
    val n = txn.tables.count(t => lake.drop(cloneKey(t, id)))
    Files.deleteIfExists(recordPath(lake, id))
    n
  }

  /** Publish every clone's snapshot onto its base, all-or-nothing.
    * Returns the new version per table (input order). On a PHASE-0
    * (OCC/schema) refusal the transaction STAYS OPEN — nothing
    * adopted, no file moved — and the caller rolls back or re-begins.
    * A failure AFTER phase 0 (an IO error mid-adoption, or the
    * cross-process window below) CLOSES the transaction instead:
    * retrying would re-move already-moved files, so the clones drop,
    * the id dies, and the error says so — already-published tables
    * are durable, unpublished bases are untouched, and any moved-but-
    * unreferenced files are debris `remove_orphan_files` reclaims. */
  def commit(lake: RowStore, id: Long): Seq[Int] = {
    lake.commitLock.synchronized {
      requireOwned(lake, "commit_transaction", id)
      val txn = lake.openTxns.get(id)
      require(txn != null, s"commit_transaction: no open transaction $id")
      // phase 0 — OCC + schema validation, ALL before ANY mutation
      val plans = txn.tables.map(t => validate(lake, txn, t))
      // phases 1+2 mutate (file moves, links): any failure past this
      // point CLOSES the transaction — see the scaladoc contract
      try commitAdopt(lake, txn, plans)
      catch { case e: Throwable =>
        txn.tables.foreach(t => lake.drop(cloneKey(t, id)))
        lake.openTxns.remove(id)
        Files.deleteIfExists(recordPath(lake, id))
        throw new IllegalStateException(
          s"transaction $id failed mid-adoption and was CLOSED " +
            "(already-published tables are durable, unpublished bases " +
            "untouched, moved-but-unreferenced files reclaim via " +
            "remove_orphan_files); re-begin to retry", e)
      }
    }
  }

  /** Phase 0 for one table: schema check, then OCC. A base still at
    * its begin version adopts the whole clone manifest; a base that
    * advanced validates at GROUP level and plans a rebase (see the
    * scaladoc) or refuses. Pure — no mutation. */
  private def validate(lake: RowStore, txn: Txn, t: String): TablePlan = {
    val id = txn.id
    val ck = cloneKey(t, id)
    // diagnose against the BEGIN-time meta snapshot, so a concurrent
    // DDL on the base reads as the retryable conflict it is instead
    // of being blamed on the transaction (r16 review finding)
    val m0 = txn.metas(t)
    if (lake.readMeta(t) != m0)
      throw new java.util.ConcurrentModificationException(
        s"$t: table metadata evolved concurrently since transaction " +
          s"$id began — NOTHING was committed (all-or-nothing); " +
          "re-begin against the new schema")
    require(lake.readMeta(ck) == m0,
      s"$t: schema/metadata evolved inside transaction $id — DDL " +
        "in transactions is not supported; rollback")
    val cur = lake.currentVersion(t)
    val cloneMan = lake.readManifest(ck, lake.currentVersion(ck))
    if (cur == txn.bases(t)) return TablePlan(t, cur, Seq.empty, cloneMan)
    val base = txn.bases(t)
    def refuse(why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"$t: transaction $id began at version $base but the table " +
          s"is now at $cur and $why — NOTHING was committed " +
          "(all-or-nothing); rollback or re-begin")
    val baseMan =
      try lake.readManifest(t, base)
      catch { case _: Exception =>
        refuse("the begin version's manifest is no longer retained " +
          "(cannot validate at group level)")
      }
    val curMan = lake.readManifest(t, cur)
    // ROW LINEAGE: clone-minted id ranges start at the BEGIN-time
    // counter (the clone's v0 `#nextrowid` floor). If the advanced
    // base — or an already-adopted sibling transaction — ALSO minted
    // past that floor, the two ranges overlap and adoption would
    // publish duplicate `_row_id`s; clone-minted ids can be
    // MATERIALIZED inside the clone's rewrite-written files, so they
    // cannot be reassigned at adoption. Refuse — the id-space twin
    // of a write-write conflict, and deliberately NARROWER than the
    // old table-level OCC: it fires only when BOTH sides assigned
    // ids, so a group-disjoint interloper that merely rewrote
    // existing rows still rebases cleanly on non-rowids semantics.
    if (m0.rowids) {
      val floor = lake.nextRowId(ck, 0)
      val cloneNow = lake.nextRowId(ck, lake.currentVersion(ck))
      val baseNow = lake.nextRowId(t, cur)
      if (cloneNow > floor && baseNow > floor)
        refuse("both the transaction and the base assigned row-id " +
          "ranges past the begin-time counter — adoption would " +
          "publish duplicate _row_ids")
    }
    // clone entry names normalized to the BASE's addressing, so they
    // compare against baseMan: an untouched shallow-clone reference
    // (absolute into the base's data dir) strips back to its leaf;
    // txn-written files (clone-relative) and true externals never
    // match a base entry and read as changes
    val baseData = lake.dataDir(t)
    val cloneNorm = cloneMan.map(e =>
      if (e.name.startsWith(baseData + "/"))
        e.copy(name = e.name.stripPrefix(baseData + "/"))
      else e)
    // the rebase requires cleanly group-tagged state: group replay
    // order against a TABLE-WIDE delta is not reconstructible when
    // groups interleave from two histories
    if ((cloneNorm ++ baseMan ++ curMan)
        .exists(e => e.kind != "base" && e.group < 0))
      refuse("a table-wide (untagged) delta is in play — group-level " +
        "validation does not apply")
    def sig(man: Seq[RowStore.FileEntry], sg: (Int, Int)) =
      man.filter(e => e.spec == sg._1 && e.group == sg._2).toSet
    val pairs = (cloneNorm ++ baseMan).map(e => (e.spec, e.group)).toSet
    val touched = pairs.filter(sg => sig(cloneNorm, sg) != sig(baseMan, sg))
    val conflicting = touched.filter(sg => sig(baseMan, sg) != sig(curMan, sg))
    if (conflicting.nonEmpty)
      refuse(s"(spec, group) pairs ${conflicting.toSeq.sorted
        .mkString(",")} changed under the transaction's own writes")
    TablePlan(t, cur,
      curMan.filterNot(e => touched((e.spec, e.group))),
      cloneMan.filter(e => touched((e.spec, e.group))))
  }

  /** Phases 1+2 of [[commit]] (caller holds the lock and owns the
    * failure contract): adopt every clone's files, then publish every
    * table through [[RowStore.commitTables]]. KNOWN WINDOW (the
    * copy_into/publish_branches documentation discipline): a
    * cross-process writer that commits a version number between
    * phase 0 and a later table's link makes that link throw
    * CommitConflictException with EARLIER tables already published
    * and the remaining clones' txn-written files already moved — the
    * already-published tables are correct and durable, the
    * unpublished tables are untouched, and the moved files are
    * unreferenced debris remove_orphan_files reclaims; the residual
    * transaction closes rather than retries. Single-writer-per-table
    * deployments (this harness) never hit it; a real format closes it
    * with a catalog-service CAS over the whole table set. */
  private def commitAdopt(lake: RowStore, txn: Txn, plans: Seq[TablePlan]): Seq[Int] = {
    val id = txn.id
    // phase 1 — adopt: every table's next entry list, in base form
    val adopted = plans.map { plan =>
      val t = plan.table
      val baseData = lake.dataDir(t)
      val cloneData = lake.dataDir(cloneKey(t, id))
      def adopt(n: String): String =
        if (!n.startsWith("/")) {
          // clone-relative = a file THIS transaction wrote: move it
          // into the base's data dir (same filesystem, pure rename).
          // UUID leaf names make collisions impossible.
          Files.move(Paths.get(cloneData, n), Paths.get(baseData, n))
          n
        } else if (n.startsWith(baseData + "/"))
          n.stripPrefix(baseData + "/") // untouched shallow-clone ref
        else n // genuine external reference (add_files import)
      (t, plan.cur,
        plan.carried ++ plan.adopt.map(e => e.copy(name = adopt(e.name))))
    }
    // phase 2 — stage all, then link all
    val versions = lake.commitTables(adopted)
    txn.tables.foreach(t => lake.drop(cloneKey(t, id)))
    lake.openTxns.remove(id)
    Files.deleteIfExists(recordPath(lake, id))
    versions
  }
}
