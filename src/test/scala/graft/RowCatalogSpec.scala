package graft

import org.scalatest.funsuite.AnyFunSuite

/** The DML catalog's statement surface beyond q106's MERGE+DELETE row:
  * UPDATE (RewriteUpdateTable's group-based path), DELETE of
  * everything-matching, and catalog plumbing (exists/drop). Each
  * statement's end state is asserted against values computed here —
  * tiny fixture, exact expectations. */
class RowCatalogSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark

  test("UPDATE, DELETE and catalog plumbing against the DML catalog") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.t")
    s.sql("CREATE TABLE graft_dml.spec.t (k BIGINT, v BIGINT, tag STRING)")
    s.sql("INSERT INTO graft_dml.spec.t VALUES " +
      "(1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a'), (4, 40, 'b'), (5, 50, 'a')")

    // UPDATE through the row-level operation (group-based rewrite:
    // scan all rows, recompute, replace)
    s.sql("UPDATE graft_dml.spec.t SET v = v + 1000 WHERE tag = 'a'")
    val afterUpdate = s.table("graft_dml.spec.t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(afterUpdate == Seq((1L, 1010L, "a"), (2L, 20L, "b"),
      (3L, 1030L, "a"), (4L, 40L, "b"), (5L, 1050L, "a")))

    // DELETE with a predicate no metadata shortcut can answer
    s.sql("DELETE FROM graft_dml.spec.t WHERE v % 20 = 0")
    val afterDelete = s.table("graft_dml.spec.t").orderBy("k")
      .collect().map(_.getLong(0)).toSeq
    assert(afterDelete == Seq(1L, 3L, 5L))

    // INSERT OVERWRITE replaces the table contents (truncating write)
    s.sql("INSERT OVERWRITE graft_dml.spec.t VALUES (9, 90, 'z')")
    assert(s.table("graft_dml.spec.t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((9L, 90L, "z")))
    // rebuild the 3-row state the later assertions expect
    s.sql("INSERT OVERWRITE graft_dml.spec.t VALUES " +
      "(1, 10, 'a'), (3, 1030, 'a'), (5, 1050, 'a')")

    // additive schema evolution: existing rows (and retained
    // versions) surface NULL for the new column; DML can then fill it
    s.sql("ALTER TABLE graft_dml.spec.t ADD COLUMN score BIGINT")
    assert(s.table("graft_dml.spec.t").collect()
      .forall(_.isNullAt(3)), "pre-evolution rows must surface NULL")
    s.sql("UPDATE graft_dml.spec.t SET score = k * 100 WHERE k >= 3")
    val scores = s.table("graft_dml.spec.t").orderBy("k")
      .collect().map(r => if (r.isNullAt(3)) -1L else r.getLong(3)).toSeq
    assert(scores == Seq(-1L, 300L, 500L))
    // a pre-evolution version read pins its SNAPSHOT-TIME schema
    // (Iceberg/Delta's rule): v1 predates the ALTER, so no score column
    val v1 = s.sql("SELECT * FROM graft_dml.spec.t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v", "tag"))
    assert(v1.count() == 5)
    // the ALTER itself commits a version (same files, new schema
    // header): the post-ALTER, pre-backfill snapshot reads score as
    // all-NULL under the widened schema
    val v6 = s.sql("SELECT * FROM graft_dml.spec.t VERSION AS OF 6")
    assert(v6.columns.toSeq == Seq("k", "v", "tag", "score"))
    assert(v6.count() == 3 && v6.collect().forall(_.isNullAt(3)))

    // catalog plumbing
    assert(s.catalog.tableExists("graft_dml.spec.t"))
    s.sql("DROP TABLE graft_dml.spec.t")
    assert(!s.catalog.tableExists("graft_dml.spec.t"))
  }

  test("COW MERGE touching 1 of 4 groups rewrites exactly 1 file") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cow")
    s.sql("CREATE TABLE graft_dml.spec.cow (k BIGINT, v BIGINT, tag STRING)")
    // single-statement VALUES insert → one writer task → exactly one
    // base file per (non-empty) group; longs bucket by k % 4
    s.sql("INSERT INTO graft_dml.spec.cow VALUES " +
      (0 until 16).map(i => s"($i, ${i * 10}, 't')").mkString(", "))
    val key = "graft_dml.spec.cow"
    val v1 = lake.readManifest(key, lake.currentVersion(key))
    def files(m: Seq[RowStore.FileEntry], g: Int): Seq[String] =
      m.filter(e => e.kind == "base" && e.group == g).map(_.name)
    assert((0 until 4).forall(g => files(v1, g).size == 1),
      s"expected one base file per group, got $v1")

    // the merge source matches ONLY keys ≡ 2 (mod 4) → group 2: the
    // runtime group filter must prune the operation scan to that one
    // group, so groups 0/1/3 keep their files VERBATIM across the swap
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cow_src")
    s.sql("CREATE TABLE graft_dml.spec.cow_src (k BIGINT, dv BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.cow_src VALUES (2, 1), (6, 1)")
    s.sql("""MERGE INTO graft_dml.spec.cow t
      USING graft_dml.spec.cow_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = t.v + s.dv""")
    val v2 = lake.readManifest(key, lake.currentVersion(key))
    for (g <- Seq(0, 1, 3))
      assert(files(v2, g) == files(v1, g),
        s"group $g was rewritten by a MERGE that never matched it")
    assert(files(v2, 2) != files(v1, 2), "matched group must be replaced")
    assert(files(v2, 2).size == 1,
      s"1-group MERGE must rewrite exactly 1 file, got ${files(v2, 2)}")

    // values: 2 and 6 updated; 10 and 14 carried over in the rewrite
    val got = s.table("graft_dml.spec.cow").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0 until 16).map(i =>
      (i.toLong, i * 10L + (if (i == 2 || i == 6) 1L else 0L))))
    // time travel still reads the replaced file (files are immutable)
    assert(s.sql("SELECT sum(v) FROM graft_dml.spec.cow VERSION AS OF 1")
      .head().getLong(0) == (0 until 16).map(_ * 10L).sum)
    s.sql("DROP TABLE graft_dml.spec.cow")
    s.sql("DROP TABLE graft_dml.spec.cow_src")
  }

  test("MOR UPDATE writes delta records and never rewrites base files") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mor")
    s.sql("CREATE TABLE graft_dml.spec.mor (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.mor VALUES " +
      (0 until 8).map(i => s"($i, ${i * 10})").mkString(", "))
    val key = "graft_dml.spec.mor"
    val v1 = lake.readManifest(key, lake.currentVersion(key))

    s.sql("UPDATE graft_dml.spec.mor SET v = v + 7 WHERE k % 2 = 0")
    val v2 = lake.readManifest(key, lake.currentVersion(key))
    assert(v2.filter(_.kind == "base") == v1.filter(_.kind == "base"),
      "MOR must not rewrite base files")
    // matched keys {0,2,4,6} live in groups {0,2}: exactly one
    // group-tagged delta file each, at any task parallelism
    assert(v2.filter(_.kind == "delta").map(_.group).sorted == Seq(0, 2),
      s"expected one delta file per touched group, got $v2")

    // merge-on-read resolution sees the updates; time travel does not
    val got = s.table("graft_dml.spec.mor").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0 until 8).map(i =>
      (i.toLong, i * 10L + (if (i % 2 == 0) 7L else 0L))))
    assert(s.sql("SELECT sum(v) FROM graft_dml.spec.mor VERSION AS OF 1")
      .head().getLong(0) == (0 until 8).map(_ * 10L).sum)

    // DELETE also lands as a delta; inserts via MERGE get fresh row
    // ids that later statements can hit
    s.sql("DELETE FROM graft_dml.spec.mor WHERE k = 3")
    val v3 = lake.readManifest(key, lake.currentVersion(key))
    assert(v3.filter(_.kind == "base") == v1.filter(_.kind == "base"))
    assert(s.table("graft_dml.spec.mor").count() == 7)
    s.sql("DROP TABLE graft_dml.spec.mor")
  }

  test("OPTIMIZE rewrites only dirty groups, drops their deltas, keeps history") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.opt")
    s.sql("CREATE TABLE graft_dml.spec.opt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.opt VALUES " +
      (0 until 8).map(i => s"($i, ${i * 10})").mkString(", "))
    // deltas land in groups {0, 2} only; groups {1, 3} stay clean
    s.sql("UPDATE graft_dml.spec.opt SET v = v + 7 WHERE k % 2 = 0")
    val key = "graft_dml.spec.opt"
    val before = lake.readManifest(key, lake.currentVersion(key))
    val preVersion = lake.currentVersion(key)
    def base(m: Seq[RowStore.FileEntry], g: Int): Seq[String] =
      m.filter(e => e.kind == "base" && e.group == g).map(_.name)

    val (dirty, _, _) = RowStoreOps.compact(s, key)
    assert(dirty == Set(0, 2), s"dirty groups should be the delta'd ones: $dirty")
    val after = lake.readManifest(key, lake.currentVersion(key))
    // clean groups' files verbatim; dirty groups one FRESH base file;
    // no delta survives
    for (g <- Seq(1, 3)) assert(base(after, g) == base(before, g),
      s"clean group $g was rewritten by OPTIMIZE")
    for (g <- Seq(0, 2)) {
      assert(base(after, g).size == 1 && base(after, g) != base(before, g),
        s"dirty group $g must compact to one fresh file")
    }
    assert(after.forall(_.kind == "base"), s"deltas must be dropped: $after")
    // observationally invisible: content unchanged, and the
    // PRE-compact version still resolves base+delta
    val got = s.table("graft_dml.spec.opt").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0 until 8).map(i =>
      (i.toLong, i * 10L + (if (i % 2 == 0) 7L else 0L))))
    assert(s.sql(
      s"SELECT sum(v) FROM graft_dml.spec.opt VERSION AS OF $preVersion")
      .head().getLong(0) == got.map(_._2).sum)
    // compacting a clean table is a metadata no-op: no new version
    val v0 = lake.currentVersion(key)
    assert(RowStoreOps.compact(s, key)._1.isEmpty)
    assert(lake.currentVersion(key) == v0)
    s.sql("DROP TABLE graft_dml.spec.opt")
  }

  test("optimistic concurrency: a stale COW rewrite refuses to commit") {
    val s = spark
    import graft.sources.{GroupRowLevelOp, GroupWrite, RowStore}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.occ")
    s.sql("CREATE TABLE graft_dml.spec.occ (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.occ VALUES (1, 10), (2, 20)")
    val key = "graft_dml.spec.occ"
    // a row-level operation plans its scan at the current version...
    val op = new GroupRowLevelOp(lake, key, lake.readMeta(key),
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions()
    // ...another writer commits in between...
    s.sql("INSERT INTO graft_dml.spec.occ VALUES (3, 30)")
    // ...so the stale rewrite's commit must refuse, not clobber
    val w = new graft.sources.GroupWrite(lake, key, lake.readMeta(key),
      lake.readMeta(key).schema, GroupWrite.ReplaceGroups(op))
    intercept[java.util.ConcurrentModificationException] {
      w.commit(Array.empty)
    }
    // the interleaved insert survived and the table is intact
    assert(s.table("graft_dml.spec.occ").count() == 3)
    s.sql("DROP TABLE graft_dml.spec.occ")
  }

  test("concurrent MERGEs: disjoint groups both commit, overlapping refuse") {
    val s = spark
    import graft.sources.RowStore
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cc")
    s.sql("CREATE TABLE graft_dml.spec.cc (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.cc VALUES " +
      (0 until 16).map(i => s"($i, ${i * 10})").mkString(", "))
    val key = "graft_dml.spec.cc"
    // three merge sources: s1 matches only group 1 (k ≡ 1 mod 4),
    // s2 only group 2, s3 only group 1 again (the overlap case)
    for ((n, rows) <- Seq(("s1", "(1, 100), (5, 100)"),
        ("s2", "(2, 200), (6, 200)"), ("s3", "(1, 7), (9, 7)"))) {
      s.sql(s"DROP TABLE IF EXISTS graft_dml.spec.cc_$n")
      s.sql(s"CREATE TABLE graft_dml.spec.cc_$n (k BIGINT, dv BIGINT)")
      s.sql(s"INSERT INTO graft_dml.spec.cc_$n VALUES $rows")
    }
    def merge(src: String): Unit = {
      s.sql(s"""MERGE INTO graft_dml.spec.cc t
        USING graft_dml.spec.cc_$src x ON t.k = x.k
        WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")
      ()
    }
    val pool = Executors.newFixedThreadPool(2)
    // the pre-commit latch holds BOTH commits until both contenders
    // have planned and executed their scans — the stale-snapshot
    // interleaving the OCC validation exists for, made deterministic
    def race(a: String, b: String): Seq[Option[Throwable]] = {
      val latch = new CountDownLatch(2)
      lake.preCommitHook =
        () => { latch.countDown(); latch.await(60, TimeUnit.SECONDS); () }
      try {
        val fs = Seq(a, b).map { src =>
          pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
            override def call(): Option[Throwable] =
              try { merge(src); None }
              catch { case t: Throwable => Some(t) }
          })
        }
        fs.map(_.get(180, TimeUnit.SECONDS))
      } finally lake.preCommitHook = () => ()
    }

    // DISJOINT groups: both planned at the same snapshot, both must
    // commit — the second validates group 1's files unchanged and
    // rebases onto the winner's manifest (Iceberg's
    // partition-disjoint concurrent-rewrite behavior)
    val v0 = lake.currentVersion(key)
    val r1 = race("s1", "s2")
    assert(r1.forall(_.isEmpty),
      s"disjoint-group merges must both commit, got $r1")
    assert(lake.currentVersion(key) == v0 + 2,
      "manifest linearity: two commits, two consecutive versions")
    val afterDisjoint = s.table(key).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterDisjoint == (0 until 16).map(i => (i.toLong, i * 10L +
      (if (i == 1 || i == 5) 100L
      else if (i == 2 || i == 6) 200L else 0L))),
      s"both updates must be applied exactly once: $afterDisjoint")

    // OVERLAPPING group: exactly one commits; the loser sees group 1
    // changed since its scan and refuses (never silently drops the
    // winner's update), manifest advances by exactly one version
    val v1 = lake.currentVersion(key)
    val sum1 = afterDisjoint.map(_._2).sum
    val r2 = race("s1", "s3")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val failed = r2.flatten
    assert(failed.size == 1,
      s"exactly one overlapping merge must refuse, got $r2")
    assert(causes(failed.head)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"the refusal must be the OCC conflict, got ${causes(failed.head)}")
    assert(lake.currentVersion(key) == v1 + 1,
      "manifest linearity: one commit, one version")
    val sum2 = s.table(key).agg(org.apache.spark.sql.functions.sum("v"))
      .head().getLong(0)
    assert(sum2 == sum1 + 200L || sum2 == sum1 + 14L,
      s"the winner's update must be applied exactly once: $sum1 -> $sum2")
    pool.shutdown()
    for (t <- Seq("cc", "cc_s1", "cc_s2", "cc_s3"))
      s.sql(s"DROP TABLE graft_dml.spec.$t")
  }

  test("bucket(n, col) transform drives grouping; 1-bucket MERGE rewrites 1 group") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.bt")
    // k is NOT the first column: grouping must follow the DECLARED
    // transform, not the first-column default
    s.sql("CREATE TABLE graft_dml.spec.bt (v BIGINT, k BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    val key = "graft_dml.spec.bt"
    assert(lake.readMeta(key).keyCol == "k")
    // constant first column, keys 0..11: first-column grouping would
    // collapse everything into one group; bucket(4, k) spreads them
    // over all four
    s.sql("INSERT INTO graft_dml.spec.bt VALUES " +
      (0 until 12).map(i => s"(7, $i)").mkString(", "))
    val v1 = lake.readManifest(key, lake.currentVersion(key))
    assert(v1.map(_.group).distinct.sorted == Seq(0, 1, 2, 3),
      s"bucket(4, k) must spread constant-v rows across all groups: $v1")
    // zone maps track the TRANSFORM column: group g holds keys
    // {g, g+4, g+8}, so each file's stats span [g, g+8]
    assert(v1.forall(e => e.minK.contains(e.group.toLong) &&
      e.maxK.contains(e.group + 8L)),
      s"manifest stats must cover the bucket column's range: $v1")

    // a MERGE whose source keys all hash to bucket 2 must replace
    // exactly group 2's base files (runtime group filtering → COW
    // rewrite scope), leaving every other group's files verbatim
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.bt_src")
    s.sql("CREATE TABLE graft_dml.spec.bt_src (k BIGINT, dv BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.bt_src VALUES (2, 100), (6, 100)")
    s.sql("""MERGE INTO graft_dml.spec.bt t
      USING graft_dml.spec.bt_src x ON t.k = x.k
      WHEN MATCHED THEN UPDATE SET v = t.v + x.dv""")
    val v2 = lake.readManifest(key, lake.currentVersion(key))
    def files(man: Seq[RowStore.FileEntry], g: Int) =
      man.filter(e => e.kind == "base" && e.group == g).map(_.name).toSet
    val changed = (0 until 4).filter(g => files(v1, g) != files(v2, g))
    assert(changed == Seq(2),
      s"MERGE touching only bucket 2 must rewrite exactly group 2, " +
        s"changed: $changed")
    val after = s.table(key).orderBy("k").collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSeq
    assert(after == (0 until 12).map(i =>
      (i.toLong, if (i == 2 || i == 6) 107L else 7L)),
      s"merge content: $after")
    s.sql("DROP TABLE graft_dml.spec.bt")
    s.sql("DROP TABLE graft_dml.spec.bt_src")
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before the instant") {
    val s = spark
    import graft.sources.RowStore
    // controlled clock: v0 CREATE at t=1000, commits 60s apart
    val t0 = 1755000000000L
    val tick = new java.util.concurrent.atomic.AtomicLong(t0)
    lake.clock = () => tick.getAndAdd(60000L)
    try {
      s.sql("DROP TABLE IF EXISTS graft_dml.spec.tt")
      s.sql("CREATE TABLE graft_dml.spec.tt (k BIGINT, v BIGINT)")
      s.sql("INSERT INTO graft_dml.spec.tt VALUES (1, 10)")
      s.sql("INSERT INTO graft_dml.spec.tt VALUES (2, 20)")
      def nAsOf(ms: Long): Long =
        s.sql(s"SELECT COUNT(*) FROM graft_dml.spec.tt " +
          s"TIMESTAMP AS OF timestamp_millis(${ms}L)").head().getLong(0)
      val (c0, c1, c2) = (lake.commitTimeMs("graft_dml.spec.tt", 0),
        lake.commitTimeMs("graft_dml.spec.tt", 1),
        lake.commitTimeMs("graft_dml.spec.tt", 2))
      assert(c0 < c1 && c1 < c2, s"monotonic commit times: $c0 $c1 $c2")
      assert(nAsOf(c0) == 0, "at the CREATE instant: empty v0")
      assert(nAsOf(c1 - 1) == 0, "just before the first insert: v0")
      assert(nAsOf(c1) == 1, "at the first insert's instant: v1 (inclusive)")
      assert(nAsOf(c1 + 30000) == 1, "between commits: still v1")
      assert(nAsOf(c2 + 3600000) == 2, "after the last commit: current")
      val before = intercept[Exception](nAsOf(c0 - 1))
      assert(before.getMessage.contains("no snapshot"),
        s"before-first-commit must fail loudly: ${before.getMessage}")
      // a clock that stalls (or runs backwards) must still yield
      // strictly increasing commit times
      tick.set(c2 - 120000L)
      s.sql("INSERT INTO graft_dml.spec.tt VALUES (3, 30)")
      val c3 = lake.commitTimeMs("graft_dml.spec.tt", 3)
      assert(c3 == c2 + 1, s"stalled clock must advance: $c2 -> $c3")
      s.sql("DROP TABLE graft_dml.spec.tt")
    } finally lake.clock = () => System.currentTimeMillis()
  }

  test("age-based snapshot expiry retains the window, current, and tags") {
    // Iceberg's actual expire_snapshots contract (older_than): a
    // controlled clock commits versions 60 s apart; expiring older
    // than 150 s keeps the last ~2 commits' window plus the current
    // version and the tagged seed — and expired reads fail at
    // analysis, never with a dangling file read
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    val t0 = 1755100000000L
    val tick = new java.util.concurrent.atomic.AtomicLong(t0)
    lake.clock = () => tick.getAndAdd(60000L)
    try {
      s.sql("DROP TABLE IF EXISTS graft_dml.spec.agev")
      val t = "graft_dml.spec.agev"
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")            // v0
      s.sql(s"INSERT INTO $t VALUES (1, 10)")                   // v1
      RowStoreOps.createTag(t, "seed")
      s.sql(s"INSERT INTO $t VALUES (2, 20)")                   // v2
      // v3's COW delete replaces k=2's group file — once v2 expires,
      // that file is referenced by NO retained manifest and reclaims
      s.sql(s"DELETE FROM $t WHERE k = 2")                      // v3
      s.sql(s"INSERT INTO $t VALUES (4, 40)")                   // v4
      s.sql(s"INSERT INTO $t VALUES (5, 50)")                   // v5
      // clock now reads t0 + 6*60s; freeze it for a deterministic cut
      val now = tick.get()
      lake.clock = () => now
      // horizon = now - 150s keeps versions committed in the last
      // 150 s: v4 (now-120s) and v5 (now-60s) — plus tagged v1
      val (retained, deleted) = RowStoreOps.vacuumOlderThan(t, 150000L)
      assert(retained == Seq(1, 4, 5), s"retained $retained")
      assert(deleted > 0, "the expired rewrite's orphaned file reclaims")
      assert(s.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 3L)
      assert(s.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 'seed'")
        .head().getLong(0) == 1L)
      val e = intercept[Exception] {
        s.sql(s"SELECT * FROM $t VERSION AS OF 2").collect() }
      assert(e.getMessage.contains("no version"), e.getMessage)
      s.sql(s"DROP TABLE $t")
    } finally lake.clock = () => System.currentTimeMillis()
  }

  test("nightly maintenance chain: compact, rewrite, expire, sweep compose") {
    // the job a 100-TB table actually runs every night, end to end
    // through the SQL procedure surface: OPTIMIZE folds MOR deltas,
    // rewrite_manifests collapses the chain, age-based expiry drops
    // old snapshots (tag retained), and the orphan sweep closes the
    // loop — after which the table DIRECTORY equals exactly the union
    // of retained references (nothing dangling, nothing leaked), and
    // every read surface still answers.
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    val t0 = 1755200000000L
    val tick = new java.util.concurrent.atomic.AtomicLong(t0)
    lake.clock = () => tick.getAndAdd(60000L)
    try {
      s.sql("DROP TABLE IF EXISTS graft_dml.spec.night")
      val t = "graft_dml.spec.night"
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(2, k)) " +
        "TBLPROPERTIES ('format'='mor')")                       // v0
      s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 8)") // v1
      s.sql(s"DELETE FROM $t WHERE k IN (2, 5)")                // v2 (delta)
      s.sql(s"INSERT INTO $t VALUES (8, 80), (9, 90)")          // v3
      RowStoreOps.createTag(t, "audit") // pins v3 through everything
      val want = s.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      s.sql("CALL graft_dml.system.rewrite_data_files(" +
        "table => 'spec.night')").collect()                       // v4
      s.sql("CALL graft_dml.system.rewrite_manifests('spec.night')")
        .collect()
      assert(lake.manifestChainLength(t,
        lake.currentVersion(t)) == 1)
      s.sql(s"INSERT INTO $t VALUES (10, 100)")                 // v5
      // plant crashed-writer debris, then expire + sweep
      val dir = java.nio.file.Paths.get(lake.dataDir(t))
      java.nio.file.Files.write(dir.resolve("g0-crashed.parquet"),
        Array[Byte](1, 2, 3))
      val now = tick.get()
      lake.clock = () => now
      // keep only versions committed in the last 150 s (v4, v5) + tag
      s.sql("CALL graft_dml.system.expire_snapshots_older_than(" +
        "'spec.night', 150000L)").collect()
      s.sql("CALL graft_dml.system.remove_orphan_files('spec.night', 0L)")
        .collect()
      // closure: directory == union of retained manifest references
      val referenced = lake.versions(t)
        .flatMap(v => lake.readManifest(t, v)).map(_.name).toSet
      val stream = java.nio.file.Files.list(dir)
      val onDisk = try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.map(_.getFileName.toString)
          .filter(!_.startsWith(".")).toSet
      } finally stream.close()
      assert(onDisk == referenced,
        s"directory must equal retained references; extra=" +
          s"${onDisk -- referenced} missing=${referenced -- onDisk}")
      // every read surface still answers
      assert(s.table(t).collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq.sorted ==
        (want :+ (10L, 100L)).sorted)
      assert(s.sql(s"SELECT k, v FROM $t VERSION AS OF 'audit'")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        == want)
      s.sql(s"DROP TABLE $t")
    } finally lake.clock = () => System.currentTimeMillis()
  }

  test("a re-delivered streaming epoch commit is a manifest no-op") {
    val s = spark
    import graft.sources.{FilesMessage, GroupWrite, RowStore}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.se")
    s.sql("CREATE TABLE graft_dml.spec.se (k BIGINT, v BIGINT)")
    val key = "graft_dml.spec.se"
    val sw = new GroupWrite(lake, key, lake.readMeta(key),
      lake.readMeta(key).schema, GroupWrite.Append, "query-A")
      .toStreaming
    val msg = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      FilesMessage(Seq.empty))
    sw.commit(0L, msg)
    sw.commit(1L, msg)
    assert(lake.currentVersion(key) == 2 &&
      lake.lastStreamEpoch(key, "query-A") == 1L)
    // replay of an already-committed epoch (post-failure batch rerun):
    // no new version, high-water mark unchanged
    sw.commit(1L, msg)
    sw.commit(0L, msg)
    assert(lake.currentVersion(key) == 2,
      "a replayed epoch must not commit a new version")
    assert(lake.lastStreamEpoch(key, "query-A") == 1L)
    sw.commit(2L, msg)
    assert(lake.currentVersion(key) == 3 &&
      lake.lastStreamEpoch(key, "query-A") == 2L)
    // a DIFFERENT query's epochs restart at 0 (fresh checkpoint) and
    // must NOT be dropped by query-A's high-water mark — per-query
    // marks are what makes a second writer's first batches safe
    val sw2 = new GroupWrite(lake, key, lake.readMeta(key),
      lake.readMeta(key).schema, GroupWrite.Append, "query-B")
      .toStreaming
    sw2.commit(0L, msg)
    assert(lake.currentVersion(key) == 4,
      "a new query's epoch 0 must commit despite another query's mark")
    assert(lake.lastStreamEpoch(key, "query-B") == 0L &&
      lake.lastStreamEpoch(key, "query-A") == 2L)
    // and query-A's mark still dedupes ITS replays after interleaving
    sw.commit(2L, msg)
    assert(lake.currentVersion(key) == 4)
    s.sql("DROP TABLE graft_dml.spec.se")
  }

  test("unconditional DELETE is a metadata truncate (files retained)") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.trunc")
    s.sql("CREATE TABLE graft_dml.spec.trunc (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.trunc VALUES (1, 10), (2, 20), (3, 30)")
    val vSeed = lake.currentVersion("graft_dml.spec.trunc")
    // no WHERE: the rewrite's scan would be optimized to empty — this
    // must take the metadata-delete path, not refuse at commit
    s.sql("DELETE FROM graft_dml.spec.trunc")
    assert(s.table("graft_dml.spec.trunc").count() == 0)
    assert(lake.currentVersion("graft_dml.spec.trunc") == vSeed + 1,
      "truncate must commit one new (empty) version")
    // pure manifest swap: the seed version still time-travels
    assert(s.sql(s"SELECT COUNT(*) FROM graft_dml.spec.trunc " +
      s"VERSION AS OF $vSeed").head().getLong(0) == 3)
    // a folded-to-true predicate takes the same path
    s.sql("INSERT INTO graft_dml.spec.trunc VALUES (9, 90)")
    s.sql("DELETE FROM graft_dml.spec.trunc WHERE 1 = 1")
    assert(s.table("graft_dml.spec.trunc").count() == 0)
    // a REAL predicate still rewrites (not the metadata path)
    s.sql("INSERT INTO graft_dml.spec.trunc VALUES (4, 40), (5, 50)")
    s.sql("DELETE FROM graft_dml.spec.trunc WHERE k = 4")
    assert(s.table("graft_dml.spec.trunc").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
    s.sql("DROP TABLE graft_dml.spec.trunc")
  }

  test("DROP COLUMN is metadata-only; the group-key column refuses to drop") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.dc")
    s.sql("CREATE TABLE graft_dml.spec.dc (k BIGINT, a BIGINT, b STRING)")
    s.sql("INSERT INTO graft_dml.spec.dc VALUES (1, 10, 'x'), (2, 20, 'y')")
    val filesBefore = lake
      .readManifest("graft_dml.spec.dc", 1).map(_.name).toSet
    s.sql("ALTER TABLE graft_dml.spec.dc DROP COLUMN a")
    assert(s.table("graft_dml.spec.dc").columns.toSeq == Seq("k", "b"))
    assert(s.table("graft_dml.spec.dc").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")),
      "pre-drop files must read correctly under the narrowed schema")
    assert(lake.readManifest("graft_dml.spec.dc", 1)
      .map(_.name).toSet == filesBefore, "no file may be rewritten")
    // time travel to a pre-drop version resurfaces the dropped column
    // WITH its values — the snapshot-time schema is pinned per version,
    // so DROP COLUMN can't silently lose a column from historical reads
    val preDrop = s.sql("SELECT * FROM graft_dml.spec.dc VERSION AS OF 1")
    assert(preDrop.columns.toSeq == Seq("k", "a", "b"))
    assert(preDrop.orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L), "pre-drop values must read back via time travel")
    // DML keeps working post-drop (the rewrite plans the new schema)
    s.sql("UPDATE graft_dml.spec.dc SET b = 'z' WHERE k = 2")
    assert(s.table("graft_dml.spec.dc").orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("x", "z"))
    // the group-key column can never drop
    val e = intercept[Exception](
      s.sql("ALTER TABLE graft_dml.spec.dc DROP COLUMN k"))
    assert(e.getMessage.contains("group-key"), e.getMessage)
    // a dropped NAME can never come back: retained files still carry
    // the old values under it and readers project by name, so re-add
    // would resurrect them instead of NULL-padding
    val e2 = intercept[Exception](
      s.sql("ALTER TABLE graft_dml.spec.dc ADD COLUMN a BIGINT"))
    assert(e2.getMessage.contains("previously dropped"), e2.getMessage)
    s.sql("DROP TABLE graft_dml.spec.dc")
  }

  test("truncate and days transforms route groups by range / epoch day") {
    val s = spark
    import graft.sources.RowStore
    // truncate(100, k): group = floorDiv(k, 100) — contiguous ranges
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.tr")
    s.sql("CREATE TABLE graft_dml.spec.tr (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (truncate(100, k))")
    s.sql("INSERT INTO graft_dml.spec.tr VALUES " +
      "(5, 1), (105, 2), (250, 3), (999, 4)")
    val trKey = "graft_dml.spec.tr"
    val trGroups = lake.readManifest(trKey, lake.currentVersion(trKey))
      .filter(_.kind == "base").map(_.group).sorted
    assert(trGroups == Seq(0, 1, 2, 9), s"got $trGroups")
    assert(s.table("graft_dml.spec.tr").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(5L, 105L, 250L, 999L))
    s.sql("DROP TABLE graft_dml.spec.tr")
    // days(ts): group = epoch day of a TIMESTAMP column (UTC session)
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.dy")
    s.sql("CREATE TABLE graft_dml.spec.dy (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    s.sql("INSERT INTO graft_dml.spec.dy VALUES " +
      "(TIMESTAMP'2024-03-07 10:00:00', 1), " +
      "(TIMESTAMP'2024-03-07 23:59:59', 2), " +
      "(TIMESTAMP'2024-03-08 00:00:01', 3)")
    val dyKey = "graft_dml.spec.dy"
    val d0 = java.time.LocalDate.of(2024, 3, 7).toEpochDay.toInt
    val dyGroups = lake.readManifest(dyKey, lake.currentVersion(dyKey))
      .filter(_.kind == "base").map(_.group).sorted
    assert(dyGroups == Seq(d0, d0 + 1), s"got $dyGroups (epoch day $d0)")
    assert(s.table("graft_dml.spec.dy")
      .filter("ts < TIMESTAMP'2024-03-08 00:00:00'").count() == 2)
    s.sql("DROP TABLE graft_dml.spec.dy")
  }

  test("change feed diffs across equality-delete versions") {
    val s = spark
    import graft.sources.RowStoreOps
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ecdf")
    s.sql("CREATE TABLE graft_dml.spec.ecdf (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.ecdf VALUES (1, 10), (2, 20), (5, 50)") // v1
    RowStoreOps.equalityDelete(s, "graft_dml.spec.ecdf",
      s.range(1, 3).toDF("kv")) // v2: eq-delete keys 1, 2
    s.sql("INSERT INTO graft_dml.spec.ecdf VALUES (1, 11)") // v3: resurrect
    def feed(a: Int, b: Int) = s.read
      .option("from", a.toString).option("to", b.toString)
      .table("graft_dml.spec.ecdf.changes")
      .selectExpr("k", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(feed(1, 2) == Seq((1L, 10L, "delete"), (2L, 20L, "delete")),
      s"got ${feed(1, 2)}")
    assert(feed(2, 3) == Seq((1L, 11L, "insert")), s"got ${feed(2, 3)}")
    // the straddling read nets out: old values deleted, the
    // resurrected row inserted, key 5 untouched (ordered replay keeps
    // the v3 insert out of the v2 delete's scope)
    assert(feed(1, 3) == Seq((1L, 10L, "delete"), (1L, 11L, "insert"),
      (2L, 20L, "delete")), s"got ${feed(1, 3)}")
    s.sql("DROP TABLE graft_dml.spec.ecdf")
  }

  test("change feed plans negative groups; DEFAULT add and branch stream refuse") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ng")
    s.sql("CREATE TABLE graft_dml.spec.ng (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    // pre-epoch timestamp → epoch day −1: a legitimately NEGATIVE base
    // group, which must not collide with the table-wide delta sentinel
    s.sql("INSERT INTO graft_dml.spec.ng VALUES " +
      "(TIMESTAMP'1969-12-31 12:00:00', 1)")                        // v1
    s.sql("INSERT INTO graft_dml.spec.ng VALUES " +
      "(TIMESTAMP'2024-03-07 10:00:00', 2)")                        // v2
    val feed = s.read.option("from", "0").option("to", "2")
      .table("graft_dml.spec.ng.changes")
      .selectExpr("v", "_change").orderBy("v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the group-(−1) row appears EXACTLY ONCE: planned (not dropped by
    // a >=0 filter) and not folded into the other group's diff state
    assert(feed == Seq((1L, "insert"), (2L, "insert")), s"got $feed")
    // ALTER ADD COLUMN with a DEFAULT would silently store NULLs (no
    // CURRENT_DEFAULT metadata survives) — must refuse loudly
    val e = intercept[Exception](s.sql(
      "ALTER TABLE graft_dml.spec.ng ADD COLUMN w BIGINT DEFAULT 42"))
    assert(e.getMessage.contains("DEFAULT"), e.getMessage)
    // a streaming read of a WAP branch would silently serve the
    // COMMITTED snapshot to the auditor — must refuse loudly
    val q = s.readStream.option("branch", "audit")
      .table("graft_dml.spec.ng")
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("branch")),
      s"expected the branch-stream refusal, got: ${messages(e2)}")
    s.sql("DROP TABLE graft_dml.spec.ng")
  }

  test("months/years calendar transforms route groups; rollback guards") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    // months(ts): group = months since 1970-01, CALENDAR boundaries
    // (Feb 28 23:59 and Mar 1 00:01 must split despite being 2 min
    // apart; Jan 2024 = (2024-1970)*12 + 0 = 648)
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mo")
    s.sql("CREATE TABLE graft_dml.spec.mo (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    s.sql("INSERT INTO graft_dml.spec.mo VALUES " +
      "(TIMESTAMP'2024-01-15 12:00:00', 1), " +
      "(TIMESTAMP'2024-02-29 23:59:59', 2), " +   // leap-day month end
      "(TIMESTAMP'2024-03-01 00:00:01', 3)")
    val moKey = "graft_dml.spec.mo"
    val moGroups = lake.readManifest(moKey, lake.currentVersion(moKey))
      .filter(_.kind == "base").map(_.group).sorted
    assert(moGroups == Seq(648, 649, 650), s"got $moGroups")
    assert(s.table("graft_dml.spec.mo").count() == 3)
    s.sql("DROP TABLE graft_dml.spec.mo")
    // years(ts): group = years since 1970; pre-epoch lands negative
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.yr")
    s.sql("CREATE TABLE graft_dml.spec.yr (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (years(ts))")
    s.sql("INSERT INTO graft_dml.spec.yr VALUES " +
      "(TIMESTAMP'1969-06-01 00:00:00', 1), " +
      "(TIMESTAMP'1970-06-01 00:00:00', 2), " +
      "(TIMESTAMP'2024-06-01 00:00:00', 3)")
    val yrKey = "graft_dml.spec.yr"
    val yrGroups = lake.readManifest(yrKey, lake.currentVersion(yrKey))
      .filter(_.kind == "base").map(_.group).sorted
    assert(yrGroups == Seq(-1, 0, 54), s"got $yrGroups")
    assert(s.table("graft_dml.spec.yr").count() == 3)
    // rollback to a missing version refuses; to a real one commits a
    // NEW head (history append-only)
    val e = intercept[Exception](RowStoreOps.rollback(yrKey, 9))
    assert(e.getMessage.contains("roll back"), e.getMessage)
    s.sql("DELETE FROM graft_dml.spec.yr WHERE v = 2")              // v2
    assert(s.table("graft_dml.spec.yr").count() == 2)
    assert(RowStoreOps.rollback(yrKey, 1) == 3)
    assert(s.table("graft_dml.spec.yr").count() == 3)
    assert(lake.versions(yrKey) == Seq(0, 1, 2, 3))
    s.sql("DROP TABLE graft_dml.spec.yr")
  }

  test("day-range predicates prune a days(ts) table to in-range files") {
    val s = spark
    import graft.sources.RowFiles
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.pr")
    s.sql("CREATE TABLE graft_dml.spec.pr (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    s.sql("INSERT INTO graft_dml.spec.pr VALUES " +
      "(TIMESTAMP'2024-03-07 10:00:00', 1), " +
      "(TIMESTAMP'2024-03-08 10:00:00', 2), " +
      "(TIMESTAMP'2024-03-09 10:00:00', 3)")
    // timestamp literals arrive as java.sql/java.time values — without
    // the micros conversion in the filter pushdown NOTHING prunes and
    // all 3 files open
    RowFiles.filesOpened.set(0L)
    val got = s.table("graft_dml.spec.pr")
      .filter("ts >= TIMESTAMP'2024-03-08 00:00:00' AND " +
        "ts < TIMESTAMP'2024-03-09 00:00:00'")
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(2L), s"got $got")
    assert(RowFiles.filesOpened.get == 1L,
      s"day-range read must open exactly the in-range day's file, " +
        s"opened ${RowFiles.filesOpened.get}")
    s.sql("DROP TABLE graft_dml.spec.pr")
    // identity transform: a band predicate IS partition pruning
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.id")
    s.sql("CREATE TABLE graft_dml.spec.id (band BIGINT, v BIGINT) " +
      "PARTITIONED BY (band)")
    s.sql("INSERT INTO graft_dml.spec.id VALUES " +
      (0 until 10).map(b => s"($b, ${b * 100})").mkString(", "))
    RowFiles.filesOpened.set(0L)
    val bands = s.table("graft_dml.spec.id")
      .filter("band BETWEEN 3 AND 5").collect().map(_.getLong(1)).sorted.toSeq
    assert(bands == Seq(300L, 400L, 500L), s"got $bands")
    assert(RowFiles.filesOpened.get == 3L,
      s"band-range read must open exactly the 3 in-range bands' files, " +
        s"opened ${RowFiles.filesOpened.get}")
    // ONE-SIDED predicates: the open side is the Long.MinValue/MaxValue
    // sentinel — transforming it would wrap Int and silently plan zero
    // groups (days) or throw at plan time (identity/truncate)
    val oneSided = s.table("graft_dml.spec.id")
      .filter("band >= 7").collect().map(_.getLong(1)).sorted.toSeq
    assert(oneSided == Seq(700L, 800L, 900L), s"got $oneSided")
    // an out-of-group-space literal must return empty, not crash
    assert(s.table("graft_dml.spec.id")
      .filter("band = 5000000000").count() == 0L)
    s.sql("DROP TABLE graft_dml.spec.id")
    // one-sided on the days table too (the silent-empty wrap case)
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.pr2")
    s.sql("CREATE TABLE graft_dml.spec.pr2 (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    s.sql("INSERT INTO graft_dml.spec.pr2 VALUES " +
      "(TIMESTAMP'2024-03-07 10:00:00', 1), " +
      "(TIMESTAMP'2024-03-09 10:00:00', 3)")
    assert(s.table("graft_dml.spec.pr2")
      .filter("ts >= TIMESTAMP'2024-03-08 00:00:00'").count() == 1L,
      "one-sided day predicate must not wrap to an empty group range")
    s.sql("DROP TABLE graft_dml.spec.pr2")
    // the DANGEROUS interaction: a COW rewrite whose scan the group
    // range pruned must leave pruned groups' files VERBATIM (they are
    // not in scannedGroups, so the commit must not replace them) while
    // rewriting exactly the in-range group
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.pr3")
    s.sql("CREATE TABLE graft_dml.spec.pr3 (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    s.sql("INSERT INTO graft_dml.spec.pr3 VALUES " +
      "(TIMESTAMP'2024-03-07 10:00:00', 1), " +
      "(TIMESTAMP'2024-03-08 10:00:00', 2), " +
      "(TIMESTAMP'2024-03-09 10:00:00', 3)")
    import graft.sources.RowStore
    val k3 = "graft_dml.spec.pr3"
    val before = lake.readManifest(k3, lake.currentVersion(k3))
      .map(e => (e.group, e.name)).toSet
    s.sql("UPDATE graft_dml.spec.pr3 SET v = v + 100 WHERE " +
      "ts >= TIMESTAMP'2024-03-08 00:00:00' AND " +
      "ts < TIMESTAMP'2024-03-09 00:00:00'")
    val after = lake.readManifest(k3, lake.currentVersion(k3))
      .map(e => (e.group, e.name)).toSet
    val d8 = java.time.LocalDate.of(2024, 3, 8).toEpochDay.toInt
    // out-of-range days' files survive byte-identical; day 8's replaced
    assert((before -- after).forall(_._1 == d8) &&
      (after -- before).forall(_._1 == d8),
      s"only day $d8 may change: before=$before after=$after")
    assert((before -- after).nonEmpty, "day 8's file must be rewritten")
    val vs = s.table("graft_dml.spec.pr3").orderBy("v")
      .collect().map(_.getLong(1)).toSeq
    assert(vs == Seq(1L, 3L, 102L), s"got $vs")
    s.sql("DROP TABLE graft_dml.spec.pr3")
  }

  test("RENAME COLUMN is metadata-only: storage name stable, guards hold") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.rn")
    s.sql("CREATE TABLE graft_dml.spec.rn (k BIGINT, cents BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.rn VALUES (1, 10), (2, 20)")   // v1
    s.sql("ALTER TABLE graft_dml.spec.rn RENAME COLUMN cents TO amount") // v2
    s.sql("INSERT INTO graft_dml.spec.rn VALUES (3, 30)")            // v3
    val key = "graft_dml.spec.rn"
    // post-rename files STILL store the original name (metadata-only:
    // old and new files mutually readable through the mapping)
    assert(lake.readMeta(key).renames == Map("amount" -> "cents"))
    val allRows = s.sql("SELECT k, amount FROM graft_dml.spec.rn")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(allRows == Seq((1L, 10L), (2L, 20L), (3L, 30L)), s"got $allRows")
    // the v1 snapshot surfaces its SNAPSHOT-TIME name
    assert(s.sql("SELECT * FROM graft_dml.spec.rn VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("k", "cents"))
    // ADD of the stored name would resurrect the old files' values
    val e1 = intercept[Exception](
      s.sql("ALTER TABLE graft_dml.spec.rn ADD COLUMN cents BIGINT"))
    assert(e1.getMessage.contains("store"), e1.getMessage)
    // rename-back restores the identity mapping
    s.sql("ALTER TABLE graft_dml.spec.rn RENAME COLUMN amount TO cents")
    assert(lake.readMeta(key).renames.isEmpty)
    assert(s.sql("SELECT sum(cents) FROM graft_dml.spec.rn")
      .head().getLong(0) == 60L)
    // DROP of a renamed column blacklists the STORAGE name
    s.sql("ALTER TABLE graft_dml.spec.rn RENAME COLUMN cents TO amount")
    s.sql("ALTER TABLE graft_dml.spec.rn DROP COLUMN amount")
    assert(lake.readMeta(key).dropped.contains("cents"))
    val e2 = intercept[Exception](
      s.sql("ALTER TABLE graft_dml.spec.rn ADD COLUMN cents BIGINT"))
    assert(e2.getMessage.contains("previously dropped"), e2.getMessage)
    s.sql("DROP TABLE graft_dml.spec.rn")
    // MOR refuses: delta records are projected by written name
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.rnm")
    s.sql("CREATE TABLE graft_dml.spec.rnm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    val e3 = intercept[Exception](
      s.sql("ALTER TABLE graft_dml.spec.rnm RENAME COLUMN v TO w"))
    assert(e3.getMessage.contains("merge-on-read"), e3.getMessage)
    s.sql("DROP TABLE graft_dml.spec.rnm")
  }

  test("co-bucketed catalog tables join with ZERO shuffle exchanges (SPJ)") {
    val s = spark
    for (t <- Seq("sa", "sb")) {
      s.sql(s"DROP TABLE IF EXISTS graft_dml.spec.$t")
      s.sql(s"CREATE TABLE graft_dml.spec.$t (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
    }
    s.sql("INSERT INTO graft_dml.spec.sa VALUES " +
      (0 until 20).map(i => s"($i, ${i * 10})").mkString(", "))
    s.sql("INSERT INTO graft_dml.spec.sb VALUES " +
      (0 until 20 by 2).map(i => s"($i, ${i * 100})").mkString(", "))
    graft.GraftSession.withConfs(s, Map(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val joined = s.table("graft_dml.spec.sa")
        .join(s.table("graft_dml.spec.sb"), "k")
      val rows = joined.collect()
      assert(rows.length == 10, s"expected the 10 even keys, got ${rows.length}")
      val shuffles = PlanWalk.allNodes(joined.queryExecution.executedPlan)
        .collect { case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"co-bucketed SPJ join must plan ZERO shuffles, found " +
          s"${shuffles.size}:\n${joined.queryExecution.executedPlan}")
    }
    // semantics-neutral: the same join with SPJ off matches
    val plain = s.table("graft_dml.spec.sa")
      .join(s.table("graft_dml.spec.sb"), "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(plain.length == 10 && plain.head == ((0L, 0L, 0L)))
    s.sql("DROP TABLE graft_dml.spec.sa")
    s.sql("DROP TABLE graft_dml.spec.sb")
  }

  test("row-level DML works on an unbounded (truncate) partition layout") {
    // the (spec, group) planner plans observed groups only for
    // unbounded transforms; a COW rewrite must still replace exactly
    // the matched groups, and an UPDATE that MOVES a row's key across
    // a group boundary must land it in its new group
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.trd")
    s.sql("CREATE TABLE graft_dml.spec.trd (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (truncate(10, k))")
    s.sql("INSERT INTO graft_dml.spec.trd VALUES " +
      "(1, 10), (5, 50), (15, 150), (25, 250)") // groups 0, 0, 1, 2
    val key = "graft_dml.spec.trd"
    def groups() = lake
      .readManifest(key, lake.currentVersion(key))
      .filter(_.kind == "base").map(_.group).sorted
    assert(groups() == Seq(0, 1, 2))
    val g1Before = lake.readManifest(key, lake.currentVersion(key))
      .filter(e => e.kind == "base" && e.group == 1).map(_.name)

    // DELETE matching only group 0: groups 1/2 keep files verbatim
    s.sql("DELETE FROM graft_dml.spec.trd WHERE k = 5")
    assert(s.table("graft_dml.spec.trd").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 15L, 25L))
    assert(lake.readManifest(key, lake.currentVersion(key))
      .filter(e => e.kind == "base" && e.group == 1).map(_.name) == g1Before,
      "an untouched group must keep its files across an unbounded-layout rewrite")

    // UPDATE moves k=15 to 35 — out of group 1 into (new) group 3
    s.sql("UPDATE graft_dml.spec.trd SET k = 35 WHERE k = 15")
    assert(s.table("graft_dml.spec.trd").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 25L, 35L))
    assert(groups().contains(3),
      s"moved row must land in its new range group, got ${groups()}")
    assert(!groups().contains(1),
      s"emptied group must shed its file in the rewrite, got ${groups()}")
    s.sql("DROP TABLE graft_dml.spec.trd")
  }

  test("partition-spec evolution: old groups keep their layout, new writes use the new one") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ev")
    s.sql("CREATE TABLE graft_dml.spec.ev (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO graft_dml.spec.ev VALUES " +
      (0 until 16).map(i => s"($i, ${i * 10})").mkString(", "))
    val key = "graft_dml.spec.ev"
    val preFiles = lake.readManifest(key, lake.currentVersion(key))
      .filter(_.kind == "base")
    assert(preFiles.forall(_.spec == 0))
    assert(preFiles.map(_.group).distinct.sorted == Seq(0, 1, 2, 3))

    // evolve: k-range groups of width 8; files already written stay
    s.sql("ALTER TABLE graft_dml.spec.ev " +
      "SET TBLPROPERTIES('partition'='truncate(8, k)')")
    s.sql("INSERT INTO graft_dml.spec.ev VALUES (16, 160), (17, 170)")
    val post = lake.readManifest(key, lake.currentVersion(key))
      .filter(_.kind == "base")
    val oldSide = post.filter(_.spec == 0)
    val newSide = post.filter(_.spec == 1)
    assert(oldSide.map(e => (e.group, e.name)).toSet ==
      preFiles.map(e => (e.group, e.name)).toSet,
      "pre-evolution files must keep their layout verbatim")
    assert(newSide.nonEmpty && newSide.forall(_.group == 2),
      s"keys 16/17 route to truncate-group 2, got $newSide")
    // the scan plans across BOTH specs
    assert(s.table("graft_dml.spec.ev").count() == 18)
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.ev")
      .head().getLong(0) == (0 until 16).map(_ * 10L).sum + 330L)
    // time travel to the pre-evolution snapshot still reads v1 exactly
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.ev VERSION AS OF 1")
      .head().getLong(0) == 16)

    // row-level ops WORK across specs with NO migration (round 12 —
    // Iceberg's per-spec planning): DELETE k = 3 touches exactly the
    // (spec 0, bucket 3) pair. The commit must replace that pair
    // only — every other old-spec group keeps its file verbatim, the
    // new-spec file is untouched, and the touched group's SURVIVING
    // rows are rewritten under the ACTIVE spec (migration-by-touch).
    val preDel = lake.readManifest(key, lake.currentVersion(key))
      .filter(_.kind == "base")
    s.sql("DELETE FROM graft_dml.spec.ev WHERE k = 3")
    val postDel = lake.readManifest(key, lake.currentVersion(key))
      .filter(_.kind == "base")
    val untouched = preDel.filterNot(e => e.spec == 0 && e.group == 3)
    assert(untouched.map(e => (e.spec, e.group, e.name)).toSet
      .subsetOf(postDel.map(e => (e.spec, e.group, e.name)).toSet),
      "untouched (spec, group) pairs must keep their files verbatim")
    assert(!postDel.exists(e => e.spec == 0 && e.group == 3),
      "the touched old-spec group must shed its base entries")
    val untouchedNames = untouched.map(_.name).toSet
    assert(postDel.filterNot(e => untouchedNames(e.name))
      .forall(_.spec == 1),
      "the rewrite's output must land under the ACTIVE spec")
    assert(s.table("graft_dml.spec.ev").count() == 17)
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.ev")
      .head().getLong(0) == (0 until 16).map(_ * 10L).sum + 330L - 30L)

    // OPTIMIZE on a healthy multi-spec table: groups that merely
    // share a NUMBER across specs are not fragmentation — compact
    // must no-op cleanly (it used to flag them dirty and crash in
    // the handshake scan); a genuinely fragmented multi-spec table
    // refuses loudly instead
    val (dirtyPairs, _, _) =
      graft.sources.RowStoreOps.compact(s, key)
    assert(dirtyPairs.isEmpty,
      s"healthy multi-spec table flagged dirty: $dirtyPairs")
    s.sql("INSERT INTO graft_dml.spec.ev VALUES (18, 180)") // fragments g2
    val e2 = intercept[Exception](
      graft.sources.RowStoreOps.compact(s, key))
    assert(e2.getMessage.contains("partition specs"),
      s"dirty multi-spec compact must refuse loudly: ${e2.getMessage}")

    // INSERT OVERWRITE still migrates everything onto the active spec
    s.sql("INSERT OVERWRITE graft_dml.spec.ev " +
      "SELECT k, v FROM graft_dml.spec.ev VERSION AS OF " +
      lake.currentVersion(key))
    val migrated = lake.readManifest(key, lake.currentVersion(key))
      .filter(_.kind == "base")
    assert(migrated.forall(_.spec == 1), s"migration left $migrated")
    assert(migrated.map(_.group).distinct.sorted == Seq(0, 1, 2),
      "18 keys in [0,19) under truncate(8) span groups 0..2")
    s.sql("DELETE FROM graft_dml.spec.ev WHERE k = 5")
    assert(s.table("graft_dml.spec.ev").count() == 17)
    s.sql("DROP TABLE graft_dml.spec.ev")
  }

  test("WAP branch: staging invisible, stacked, OCC-guarded publish, vacuum-safe") {
    val s = spark
    import s.implicits._
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.wapx")
    s.sql("CREATE TABLE graft_dml.spec.wapx (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.wapx VALUES (1, 10), (2, 20)")
    val key = "graft_dml.spec.wapx"
    assert(lake.currentVersion(key) == 1)

    // stage one row — files land, NO version commits, main unchanged
    Seq((3L, 30L)).toDF("k", "v")
      .writeTo("graft_dml.spec.wapx").option("branch", "b").append()
    assert(lake.currentVersion(key) == 1,
      "staging must not commit a table version")
    assert(s.table("graft_dml.spec.wapx").count() == 2,
      "staged rows must be invisible to plain reads")
    assert(s.read.option("branch", "b").table("graft_dml.spec.wapx")
      .count() == 3, "the audit read must see the staged snapshot")

    // stacked staging composes into the same branch
    Seq((4L, 40L)).toDF("k", "v")
      .writeTo("graft_dml.spec.wapx").option("branch", "b").append()
    assert(s.read.option("branch", "b").table("graft_dml.spec.wapx")
      .count() == 4)

    // vacuum must not strand the un-published branch's files
    RowStoreOps.vacuum(key, 1)
    assert(s.read.option("branch", "b").table("graft_dml.spec.wapx")
      .orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L), "vacuum deleted a staged branch's files")

    // the table advances under the branch → publish must refuse (the
    // staged snapshot no longer contains v2's commit)
    s.sql("INSERT INTO graft_dml.spec.wapx VALUES (5, 50)")
    intercept[java.util.ConcurrentModificationException](
      RowStoreOps.publishBranch(key, "b"))

    // re-stage against the current snapshot → publish fast-forwards
    lake.dropBranch(key, "b")
    Seq((3L, 30L), (4L, 40L)).toDF("k", "v")
      .writeTo("graft_dml.spec.wapx").option("branch", "b").append()
    val v = RowStoreOps.publishBranch(key, "b")
    assert(v == lake.currentVersion(key))
    assert(s.table("graft_dml.spec.wapx").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L)))
    assert(!lake.branchExists(key, "b"),
      "publish must retire the branch manifest")
    s.sql("DROP TABLE graft_dml.spec.wapx")
  }

  test("a rewrite commit whose scan was never planned fails loudly") {
    // the commit-path soundness guard: ReplaceGroups with no planned
    // scan has nothing sound to replace — appending the rewrite's
    // files over intact groups would duplicate every carried-over row,
    // so the commit must refuse instead of defaulting to append
    val s = spark
    import graft.sources.{GroupRowLevelOp, GroupWrite, RowStore}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.up")
    s.sql("CREATE TABLE graft_dml.spec.up (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.up VALUES (1, 10), (2, 20)")
    val key = "graft_dml.spec.up"
    val meta = lake.readMeta(key)
    val op = new GroupRowLevelOp(lake, key, meta,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    val w = new GroupWrite(lake, key, meta, meta.schema,
      GroupWrite.ReplaceGroups(op))
    val before = lake.currentVersion(key)
    val e = intercept[IllegalArgumentException](
      w.commit(Array.empty))
    assert(e.getMessage.contains("planned scan"), e.getMessage)
    assert(lake.currentVersion(key) == before,
      "the refused commit must not advance the manifest chain")
    s.sql("DROP TABLE graft_dml.spec.up")
  }

  test("COUNT(*) answers from manifest row counts; deltas refuse the shortcut") {
    val s = spark
    import graft.sources.{RowFiles, RowStore}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mc")
    s.sql("CREATE TABLE graft_dml.spec.mc (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.mc VALUES " +
      (0 until 37).map(i => s"($i, $i)").mkString(", "))
    s.sql("DELETE FROM graft_dml.spec.mc WHERE k % 5 = 0") // COW: still clean
    RowFiles.filesOpened.set(0L)
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.mc").head().getLong(0)
      == 37 - 8)
    assert(RowFiles.filesOpened.get == 0L,
      s"clean-snapshot COUNT(*) must not open data files, opened " +
        s"${RowFiles.filesOpened.get}")
    // MIN/MAX of the key fold over per-file zone maps the same way:
    // exact after the DELETE rewrote stats, zero files opened
    RowFiles.filesOpened.set(0L)
    val mm = s.sql("SELECT MIN(k) AS a, MAX(k) AS b, COUNT(*) AS n " +
      "FROM graft_dml.spec.mc").head()
    assert((mm.getLong(0), mm.getLong(1), mm.getLong(2)) == (1L, 36L, 29L))
    assert(RowFiles.filesOpened.get == 0L,
      s"metadata MIN/MAX must not open data files, opened " +
        s"${RowFiles.filesOpened.get}")
    // a non-key LONG column's extrema fold the PER-COLUMN zone maps
    // (round-10 extension of the key-only shortcut): zero files opened
    RowFiles.filesOpened.set(0L)
    assert(s.sql("SELECT MAX(v) FROM graft_dml.spec.mc").head().getLong(0)
      == 36L)
    assert(RowFiles.filesOpened.get == 0L,
      s"non-key MAX must answer from per-column zone maps, opened " +
        s"${RowFiles.filesOpened.get}")
    // a column ADDed after the files committed has no recorded bounds
    // — the shortcut refuses and the scan reads files (and the NULL
    // answer is the files', not a fabricated extremum)
    s.sql("ALTER TABLE graft_dml.spec.mc ADD COLUMN w BIGINT")
    RowFiles.filesOpened.set(0L)
    assert(s.sql("SELECT MAX(w) FROM graft_dml.spec.mc").head().isNullAt(0))
    assert(RowFiles.filesOpened.get > 0L,
      "a statless column must refuse the shortcut and read files")
    // TIMESTAMP columns fold as their internal micros and surface
    // with the TIMESTAMP output type — still zero files opened
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mct")
    s.sql("CREATE TABLE graft_dml.spec.mct (k BIGINT, ts TIMESTAMP)")
    s.sql("INSERT INTO graft_dml.spec.mct VALUES " +
      "(1, TIMESTAMP'2001-02-03 04:05:06'), " +
      "(2, TIMESTAMP'1999-01-01 00:00:00')")
    RowFiles.filesOpened.set(0L)
    val tm = s.sql("SELECT MIN(ts) AS a, MAX(ts) AS b " +
      "FROM graft_dml.spec.mct").head()
    assert(tm.getTimestamp(0).getTime == 915148800000L &&
      tm.getTimestamp(1).getTime == 981173106000L,
      s"got ${tm.getTimestamp(0)} / ${tm.getTimestamp(1)}")
    assert(RowFiles.filesOpened.get == 0L,
      "timestamp MIN/MAX must answer from per-column zone maps")
    s.sql("DROP TABLE graft_dml.spec.mct")

    // a filtered count must NOT use the shortcut (residual filters
    // block aggregate pushdown) and must still be right
    RowFiles.filesOpened.set(0L)
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.mc WHERE k > 17")
      .head().getLong(0) == 19 - 4) // keys 18..36 minus {20,25,30,35}
    assert(RowFiles.filesOpened.get > 0L, "filtered count must read files")

    // MOR: the delta-bearing snapshot refuses; count is still right
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mcm")
    s.sql("CREATE TABLE graft_dml.spec.mcm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.mcm VALUES " +
      (0 until 20).map(i => s"($i, $i)").mkString(", "))
    s.sql("DELETE FROM graft_dml.spec.mcm WHERE k % 4 = 0")
    assert(lake.readManifest("graft_dml.spec.mcm",
      lake.currentVersion("graft_dml.spec.mcm")).exists(_.kind == "delta"))
    RowFiles.filesOpened.set(0L)
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.mcm").head().getLong(0)
      == 15)
    assert(RowFiles.filesOpened.get > 0L,
      "a delta-bearing snapshot must refuse the manifest count")
    // OPTIMIZE folds the deltas away - the shortcut re-engages
    graft.sources.RowStoreOps.compact(s, "graft_dml.spec.mcm")
    RowFiles.filesOpened.set(0L)
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.mcm").head().getLong(0)
      == 15)
    assert(RowFiles.filesOpened.get == 0L,
      "post-OPTIMIZE the manifest count must re-engage")
    s.sql("DROP TABLE graft_dml.spec.mc")
    s.sql("DROP TABLE graft_dml.spec.mcm")
  }

  test("reported scan statistics drive an auto-broadcast of the catalog side") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.dim")
    s.sql("CREATE TABLE graft_dml.spec.dim (k BIGINT, name STRING)")
    s.sql("INSERT INTO graft_dml.spec.dim VALUES " +
      (0 until 50).map(i => s"($i, 'n$i')").mkString(", "))
    val fact = s.range(0, 100000).selectExpr("id % 50 AS k", "id AS x")
    val joined = s.table("graft_dml.spec.dim").join(fact, "k")
      .groupBy("name").count()
    assert(joined.count() == 50)
    val bhj = PlanWalk.allNodes(joined.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      "manifest-derived scan statistics must let Catalyst auto-broadcast " +
        s"the 50-row catalog table:\n${joined.queryExecution.executedPlan}")
    // the broadcast side must be the catalog scan, not the 100k fact
    val bcastSide = bhj.head.buildSide.toString
    val bcastPlan = (if (bcastSide.contains("Left")) bhj.head.left
      else bhj.head.right).toString
    assert(bcastPlan.contains("graft_dml.spec.dim"),
      s"build side must be the catalog table, got side=$bcastSide:\n$bcastPlan")
    s.sql("DROP TABLE graft_dml.spec.dim")
  }

  test("manifest stats skip base files on clean plain reads only") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.skip")
    s.sql("CREATE TABLE graft_dml.spec.skip (k BIGINT, v BIGINT)")
    // three commits with disjoint key bands → 3 stat-carrying base
    // files per group (keys cover every residue mod 4)
    for (e <- 0 until 3)
      s.sql("INSERT INTO graft_dml.spec.skip VALUES " +
        (0 until 16).map(i => s"(${e * 1000 + i}, ${e * 1000 + i})")
          .mkString(", "))
    // selective read: only the middle band's files may be planned
    val sum = s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.skip " +
      "WHERE k >= 1000 AND k <= 1015").head().getLong(0)
    assert(sum == (0 until 16).map(_ + 1000L).sum)
    assert(lake.lastPlannedBaseFiles.get == 4 &&
      lake.lastSkippedBaseFiles.get == 8,
      s"expected 4 planned / 8 skipped, got " +
        s"${lake.lastPlannedBaseFiles.get}/" +
        s"${lake.lastSkippedBaseFiles.get}")
    // unfiltered read: nothing skips (SUM forces a real scan — a bare
    // COUNT(*) is now answered from manifest row counts and would
    // leave the planning counters untouched)
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT), COUNT(*) " +
        "FROM graft_dml.spec.skip").head().getLong(1) == 48)
    assert(lake.lastSkippedBaseFiles.get == 0)
    s.sql("DROP TABLE graft_dml.spec.skip")

    // a DIRTY (delta-carrying) group must not skip: an update delta
    // can move a key outside its base file's stats
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.skipm")
    s.sql("CREATE TABLE graft_dml.spec.skipm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.skipm VALUES (1, 10), (2, 20)")
    s.sql("INSERT INTO graft_dml.spec.skipm VALUES (1001, 30), (1002, 40)")
    s.sql("UPDATE graft_dml.spec.skipm SET k = 5 WHERE k = 1001")
    // group of key 1 is DIRTY (the update's delta lives there): both
    // its files must be planned even though one's stats (min 1001)
    // exclude the filter — the delta moved that row to k=5. The clean
    // group may still skip its out-of-range file. 4 base files total:
    // 3 planned (dirty group's 2 + clean group's in-range 1), 1
    // skipped.
    val got = s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.skipm " +
      "WHERE k <= 10").head().getLong(0)
    assert(got == 60L, s"the moved row must stay visible, got $got")
    assert(lake.lastPlannedBaseFiles.get == 3 &&
      lake.lastSkippedBaseFiles.get == 1,
      s"expected 3 planned / 1 skipped, got " +
        s"${lake.lastPlannedBaseFiles.get}/" +
        s"${lake.lastSkippedBaseFiles.get}")
    s.sql("DROP TABLE graft_dml.spec.skipm")
  }

  test("bloom filters skip point lookups that zone maps cannot") {
    val s = spark
    import graft.sources.RowStore

    // the filter kernel's own contract first: round-trip + membership
    val hs = (0L until 100L).flatMap(i => RowStore.Bloom.hashOf(Long.box(i)))
    val m = RowStore.Bloom.sizedBits(hs.size)
    val (m2, words) = RowStore.Bloom.dec(
      RowStore.Bloom.enc(m, RowStore.Bloom.build(hs, m)))
    assert(m2 == m)
    assert(hs.forall(RowStore.Bloom.contains(words, m, _)),
      "a bloom filter must never report a present value absent")

    s.sql("DROP TABLE IF EXISTS graft_dml.spec.bl")
    s.sql("CREATE TABLE graft_dml.spec.bl (k BIGINT, v BIGINT, t STRING) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('bloom'='v,t')")
    // two commits with INTERLEAVED value ranges: file 1 evens
    // 100..198 + 'e…' strings, file 2 odds 101..199 + 'o…' — every
    // file's [min, max] straddles every probe below, so zone maps
    // PROVABLY cannot skip; only the blooms can.
    s.sql("INSERT INTO graft_dml.spec.bl VALUES " +
      (0 until 50).map(i => s"($i, ${100 + 2 * i}, 'e$i')").mkString(", "))
    s.sql("INSERT INTO graft_dml.spec.bl VALUES " +
      (0 until 50).map(i => s"(${100 + i}, ${101 + 2 * i}, 'o$i')")
        .mkString(", "))
    // numeric point lookup: the odd file is definitely-absent
    assert(s.sql("SELECT CAST(SUM(k) AS BIGINT) FROM graft_dml.spec.bl " +
      "WHERE v = 150").head().getLong(0) == 25L)
    assert(lake.lastPlannedBaseFiles.get == 1 &&
      lake.lastSkippedBaseFiles.get == 1,
      s"numeric bloom must skip the odd file, got " +
        s"${lake.lastPlannedBaseFiles.get} planned / " +
        s"${lake.lastSkippedBaseFiles.get} skipped")
    // string point lookup: the even file is definitely-absent
    assert(s.sql("SELECT CAST(SUM(k) AS BIGINT) FROM graft_dml.spec.bl " +
      "WHERE t = 'o7'").head().getLong(0) == 107L)
    assert(lake.lastPlannedBaseFiles.get == 1 &&
      lake.lastSkippedBaseFiles.get == 1,
      s"string bloom must skip the even file, got " +
        s"${lake.lastPlannedBaseFiles.get} planned / " +
        s"${lake.lastSkippedBaseFiles.get} skipped")
    // IN straddling both files: each value hits one bloom — both plan
    assert(s.sql("SELECT CAST(SUM(k) AS BIGINT) FROM graft_dml.spec.bl " +
      "WHERE v IN (150, 151)").head().getLong(0) == 25L + 125L)
    assert(lake.lastSkippedBaseFiles.get == 0,
      "an IN matching every file's bloom must skip nothing")
    s.sql("DROP TABLE graft_dml.spec.bl")

    // refusal surface: a bloom column must exist in the schema
    val e = intercept[Exception] { s.sql(
      "CREATE TABLE graft_dml.spec.blbad (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('bloom'='nope')") }
    assert(e.getMessage.contains("not in the table schema"), e.getMessage)
  }

  test("bloom filters skip on DECIMAL and DATE columns via canonical longs") {
    // decimal-cents and date columns are the two commonest point-lookup
    // types after keys; their bloom participation hashes the CANONICAL
    // LONG form (unscaled decimal at the declared scale, epoch day) so
    // the writer's recorded filter and the pushed literal agree exactly.
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.bld")
    s.sql("CREATE TABLE graft_dml.spec.bld " +
      "(k BIGINT, amt DECIMAL(12,2), d DATE) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('bloom'='amt,d')")
    // two commits with INTERLEAVED ranges (file 1 even amounts/days,
    // file 2 odd): every file's [min, max] straddles every probe, so
    // zone maps provably cannot skip — only the blooms can
    s.sql("""INSERT INTO graft_dml.spec.bld
      SELECT id, CAST(100 + 2 * id AS DECIMAL(12,2)),
             date_add(DATE '2024-01-01', CAST(2 * id AS INT))
      FROM range(0, 50)""")
    s.sql("""INSERT INTO graft_dml.spec.bld
      SELECT 100 + id, CAST(101 + 2 * id AS DECIMAL(12,2)),
             date_add(DATE '2024-01-01', CAST(2 * id + 1 AS INT))
      FROM range(0, 50)""")
    // DECIMAL point lookup: 150.00 lives only in the even file
    assert(s.sql("SELECT CAST(SUM(k) AS BIGINT) FROM graft_dml.spec.bld " +
      "WHERE amt = CAST(150 AS DECIMAL(12,2))").head().getLong(0) == 25L)
    assert(lake.lastPlannedBaseFiles.get == 1 &&
      lake.lastSkippedBaseFiles.get == 1,
      s"decimal bloom must skip the odd file, got " +
        s"${lake.lastPlannedBaseFiles.get} planned / " +
        s"${lake.lastSkippedBaseFiles.get} skipped")
    // DATE point lookup: 2024-01-15 (offset 14, even) — odd file skips
    assert(s.sql("SELECT CAST(SUM(k) AS BIGINT) FROM graft_dml.spec.bld " +
      "WHERE d = DATE '2024-01-15'").head().getLong(0) == 7L)
    assert(lake.lastPlannedBaseFiles.get == 1 &&
      lake.lastSkippedBaseFiles.get == 1,
      s"date bloom must skip the even file, got " +
        s"${lake.lastPlannedBaseFiles.get} planned / " +
        s"${lake.lastSkippedBaseFiles.get} skipped")
    // an absent value skips BOTH files (definitely-absent everywhere)
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.bld " +
      "WHERE amt = CAST(977 AS DECIMAL(12,2))").head().getLong(0) == 0L)
    assert(lake.lastSkippedBaseFiles.get == 2,
      "an absent decimal must skip every file")
    // correctness backstop: full-table aggregates over both types
    val r = s.sql("SELECT CAST(SUM(amt) AS DECIMAL(18,2)), MIN(d), MAX(d) " +
      "FROM graft_dml.spec.bld").head()
    assert(r.getDecimal(0) == new java.math.BigDecimal("14950.00"))
    assert(r.getDate(1).toString == "2024-01-01")
    assert(r.getDate(2).toString == "2024-04-09")
    s.sql("DROP TABLE graft_dml.spec.bld")
  }

  test("MIN/MAX of DECIMAL and DATE columns answer from zone maps, zero opens") {
    // q147's metadata-aggregate shortcut extended to the new column
    // types: their per-column bounds are canonical longs, so the
    // manifest fold answers exactly — the emit path must rebuild the
    // internal Decimal / epoch-day Int, not hand Spark a raw Long
    val s = spark
    import graft.sources.RowFiles
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ddmm")
    val t = "graft_dml.spec.ddmm"
    s.sql(s"CREATE TABLE $t (k BIGINT, amt DECIMAL(12,2), d DATE) " +
      "PARTITIONED BY (bucket(2, k))")
    s.sql(s"""INSERT INTO $t
      SELECT id, CAST(100 + id AS DECIMAL(12,2)) / 4,
             date_add(DATE '2024-01-01', CAST(id AS INT))
      FROM range(0, 20)""")
    s.sql(s"""INSERT INTO $t
      SELECT 100 + id, CAST(300 + id AS DECIMAL(12,2)) / 4,
             date_add(DATE '2024-06-01', CAST(id AS INT))
      FROM range(0, 20)""")
    RowFiles.filesOpened.set(0L)
    val r = s.sql(s"SELECT MIN(amt), MAX(amt), MIN(d), MAX(d), COUNT(*) " +
      s"FROM $t").head()
    assert(RowFiles.filesOpened.get == 0L,
      s"metadata MIN/MAX must open no data files, opened " +
        s"${RowFiles.filesOpened.get}")
    assert(r.getDecimal(0) == new java.math.BigDecimal("25.00"))
    assert(r.getDecimal(1) == new java.math.BigDecimal("79.75"))
    assert(r.getDate(2).toString == "2024-01-01")
    assert(r.getDate(3).toString == "2024-06-20")
    assert(r.getLong(4) == 40L)
    s.sql("DROP TABLE graft_dml.spec.ddmm")
  }

  test("string-key zone maps skip files via truncated bounds") {
    val s = spark
    import graft.sources.RowStore

    // the truncation helper's own contract first: exact short bounds,
    // truncated lower, incremented upper, and the unsound cases
    assert(RowStore.StrBounds.truncated("abc", "xyz") == Some(("abc", "xyz")))
    val long = "abcdefghijklmnopqrstuvwxyz" // 26 chars
    assert(RowStore.StrBounds.truncated(long, long) ==
      Some(("abcdefghijklmnop", "abcdefghijklmnoq")),
      "upper bound must truncate to 16 chars and increment the last")
    // an incremented upper really does bound the full string
    assert(RowStore.StrBounds.cmp(long, "abcdefghijklmnoq") < 0)
    // no ASCII headroom in the truncated last char (0x7f) -> no sound upper
    assert(RowStore.StrBounds.truncated("a", "abcdefghijklmno\u007ftail")
      .isEmpty)
    // non-ASCII truncated prefix → statless (exact short non-ASCII ok)
    assert(RowStore.StrBounds.truncated("é", "é") == Some(("é", "é")))
    assert(RowStore.StrBounds
      .truncated("a", "ééééééééééééééééé-tail").isEmpty)

    s.sql("DROP TABLE IF EXISTS graft_dml.spec.sskip")
    s.sql("CREATE TABLE graft_dml.spec.sskip (name STRING, v BIGINT)")
    // three commits with disjoint name-prefix bands; names are >16
    // chars so the TRUNCATED path (not the exact-bound path) is what
    // this pin exercises
    for ((p, e) <- Seq(("a", 0), ("m", 1), ("z", 2)))
      s.sql("INSERT INTO graft_dml.spec.sskip VALUES " +
        (0 until 16).map(i =>
          s"('${p}_padding_padding_$i', ${e * 1000 + i})").mkString(", "))
    val sum = s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.sskip " +
      "WHERE name >= 'm' AND name < 'n'").head().getLong(0)
    assert(sum == (0 until 16).map(_ + 1000L).sum)
    assert(lake.lastPlannedBaseFiles.get > 0 &&
      lake.lastSkippedBaseFiles.get > 0,
      s"string range must skip out-of-band files, got " +
        s"${lake.lastPlannedBaseFiles.get} planned / " +
        s"${lake.lastSkippedBaseFiles.get} skipped")
    // the middle band must skip BOTH other bands: planned ≤ 1/3 of all
    val total =
      lake.lastPlannedBaseFiles.get + lake.lastSkippedBaseFiles.get
    assert(lake.lastPlannedBaseFiles.get * 3 <= total,
      s"expected ≤ total/3 planned, got " +
        s"${lake.lastPlannedBaseFiles.get}/$total")
    // unfiltered read: nothing skips
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT), COUNT(*) " +
      "FROM graft_dml.spec.sskip").head().getLong(1) == 48)
    assert(lake.lastSkippedBaseFiles.get == 0)
    s.sql("DROP TABLE graft_dml.spec.sskip")
  }

  test("per-column zone maps skip files under non-key predicates") {
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cskip")
    // table KEYED on k (bucket default): every commit covers every
    // residue mod 4, so KEY stats never separate the commits — only
    // the per-column bounds on v (numeric) and name (string) can
    s.sql("CREATE TABLE graft_dml.spec.cskip (k BIGINT, v BIGINT, " +
      "name STRING)")
    for ((p, e) <- Seq(("a", 0), ("m", 1), ("z", 2)))
      s.sql("INSERT INTO graft_dml.spec.cskip VALUES " +
        (0 until 16).map(i =>
          s"($i, ${e * 1000 + i}, '${p}_padding_padding_$i')")
          .mkString(", "))
    // numeric non-key predicate: only the middle band's 4 files plan
    val sum = s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM " +
      "graft_dml.spec.cskip WHERE v >= 1000 AND v <= 1015")
      .head().getLong(0)
    assert(sum == (0 until 16).map(_ + 1000L).sum)
    assert(lake.lastPlannedBaseFiles.get == 4 &&
      lake.lastSkippedBaseFiles.get == 8,
      s"numeric non-key predicate: expected 4 planned / 8 skipped, got " +
        s"${lake.lastPlannedBaseFiles.get}/" +
        s"${lake.lastSkippedBaseFiles.get}")
    // string non-key predicate (truncated bounds: names run past 16
    // chars): same accounting
    val cnt = s.sql("SELECT COUNT(*), CAST(SUM(v) AS BIGINT) FROM " +
      "graft_dml.spec.cskip WHERE name >= 'm' AND name < 'n'").head()
    assert(cnt.getLong(0) == 16 && cnt.getLong(1) == sum)
    assert(lake.lastPlannedBaseFiles.get == 4 &&
      lake.lastSkippedBaseFiles.get == 8,
      s"string non-key predicate: expected 4 planned / 8 skipped, got " +
        s"${lake.lastPlannedBaseFiles.get}/" +
        s"${lake.lastSkippedBaseFiles.get}")
    // conjunction across columns: v-band of commit 1 ∧ name-band of
    // commit 2 is empty, and the windows compose to skip EVERYTHING
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.cskip " +
      "WHERE v >= 1000 AND v <= 1015 AND name >= 'z'").head().getLong(0)
      == 0)
    assert(lake.lastPlannedBaseFiles.get == 0 &&
      lake.lastSkippedBaseFiles.get == 12,
      s"cross-column conjunction: expected 0 planned / 12 skipped, got " +
        s"${lake.lastPlannedBaseFiles.get}/" +
        s"${lake.lastSkippedBaseFiles.get}")
    // unfiltered read: nothing skips
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT), COUNT(*) FROM " +
      "graft_dml.spec.cskip").head().getLong(1) == 48)
    assert(lake.lastSkippedBaseFiles.get == 0)
    // an all-NULL column records no bounds and never skips (sound:
    // the file stays planned) while a present column still prunes
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cnull")
    s.sql("CREATE TABLE graft_dml.spec.cnull (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.cnull VALUES (0, NULL), (1, NULL)")
    s.sql("INSERT INTO graft_dml.spec.cnull VALUES (2, 10), (3, 20)")
    val got = s.sql("SELECT COUNT(*) FROM graft_dml.spec.cnull " +
      "WHERE v >= 100").head().getLong(0)
    assert(got == 0)
    // the all-NULL commit's files must be PLANNED (no bounds), the
    // [10,20] commit's files skipped by the v >= 100 window
    assert(lake.lastSkippedBaseFiles.get > 0 &&
      lake.lastPlannedBaseFiles.get > 0,
      s"expected the statless files planned and the bounded ones " +
        s"skipped, got ${lake.lastPlannedBaseFiles.get}/" +
        s"${lake.lastSkippedBaseFiles.get}")
    s.sql("DROP TABLE graft_dml.spec.cnull")
    s.sql("DROP TABLE graft_dml.spec.cskip")
  }

  test("type widening: int->bigint is metadata-only; narrowing refuses") {
    val s = spark
    import org.apache.spark.sql.types.{IntegerType, LongType}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.wid")
    s.sql("CREATE TABLE graft_dml.spec.wid (k BIGINT, v INT)")
    s.sql("INSERT INTO graft_dml.spec.wid VALUES (1, 10), (2, 20)") // v1
    val filesBefore = lake
      .readManifest("graft_dml.spec.wid", 1).map(_.name).toSet
    s.sql("ALTER TABLE graft_dml.spec.wid ALTER COLUMN v TYPE BIGINT") // v2
    // metadata-only: no file moved
    assert(lake.readManifest("graft_dml.spec.wid", 2)
      .map(_.name).toSet == filesBefore)
    // post-widening values past Int.MaxValue land in INT64 files; the
    // head read plans BOTH eras in one scan and widens the narrow one
    s.sql("INSERT INTO graft_dml.spec.wid VALUES (3, 3000000000)") // v3
    val head = s.table("graft_dml.spec.wid").orderBy("k").collect()
    assert(head.map(_.getLong(1)).toSeq == Seq(10L, 20L, 3000000000L))
    assert(s.table("graft_dml.spec.wid").schema("v").dataType == LongType)
    // time travel surfaces the SNAPSHOT-TIME type (pinned #schema)
    val v1 = s.sql("SELECT * FROM graft_dml.spec.wid VERSION AS OF 1")
    assert(v1.schema("v").dataType == IntegerType)
    assert(v1.orderBy("k").collect().map(_.getInt(1)).toSeq == Seq(10, 20))
    // the widened column still answers pushed aggregates / zone maps
    // soundly: per-column bounds recorded as longs on both eras
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.wid")
      .head().getLong(0) == 3000000030L)
    // refusal surface: narrowing and non-widening changes refuse —
    // Spark's analyzer rejects non-up-cast changes before the catalog
    // (NOT_SUPPORTED_CHANGE_COLUMN); anything it lets through (e.g.
    // int->string is a legal up-cast to the analyzer) must hit the
    // catalog's own only-int-to-bigint guard
    val e1 = intercept[Exception] {
      s.sql("ALTER TABLE graft_dml.spec.wid ALTER COLUMN v TYPE INT") }
    assert(e1.getMessage.contains("only the widening") ||
      e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"narrowing must refuse, got: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      s.sql("ALTER TABLE graft_dml.spec.wid ALTER COLUMN k TYPE STRING") }
    assert(e2.getMessage.contains("only the widening") ||
      e2.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"bigint->string must refuse, got: ${e2.getMessage}")
    s.sql("DROP TABLE graft_dml.spec.wid")

    // DECIMAL PRECISION widening: same-scale promotion is
    // metadata-only (files keep the unscaled long at the unchanged
    // scale); post-widening values need the extra digits, both eras
    // read in one scan, and scale changes refuse
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.widd")
    s.sql("CREATE TABLE graft_dml.spec.widd (k BIGINT, amt DECIMAL(8,2))")
    s.sql("INSERT INTO graft_dml.spec.widd VALUES (1, 12.25)") // v1
    val dFiles = lake
      .readManifest("graft_dml.spec.widd", 1).map(_.name).toSet
    s.sql("ALTER TABLE graft_dml.spec.widd " +
      "ALTER COLUMN amt TYPE DECIMAL(14,2)")                   // v2
    assert(lake.readManifest("graft_dml.spec.widd", 2)
      .map(_.name).toSet == dFiles, "decimal widening must move no file")
    s.sql("INSERT INTO graft_dml.spec.widd " +
      "VALUES (2, 123456789012.50)")                           // v3
    val drows = s.table("graft_dml.spec.widd").orderBy("k").collect()
    assert(drows.map(_.getDecimal(1).toPlainString).toSeq ==
      Seq("12.25", "123456789012.50"))
    // snapshot-time type through the pinned #schema
    assert(s.sql("SELECT * FROM graft_dml.spec.widd VERSION AS OF 1")
      .schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(8, 2))
    val e3 = intercept[Exception] {
      s.sql("ALTER TABLE graft_dml.spec.widd " +
        "ALTER COLUMN amt TYPE DECIMAL(16,4)") }
    assert(e3.getMessage.contains("only the widening") ||
      e3.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"scale change must refuse, got: ${e3.getMessage}")
    s.sql("DROP TABLE graft_dml.spec.widd")
  }

  test("merge schema evolution auto-adds source-only columns; MOR refuses") {
    val s = spark
    import graft.sources.RowStoreOps
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mev")
    s.sql("CREATE TABLE graft_dml.spec.mev (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.mev VALUES (1, 10), (2, 20)") // v1
    s.sql("SELECT * FROM VALUES (2L, 5L, 'x'), (3L, 30L, 'y') " +
      "AS t(k, v, tag)").createOrReplaceTempView("mev_src")
    val added = RowStoreOps.mergeEvolving(s, "graft_dml.spec.mev",
      "mev_src",
      """MERGE INTO graft_dml.spec.mev t USING mev_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = s.tag
        WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)""")
    assert(added == Seq("tag"))
    val rows = s.table("graft_dml.spec.mev").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    // untouched row NULL-pads, matched row updated+stamped, new row
    // inserted complete
    assert(rows == Seq((1L, 10L, null), (2L, 25L, "x"), (3L, 30L, "y")))
    // the pre-merge snapshot keeps its shape (no `tag`)
    assert(s.sql("SELECT * FROM graft_dml.spec.mev VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("k", "v"))
    // idempotent surface: no new columns → plain merge, nothing added
    assert(RowStoreOps.mergeEvolving(s, "graft_dml.spec.mev", "mev_src",
      """MERGE INTO graft_dml.spec.mev t USING mev_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET tag = s.tag""").isEmpty)
    s.sql("DROP TABLE graft_dml.spec.mev")

    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mevm")
    s.sql("CREATE TABLE graft_dml.spec.mevm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.mevm VALUES (1, 10)")
    val e = intercept[Exception] {
      RowStoreOps.mergeEvolving(s, "graft_dml.spec.mevm", "mev_src",
        "MERGE INTO graft_dml.spec.mevm t USING mev_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = s.v") }
    assert(e.getMessage.contains("merge-on-read"),
      s"MOR must refuse schema evolution, got: ${e.getMessage}")
    s.sql("DROP TABLE graft_dml.spec.mevm")
  }

  test("a FAILED evolving merge rolls the schema back (atomic-in-effect)") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mevr")
    s.sql("CREATE TABLE graft_dml.spec.mevr (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.mevr VALUES (1, 10), (2, 20)") // v1
    // duplicate source keys make the MERGE itself fail AFTER the
    // auto-ADD (cardinality violation) — the crash window the
    // round-11 verdict documented as non-atomic
    s.sql("SELECT * FROM VALUES (2L, 5L, 'x'), (2L, 6L, 'y') " +
      "AS t(k, v, tag)").createOrReplaceTempView("mevr_dup")
    val preSchema = s.table("graft_dml.spec.mevr").schema.fieldNames.toSeq
    intercept[Exception] {
      RowStoreOps.mergeEvolving(s, "graft_dml.spec.mevr", "mevr_dup",
        """MERGE INTO graft_dml.spec.mevr t USING mevr_dup s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag""")
    }
    // schema restored, content untouched
    assert(s.table("graft_dml.spec.mevr").schema.fieldNames.toSeq
      == preSchema, "failed merge must roll the auto-ADD back")
    assert(s.table("graft_dml.spec.mevr").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // the rollback is NOT a user DROP: the same evolution retries
    // cleanly (no blacklisted name)
    s.sql("SELECT * FROM VALUES (2L, 5L, 'x') AS t(k, v, tag)")
      .createOrReplaceTempView("mevr_ok")
    assert(RowStoreOps.mergeEvolving(s, "graft_dml.spec.mevr", "mevr_ok",
      """MERGE INTO graft_dml.spec.mevr t USING mevr_ok s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = s.tag""")
      == Seq("tag"))
    assert(s.table("graft_dml.spec.mevr").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq ==
      Seq((1L, 10L, null), (2L, 25L, "x")))
    s.sql("DROP TABLE graft_dml.spec.mevr")
  }

  test("equality deletes: key-value deltas, no base rewrite, OPTIMIZE folds") {
    val s = spark
    import graft.sources.{RowFiles, RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.eqd")
    s.sql("CREATE TABLE graft_dml.spec.eqd (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.eqd VALUES " +
      "(1, 10), (2, 20), (5, 50), (6, 60)") // v1
    val basesBefore = lake.readManifest("graft_dml.spec.eqd", 1)
      .filter(_.kind == "base").map(_.name).toSet
    val nFiles = RowStoreOps.equalityDelete(s, "graft_dml.spec.eqd",
      s.range(1, 3).toDF("kv")) // delete keys 1, 2
    assert(nFiles > 0)
    // NO base file was rewritten — the delete is delta-only
    val man2 = lake.readManifest("graft_dml.spec.eqd", 2)
    assert(man2.filter(_.kind == "base").map(_.name).toSet == basesBefore)
    assert(man2.count(_.kind == "delta") == nFiles)
    // content: keys 1, 2 gone
    assert(s.table("graft_dml.spec.eqd").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5L, 50L), (6L, 60L)))
    // a PRUNED projection (no key column) must still replay the
    // eq-delete — the reader widens its own read to include the key
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.eqd")
      .head().getLong(0) == 110L)
    // resurrection: re-inserting key 1 must survive the OLD delete
    s.sql("INSERT INTO graft_dml.spec.eqd VALUES (1, 11)") // v3
    assert(s.table("graft_dml.spec.eqd").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (5L, 50L), (6L, 60L)))
    // OPTIMIZE folds the eq-deltas away; content invisible, and the
    // post-compact read opens exactly one base file per non-empty
    // group with zero deltas
    RowStoreOps.compact(s, "graft_dml.spec.eqd")
    val head = lake.currentVersion("graft_dml.spec.eqd")
    val manH = lake.readManifest("graft_dml.spec.eqd", head)
    assert(manH.count(_.kind == "delta") == 0,
      s"compaction must drop eq-deltas, got $manH")
    RowFiles.filesOpened.set(0L)
    // unsorted scan (orderBy's range sampling would read files twice)
    assert(s.table("graft_dml.spec.eqd").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      Seq((1L, 11L), (5L, 50L), (6L, 60L)))
    assert(RowFiles.filesOpened.get == manH.count(_.kind == "base"),
      s"post-compact read must open exactly the base files, opened " +
        s"${RowFiles.filesOpened.get} of ${manH.count(_.kind == "base")}")
    s.sql("DROP TABLE graft_dml.spec.eqd")

    // refusal surface: COW tables have no delta read path
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.eqc")
    s.sql("CREATE TABLE graft_dml.spec.eqc (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.eqc VALUES (1, 10)")
    val e = intercept[Exception] {
      RowStoreOps.equalityDelete(s, "graft_dml.spec.eqc",
        s.range(1, 2).toDF("kv")) }
    assert(e.getMessage.contains("merge-on-read"),
      s"COW must refuse equality deletes, got: ${e.getMessage}")
    s.sql("DROP TABLE graft_dml.spec.eqc")
  }

  test("interleaved position + equality deletes replay like the COW oracle") {
    // the trickiest MOR ordering: a POSITION delete (SQL DELETE on a
    // MOR table) removes rows from the seed file, then an EQUALITY
    // delete re-targets keys of that SAME file — one already
    // position-deleted (must stay a no-op, not resurrect or error),
    // one still live (must go) — then re-inserts resurrect both.
    // Oracle: a COW twin runs the semantically identical statements
    // (an eq-delete at commit point == DELETE ... WHERE k IN (...)),
    // and every version of the two chains must agree.
    val s = spark
    import graft.sources.RowStoreOps
    for ((t, props) <- Seq(
      ("graft_dml.spec.mixm", " TBLPROPERTIES ('format'='mor')"),
      ("graft_dml.spec.mixc", ""))) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)$props")        // v0
      s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 10)") // v1
      s.sql(s"DELETE FROM $t WHERE k IN (1, 3)")                  // v2 (pos)
      if (t.endsWith("mixm"))                                     // v3 (eq)
        RowStoreOps.equalityDelete(s, t,
          s.sql("SELECT CAST(k AS BIGINT) FROM VALUES (3), (5) AS d(k)"))
      else s.sql(s"DELETE FROM $t WHERE k IN (3, 5)")
      s.sql(s"INSERT INTO $t VALUES (3, 31), (5, 51)")            // v4
    }
    // the MOR chain kept its seed base file un-rewritten and carries
    // BOTH delta kinds
    import graft.sources.RowStore
    val man = lake.readManifest("graft_dml.spec.mixm", 4)
    assert(man.count(_.kind == "delta") >= 2,
      s"expected position + equality delta files, got $man")
    def state(t: String, v: Int): Seq[(Long, Long)] =
      s.sql(s"SELECT k, v FROM $t VERSION AS OF $v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (v <- 1 to 4)
      assert(state("graft_dml.spec.mixm", v) ==
        state("graft_dml.spec.mixc", v),
        s"MOR replay diverged from the COW oracle at version $v")
    assert(state("graft_dml.spec.mixm", 4) ==
      Seq((0L, 0L), (2L, 20L), (3L, 31L), (4L, 40L), (5L, 51L),
        (6L, 60L), (7L, 70L), (8L, 80L), (9L, 90L)))
    s.sql("DROP TABLE graft_dml.spec.mixm")
    s.sql("DROP TABLE graft_dml.spec.mixc")
  }

  test("manifest chain: incremental commits, checkpoint cap, rewrite_manifests") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.chain")
    s.sql("CREATE TABLE graft_dml.spec.chain (k BIGINT, v BIGINT)")
    val t = "graft_dml.spec.chain"
    for (i <- 1 to 4) s.sql(s"INSERT INTO $t VALUES ($i, ${i * 10})")
    // four appends on top of the v0 full manifest = a 5-deep chain
    assert(lake.manifestChainLength(t, 4) == 5)
    RowStoreOps.createTag(t, "prewrite")
    val contentBefore = s.table(t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq.sorted
    val v2Before = s.sql(s"SELECT k, v FROM $t VERSION AS OF 2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (before, after) = RowStoreOps.rewriteManifests(t)
    assert(before == 5 && after == 1, s"chain $before -> $after")
    // every read surface is observationally unchanged: head content,
    // time travel THROUGH the compacted head's history, tag reads
    assert(s.table(t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq.sorted == contentBefore)
    assert(s.sql(s"SELECT k, v FROM $t VERSION AS OF 2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == v2Before)
    assert(s.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 'prewrite'")
      .head().getLong(0) == 4L)
    // the `.manifests` metadata table reports the chain shape (head is
    // now a checkpoint, v1..v3 still incremental off their parents)
    // with zero data files opened
    graft.sources.RowFiles.filesOpened.set(0L)
    val mrows = s.table(s"$t.manifests").orderBy("version").collect()
      .map(r => (r.getInt(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1 else r.getInt(2)))
    assert(graft.sources.RowFiles.filesOpened.get == 0L,
      ".manifests must open no data files")
    assert(mrows.toSeq == Seq((0, true, -1), (1, false, 0), (2, false, 1),
      (3, false, 2), (4, true, -1)), mrows.mkString("; "))
    // further commits chain off the fresh checkpoint
    s.sql(s"INSERT INTO $t VALUES (5, 50)")
    assert(lake.manifestChainLength(t, 5) == 2)
    // AUTO-CHECKPOINT: the chain never exceeds CheckpointEvery even
    // without a manual rewrite — commit depth is bounded by design
    for (i <- 6 to 30) s.sql(s"INSERT INTO $t VALUES ($i, ${i * 10})")
    val depths = (5 to 30).map(v => lake.manifestChainLength(t, v))
    assert(depths.max <= RowStore.CheckpointEvery,
      s"chain depth must stay capped, got $depths")
    assert(depths.min == 1, "a checkpoint manifest must have been written")
    assert(s.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 30L)
    s.sql("DROP TABLE graft_dml.spec.chain")
  }

  test("incremental manifest size is O(commit), not O(table)") {
    // the scale claim itself: a commit's manifest records ONLY its own
    // additions/removals — at a 100-TB commit cadence the write cost
    // per commit must not grow with the table's accumulated file count
    val s = spark
    import graft.sources.RowStore
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.osz")
    val t = "graft_dml.spec.osz"
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    for (c <- 0 until 10)
      s.sql(s"INSERT INTO $t SELECT id + ${c * 10}, id FROM range(0, 10)")
    val resolved = lake.readManifest(t, 10)
    assert(resolved.size >= 30, s"expected ~40 accumulated files")
    import scala.jdk.CollectionConverters._
    val rawLines = java.nio.file.Files.readAllLines(java.nio.file.Paths
      .get(lake.dataDir(t)).getParent
      .resolve("v10.manifest")).asScala.toSeq
    val entryLines = rawLines.count(l =>
      l.nonEmpty && !l.startsWith("#"))
    assert(rawLines.exists(_.startsWith("#parent\t")),
      "the 10th commit must be incremental")
    assert(entryLines <= 4,
      s"an append commit's manifest must list only ITS files " +
        s"(<=4 groups), got $entryLines entry lines for " +
        s"${resolved.size} accumulated")
    s.sql("DROP TABLE graft_dml.spec.osz")
  }

  test("vacuum cuts retained manifest chains before expiring ancestors") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.vchain")
    val t = "graft_dml.spec.vchain"
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    for (i <- 1 to 5) s.sql(s"INSERT INTO $t VALUES ($i, ${i * 10})")
    // v4/v5 resolve through expired ancestors (v0..v3) — vacuum must
    // materialize them or retained reads would dangle into deleted
    // manifest files
    val (retained, _) = RowStoreOps.vacuum(t, keepLast = 2)
    assert(retained == Seq(4, 5))
    assert(lake.manifestChainLength(t, 4) == 1)
    assert(s.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 5L)
    assert(s.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 4")
      .head().getLong(0) == 4L)
    s.sql("DROP TABLE graft_dml.spec.vchain")
  }

  test("remove_orphan_files deletes debris, retains every referenced file") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.orph")
    val t = "graft_dml.spec.orph"
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    s.sql(s"INSERT INTO $t VALUES (3, 30)")
    val dir = java.nio.file.Paths.get(lake.dataDir(t))
    val referenced = lake.readManifest(t, lake.currentVersion(t))
      .map(_.name)
    // plant two orphans: a crashed writer's task file (copied data) and
    // a zero-byte temp
    java.nio.file.Files.copy(dir.resolve(referenced.head),
      dir.resolve("g0-orphan-a.parquet"))
    java.nio.file.Files.write(dir.resolve("g1-orphan-b.parquet"),
      Array.empty[Byte])
    // AGE HORIZON first: both orphans are brand new, so the default
    // horizon must refuse to sweep them — this is the guard that keeps
    // an in-flight write's landed-but-uncommitted task files safe
    val (freshDeleted, _) = RowStoreOps.removeOrphanFiles(t)
    assert(freshDeleted == 0,
      s"fresh files must survive the default horizon, got $freshDeleted")
    assert(java.nio.file.Files.exists(dir.resolve("g0-orphan-a.parquet")))
    val (deleted, kept) = RowStoreOps.removeOrphanFiles(t, olderThanMs = 0L)
    assert(deleted == 2, s"expected 2 orphans deleted, got $deleted")
    assert(kept == referenced.size)
    referenced.foreach(n => assert(
      java.nio.file.Files.exists(dir.resolve(n)), s"referenced $n deleted"))
    assert(!java.nio.file.Files.exists(dir.resolve("g0-orphan-a.parquet")))
    // content and time travel unchanged
    assert(s.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 3L)
    assert(s.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 1")
      .head().getLong(0) == 2L)
    s.sql("DROP TABLE graft_dml.spec.orph")
  }

  test(".snapshots classifies operations with zero data-file opens") {
    val s = spark
    import graft.sources.RowFiles
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.snap")
    val t = "graft_dml.spec.snap"
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    s.sql(s"INSERT INTO $t VALUES (0, 1), (1, 2), (2, 3), (3, 4)") // v1
    s.sql(s"DELETE FROM $t WHERE k % 2 = 0")  // v2: empties group 0
    s.sql(s"UPDATE $t SET v = v + 1 WHERE k % 2 = 1") // v3: rewrites g1
    RowFiles.filesOpened.set(0L)
    val rows = s.table(s"$t.snapshots").orderBy("version").collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(RowFiles.filesOpened.get == 0L,
      s".snapshots must open no data files, opened ${RowFiles.filesOpened.get}")
    assert(rows.toSeq == Seq(
      (0, -1, "create", 0L, 0L, false),
      (1, 0, "append", 2L, 4L, false),   // one file per non-empty group
      (2, 1, "delete", 1L, 2L, false),   // group 0 emptied wholesale
      (3, 2, "overwrite", 1L, 2L, true)), rows.mkString("; "))
    // post-VACUUM: the oldest retained version's true predecessor is
    // gone — it must classify as 'unknown', never as a phantom
    // 'create' (only v0 is a create) or a mis-diffed multi-commit op
    graft.sources.RowStoreOps.vacuum(t, keepLast = 2)
    val afterVac = s.table(s"$t.snapshots").orderBy("version").collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2)))
    assert(afterVac.toSeq == Seq((2, -1, "unknown"), (3, 2, "overwrite")),
      afterVac.mkString("; "))
    s.sql("DROP TABLE graft_dml.spec.snap")
  }

  test("cdc change feed pairs single-delete+insert keys, q109 rule otherwise") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.cdc")
    val t = "graft_dml.spec.cdc"
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)") // v1
    // v2: update k=1 (pair), delete k=2 (plain), insert k=4 (plain)
    s.sql(s"UPDATE $t SET v = 11 WHERE k = 1")
    s.sql(s"DELETE FROM $t WHERE k = 2")
    s.sql(s"INSERT INTO $t VALUES (4, 40)")
    def feed(mode: Option[String]) = {
      val r = s.read.option("from", "1")
        .option("to", s"${lake.currentVersion(t)}")
      mode.foreach(m => r.option("mode", m))
      r.table(s"$t.changes").orderBy("k", "_change").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    }
    // plain mode: the q109 value-based rule, updates = delete+insert
    assert(feed(None) == Seq((1L, 10L, "delete"), (1L, 11L, "insert"),
      (2L, 20L, "delete"), (4L, 40L, "insert")))
    // cdc mode: the single-pair key re-tags; plain rows unchanged
    assert(feed(Some("cdc")) == Seq(
      (1L, 11L, "update_postimage"), (1L, 10L, "update_preimage"),
      (2L, 20L, "delete"), (4L, 40L, "insert")))
    s.sql("DROP TABLE graft_dml.spec.cdc")
  }

  test(".refs lists main, tags, and staged branches with zero data-file opens") {
    val s = spark
    import graft.sources.{RowFiles, RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.refs")
    s.sql("CREATE TABLE graft_dml.spec.refs (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.refs VALUES (1, 10)") // v1
    RowStoreOps.createTag("graft_dml.spec.refs", "rel1")
    s.sql("INSERT INTO graft_dml.spec.refs VALUES (2, 20)") // v2
    s.sql("SELECT CAST(3 AS BIGINT) AS k, CAST(30 AS BIGINT) AS v")
      .writeTo("graft_dml.spec.refs").option("branch", "wip").append()
    RowFiles.filesOpened.set(0L)
    val rows = s.table("graft_dml.spec.refs.refs").orderBy("ref_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(RowFiles.filesOpened.get == 0L,
      s".refs must open no data files, opened ${RowFiles.filesOpened.get}")
    // main tracks the head, the tag pins v1, the branch reports its
    // fork base (v2 — what publish will OCC-validate against)
    assert(rows.toSeq == Seq(("main", "BRANCH", 2), ("rel1", "TAG", 1),
      ("wip", "BRANCH", 2)), rows.mkString("; "))
    // drops reflect immediately: only the implicit main remains
    lake.dropTag("graft_dml.spec.refs", "rel1")
    lake.dropBranch("graft_dml.spec.refs", "wip")
    assert(s.table("graft_dml.spec.refs.refs").collect()
      .map(_.getString(0)).toSeq == Seq("main"))
    s.sql("DROP TABLE graft_dml.spec.refs")
  }

  test(".partitions reports per-group rollups with zero data-file opens") {
    val s = spark
    import graft.sources.RowFiles
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.pt")
    s.sql("CREATE TABLE graft_dml.spec.pt (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    // two appends → 2 base files per group; all rows exact
    s.sql("INSERT INTO graft_dml.spec.pt VALUES (0, 1), (1, 2), (2, 3)")
    s.sql("INSERT INTO graft_dml.spec.pt VALUES (4, 5), (5, 6)")
    RowFiles.filesOpened.set(0L)
    val rows = s.table("graft_dml.spec.pt.partitions")
      .orderBy("spec", "grp").collect()
    assert(RowFiles.filesOpened.get == 0L,
      s".partitions must open no data files, opened " +
        s"${RowFiles.filesOpened.get}")
    assert(rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSeq == Seq((0, 2L, 0L, 3L), (1, 2L, 0L, 2L)),
      rows.mkString("; "))
    assert(rows.forall(_.getLong(5) > 0), "bytes must be real fs sizes")

    // MOR: a group with a delta file loses its exact row count (NULL)
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.ptm")
    s.sql("CREATE TABLE graft_dml.spec.ptm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql("INSERT INTO graft_dml.spec.ptm VALUES (1, 10), (2, 20)")
    s.sql("UPDATE graft_dml.spec.ptm SET v = 99 WHERE k = 1")
    val mr = s.table("graft_dml.spec.ptm.partitions").collect()
    assert(mr.exists(_.getLong(3) > 0), "the delta file must be counted")
    assert(mr.filter(_.getLong(3) > 0).forall(_.isNullAt(4)),
      "a delta-dirty partition has no exact row count")
    s.sql("DROP TABLE graft_dml.spec.pt")
    s.sql("DROP TABLE graft_dml.spec.ptm")
  }

  test("CALL procedures drive the maintenance surface end to end") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.proc")
    s.sql("CREATE TABLE graft_dml.spec.proc (k BIGINT, v BIGINT)") // v0
    s.sql("INSERT INTO graft_dml.spec.proc VALUES (1, 10), (2, 20)") // v1
    s.sql("INSERT INTO graft_dml.spec.proc VALUES (3, 30)") // v2

    // create_tag returns (tag, version = current)
    val tagRow = s.sql(
      "CALL graft_dml.system.create_tag('spec.proc', 'rel')").head()
    assert((tagRow.getString(0), tagRow.getInt(1)) == ("rel", 2))

    // rollback_to_snapshot commits a NEW head with v1's content
    val rb = s.sql(
      "CALL graft_dml.system.rollback_to_snapshot('spec.proc', 1)").head()
    assert((rb.getInt(0), rb.getInt(1)) == (2, 3))
    assert(s.table("graft_dml.spec.proc").count() == 2)

    // named-argument form works too (Spark's CALL by-name binding)
    // key 5 shares key 1's bucket → that group now has 2 base files
    s.sql("INSERT INTO graft_dml.spec.proc VALUES (5, 40)") // v4
    val rw = s.sql("CALL graft_dml.system.rewrite_data_files(" +
      "table => 'spec.proc')").head()
    assert(rw.getInt(0) >= 1, s"fragmented group must compact: $rw")
    assert(s.table("graft_dml.spec.proc").count() == 3)

    // expire_snapshots: keep_last=1 + the tagged v2
    val ex = s.sql("CALL graft_dml.system.expire_snapshots(" +
      "'spec.proc', 1)").head()
    assert(ex.getInt(0) == 2, s"head + tagged v2 retained: $ex")
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.proc " +
      "VERSION AS OF 'rel'").head().getLong(0) == 3)

    // publish_branch: stage then CALL-publish
    s.sql("SELECT CAST(9 AS BIGINT) AS k, CAST(90 AS BIGINT) AS v")
      .writeTo("graft_dml.spec.proc").option("branch", "b1").append()
    val pb = s.sql("CALL graft_dml.system.publish_branch(" +
      "'spec.proc', 'b1')").head()
    assert(pb.getInt(0) > 0)
    assert(s.table("graft_dml.spec.proc").count() == 4)

    // unknown procedure fails loudly
    val unknown =
      try { s.sql("CALL graft_dml.system.nope('x')").collect(); false }
      catch { case e: Exception => e.getMessage.contains("unknown procedure") ||
        e.getMessage.contains("nope") }
    assert(unknown)
    s.sql("DROP TABLE graft_dml.spec.proc")
  }

  test("tags are immutable and VACUUM honors tag retention") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.tg")
    s.sql("CREATE TABLE graft_dml.spec.tg (k BIGINT, v BIGINT)") // v0
    s.sql("INSERT INTO graft_dml.spec.tg VALUES (1, 10), (2, 20)") // v1
    RowStoreOps.createTag("graft_dml.spec.tg", "rel_a") // tags v1
    s.sql("INSERT INTO graft_dml.spec.tg VALUES (3, 30)") // v2
    s.sql("INSERT INTO graft_dml.spec.tg VALUES (4, 40)") // v3

    // immutability: re-pointing an existing tag fails loudly
    val repoint =
      try { RowStoreOps.createTag("graft_dml.spec.tg", "rel_a"); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("immutable") }
    assert(repoint, "re-creating an existing tag must fail loudly")
    // all-digit names would shadow version ids → rejected
    intercept[IllegalArgumentException] {
      RowStoreOps.createTag("graft_dml.spec.tg", "123")
    }

    // VERSION AS OF '<tag>' resolves by name
    assert(s.sql("SELECT COUNT(*) FROM graft_dml.spec.tg " +
      "VERSION AS OF 'rel_a'").head().getLong(0) == 2)

    // keepLast=1 would expire v0..v2; the tag keeps v1's manifest and
    // files alive, v0/v2 expire
    val (retained, _) = RowStoreOps.vacuum("graft_dml.spec.tg", keepLast = 1)
    assert(retained == Seq(1, 3),
      s"tagged v1 + head v3 must be retained, got $retained")
    assert(s.sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft_dml.spec.tg " +
      "VERSION AS OF 'rel_a'").head().getLong(0) == 30,
      "the tagged snapshot must stay fully readable after VACUUM")
    val expiredFails =
      try { s.sql("SELECT * FROM graft_dml.spec.tg VERSION AS OF 2").collect(); false }
      catch { case _: Exception => true }
    assert(expiredFails, "untagged expired versions must fail at analysis")
    // an unknown ref name fails loudly, not as a silent empty read
    val unknownFails =
      try { s.sql("SELECT * FROM graft_dml.spec.tg " +
        "VERSION AS OF 'nope_ref'").collect(); false }
      catch { case _: Exception => true }
    assert(unknownFails)
    s.sql("DROP TABLE graft_dml.spec.tg")
  }

  test("the table stream refuses rewriting commits (append-only contract)") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.app")
    s.sql("CREATE TABLE graft_dml.spec.app (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.app VALUES (1, 10), (2, 20)")
    // a COW rewrite replaces files — streaming over that history
    // would re-emit rewritten rows, so the plan must fail loudly
    s.sql("UPDATE graft_dml.spec.app SET v = v + 1 WHERE k = 1")
    val q = s.readStream.option("from", "0").table("graft_dml.spec.app")
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("append-only")),
      s"expected the append-only refusal, got: ${messages(e)}")
    s.sql("DROP TABLE graft_dml.spec.app")
  }

  test("VACUUM deletes expired manifests and exactly the orphaned files") {
    val s = spark
    import graft.sources.{RowStore, RowStoreOps}
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.vac")
    s.sql("CREATE TABLE graft_dml.spec.vac (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO graft_dml.spec.vac VALUES " +
      (0 until 8).map(i => s"($i, $i)").mkString(", "))         // v1
    s.sql("INSERT OVERWRITE graft_dml.spec.vac VALUES (1, 1), (2, 2)") // v2
    val key = "graft_dml.spec.vac"
    val m1 = lake.readManifest(key, 1).map(_.name).toSet
    val m2 = lake.readManifest(key, 2).map(_.name).toSet
    val orphans = m1 -- m2
    assert(orphans.nonEmpty, "overwrite must orphan v1's files")

    val (retained, deleted) = RowStoreOps.vacuum(key, keepLast = 1)
    assert(retained == Seq(2) && deleted == orphans.size,
      s"expected exactly the ${orphans.size} orphaned files deleted, " +
        s"got $deleted (retained $retained)")
    assert(lake.versions(key) == Seq(2))
    // current read unaffected; expired time travel fails at ANALYSIS
    assert(s.table("graft_dml.spec.vac").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    intercept[Exception] {
      s.sql("SELECT * FROM graft_dml.spec.vac VERSION AS OF 1")
    }
    s.sql("DROP TABLE graft_dml.spec.vac")
  }
}
