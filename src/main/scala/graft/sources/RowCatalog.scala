package graft.sources

/** Driver-contract entries for the DML catalog. */
object RowCatalogQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, lit}

  /** q106/q108 share one lifecycle (CREATE → INSERT seed → MERGE →
    * DELETE) differing only in table name and format; the oracle
    * restates the end state relationally from raw orders, so a wrong
    * clause anywhere (DELETE firing for 'F' rows, the merge updating
    * with the target's own cents, a delta misapplied) breaks the hash. */
  private[graft] def dmlLifecycle(s: SparkSession, d: String, table: String,
      viewTag: String, tblProps: String): Unit = {
    graft.Tables(s, d, "orders").createOrReplaceTempView(s"${viewTag}_orders")
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"CREATE TABLE $table (k BIGINT, cents BIGINT, status STRING)" +
      tblProps)
    s.sql(s"""INSERT INTO $table
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
             o_orderstatus
      FROM ${viewTag}_orders WHERE o_orderkey % 7 = 0""")
    s.sql(s"""MERGE INTO $table t
      USING (SELECT o_orderkey AS k,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                    o_orderstatus AS status
             FROM ${viewTag}_orders WHERE o_orderkey % 5 = 0) s
      ON t.k = s.k
      WHEN MATCHED AND t.status = 'F' THEN
        UPDATE SET cents = t.cents + s.cents
      WHEN MATCHED AND t.status <> 'F' THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, cents, status)
        VALUES (s.k, s.cents, s.status)""")
    s.sql(s"DELETE FROM $table WHERE k % 97 = 0")
  }

  /** ONE committed lifecycle per (session, dataset, format), shared by
    * every consumer that only READS the committed table afterwards
    * (q106 final state, q107 time travel, q109 batch CDF, st33
    * streaming CDF on COW; q108 on MOR). Before this cache the bench
    * ran five full 4-commit lifecycles per round with ~95% of q109's
    * 4.7 s in setup shared with its siblings. Mutating consumers
    * (q110 OPTIMIZE, q111 VACUUM) keep private tables — their
    * operations add versions/delete files, which would break the
    * sharers' version-count and time-travel contracts. Keyed by
    * dataset tag so a session verifying several SFs never cross-reads;
    * `synchronized` because Verify/bench are single-threaded but spec
    * suites may share the session. */
  // keyed by applicationId (what the scratch table dirs actually
  // scope by) — holding SparkSession references would pin stopped
  // sessions for the JVM lifetime
  private val lifecycleBuilt = scala.collection.mutable.Set.empty[String]

  private[graft] def sharedLifecycle(s: SparkSession, d: String,
      mor: Boolean): String = lifecycleBuilt.synchronized {
    val fmt = if (mor) "mor" else "cow"
    val tag = graft.Scratch.tag(d)
    // cache key = the SAME sanitized tag the table name embeds: two
    // datasets that sanitize alike MUST share one cache entry, or the
    // second would rebuild (DROP) the first's table under a distinct
    // key and its consumers would silently read the wrong data
    val table = s"graft_dml.ns.shared_${fmt}_$tag"
    val ck = s.sparkContext.applicationId + "|" + tag + "|" + fmt
    if (!lifecycleBuilt.contains(ck)) {
      dmlLifecycle(s, d, table, s"dml_${fmt}_$tag",
        if (mor) " TBLPROPERTIES ('format'='mor')" else "")
      // marked built only AFTER success — a failed build must retry,
      // not poison every later consumer with a half-made table
      lifecycleBuilt.add(ck); ()
    }
    table
  }

  private val coreQueries:
      Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── q106: SQL MERGE INTO + DELETE FROM against the DSv2 catalog —
    // the full DML lifecycle over COPY-ON-WRITE file groups. All four
    // statements are Spark's own SQL planning over the connector's
    // row-level operation: the engine computes the merge, runtime
    // group filtering prunes the scan to matched groups, and the
    // connector replaces exactly those groups' parquet files.
    "q106_merge_into" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.table(t).orderBy(col("k"))
    }),

    // ── q107: SQL TIME TRAVEL (`VERSION AS OF`) — each DML commit
    // writes a manifest over immutable files, and `SELECT … VERSION
    // AS OF v` plans from manifest v (v0 CREATE, v1 INSERT seed,
    // v2 MERGE, v3 DELETE). Aggregating EVERY version in one statement
    // means a wrong snapshot anywhere (a replaced group leaking into
    // an old version, an off-by-one pin) shifts a row the oracle,
    // restating all four states from raw orders, will catch.
    "q107_version_asof" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.sql(s"""
        SELECT 0 AS version, COUNT(*) AS n,
               CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents
        FROM $t VERSION AS OF 0
        UNION ALL
        SELECT 1, COUNT(*), CAST(COALESCE(SUM(cents), 0) AS BIGINT)
        FROM $t VERSION AS OF 1
        UNION ALL
        SELECT 2, COUNT(*), CAST(COALESCE(SUM(cents), 0) AS BIGINT)
        FROM $t VERSION AS OF 2
        UNION ALL
        SELECT 3, COUNT(*), CAST(COALESCE(SUM(cents), 0) AS BIGINT)
        FROM $t VERSION AS OF 3
        ORDER BY version""")
    }),

    // ── q108: the SAME lifecycle against a MERGE-ON-READ table
    // ('format'='mor', SupportsDelta): MERGE/DELETE write row-level
    // delta records instead of rewriting groups, and the scan merges
    // base + deltas at read time. Identical oracle to q106 — the two
    // storage strategies must be observationally equivalent.
    "q108_merge_mor" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = true)
      s.table(t).orderBy(col("k"))
    }),

    // ── q154: DELETION VECTORS — q108's MOR lifecycle with
    // 'deletes'='dv': every delete commits ONE position-bitmap blob
    // per touched data file (Delta's DVs / Iceberg v3's delete
    // vectors) instead of row-granularity delete records, and a
    // second delete against the same file REPLACES its vector with
    // the union — so a file carries at most one vector however many
    // delete commits touched it, which is what keeps high-churn MOR
    // readable at 100 TB (replay cost tracks touched files, never
    // deleted rows). The MERGE's DELETE clause and the DELETE FROM
    // both route through the vector path; updates/inserts keep the
    // positional record path. Observationally identical to q108 —
    // the oracle is the q106/q108 restatement verbatim, and
    // DeletionVectorSpec pins the one-vector-per-file accounting,
    // the union-merge, CDF equivalence, and the eq-delete interleave.
    "q154_dml_deletion_vectors" -> ((s, d) => {
      dmlLifecycle(s, d, "graft_dml.ns.accounts_dv", "q154",
        " TBLPROPERTIES ('format'='mor','deletes'='dv')")
      s.table("graft_dml.ns.accounts_dv").orderBy(col("k"))
    }),

    // ── q109: CHANGE-DATA-FEED read — `<table>.changes` with
    // from/to options restates the inserts and deletes between two
    // retained versions (an update = delete+insert, the value-based
    // CDF of a COW format). Groups whose file signature is identical
    // at both versions are never read. The oracle recomputes the diff
    // between the v1 (seed) and v3 (final) states from raw orders.
    "q109_change_feed" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.read.option("from", "1").option("to", "3")
        .table(s"$t.changes")
        .orderBy(col("k"), col("_change"))
    }),

    // ── q110: OPTIMIZE (targeted compaction) — the MOR lifecycle
    // leaves delta files the scan must replay on every read; compact
    // rewrites ONLY the dirty groups (any delta, or fragmented base)
    // into one base file each and drops their deltas, as a new
    // version. The oracle is q108's content restatement verbatim:
    // compaction must be observationally invisible. The file-level
    // half of the contract (only dirty groups rewritten, deltas gone,
    // pre-compact version still resolves) is pinned in RowCatalogSpec.
    "q110_dml_optimize" -> ((s, d) => {
      dmlLifecycle(s, d, "graft_dml.ns.accounts_o", "q110",
        " TBLPROPERTIES ('format'='mor')")
      RowStoreOps.compact(s, "graft_dml.ns.accounts_o")
      s.table("graft_dml.ns.accounts_o").orderBy(col("k"))
    }),

    // ── q111: VACUUM (version retention) — after the COW lifecycle
    // (v0..v3), retain the last 2 versions and physically delete the
    // files only expired manifests reference. The row restates the
    // THREE contract halves: current content unchanged (count +
    // cents over the post-vacuum table), storage actually reclaimed
    // (files deleted — v2's rewrite orphaned v1 files at every SF),
    // and expired time travel failing at analysis rather than
    // dangling into deleted files.
    // ── q115: MANIFEST-STATS FILE SKIPPING — the zone-map read path
    // every lake format plans with: three INSERT commits land three
    // disjoint key bands (epoch·10⁷ offsets), each base file carrying
    // its key [min, max] in the manifest; the banded SELECT pushes
    // its range down and the scan plans ONLY the middle epoch's files
    // (RowCatalogSpec pins the planned/skipped accounting, including
    // the delta-dirty group that must never skip). All filters stay
    // residual — skipping can cost performance, never correctness —
    // and the oracle restates the band from raw orders.
    "q115_dml_file_skip" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q115_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ledger")
      s.sql("CREATE TABLE graft_dml.ns.ledger " +
        "(k BIGINT, cents BIGINT, status STRING)")
      // epoch offset = the first power of 10 above max(o_orderkey)
      // (floor 1e7, matching the benched SFs): orderkey reaches
      // 6M·SF, so a FIXED offset would overlap the key bands around
      // SF 1.7 and silently diverge from the oracle's `% 3` band
      // restatement. A 1-row bounds fetch is planning metadata (the
      // q69 discipline), never data.
      val mxK = s.sql("SELECT CAST(max(o_orderkey) AS BIGINT) " +
        "FROM q115_orders").head().getLong(0)
      var off = 10000000L
      while (off <= mxK) off *= 10
      for (e <- 0 until 3)
        s.sql(s"""INSERT INTO graft_dml.ns.ledger
          SELECT CAST(o_orderkey AS BIGINT) + ${e}L * ${off}L,
                 CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM q115_orders WHERE o_orderkey % 3 = $e""")
      s.sql(s"""SELECT status, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.ledger
        WHERE k >= ${off}L AND k < ${2 * off}L
        GROUP BY status ORDER BY status""")
    }),

    // ── q140: STRING-KEY FILE SKIPPING — q115's zone-map read path on
    // the most common real-world key type. Bounds are TRUNCATED
    // Iceberg-style ([[RowStore.StrBounds]]: 16-char prefix, upper
    // bound's last char incremented), so a long-key table's manifest
    // stays metadata-sized; the part names here run past 16 chars, so
    // the truncation genuinely engages. Three INSERT commits land
    // three disjoint name-prefix bands; the banded SELECT pushes its
    // string range down and plans only the middle band's files
    // (RowCatalogSpec pins the planned/skipped accounting). All
    // filters stay residual — skipping can cost performance, never
    // correctness — and the oracle restates the band from raw part.
    "q140_dml_string_skip" -> ((s, d) => {
      graft.Tables(s, d, "part").createOrReplaceTempView("q140_part")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.sledger")
      s.sql("CREATE TABLE graft_dml.ns.sledger (name STRING, cents BIGINT)")
      for ((p, e) <- Seq(("a", 0), ("m", 1), ("z", 2)))
        s.sql(s"""INSERT INTO graft_dml.ns.sledger
          SELECT concat('${p}_', p_name, '_', CAST(p_partkey AS STRING)),
                 CAST(round(p_retailprice * 100) AS BIGINT)
          FROM q140_part WHERE p_partkey % 3 = $e""")
      s.sql("""SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
               MIN(name) AS min_name, MAX(name) AS max_name
        FROM graft_dml.ns.sledger
        WHERE name >= 'm' AND name < 'n'""")
    }),

    // ── q142: PER-COLUMN ZONE-MAP FILE SKIPPING — Iceberg records
    // lower/upper bounds for EVERY column, not just the partition key;
    // without that, a pushed predicate on a non-key column (the
    // timestamp on a bucket-keyed table, the price band on an
    // id-keyed ledger) never skips a file. Here the table is KEYED on
    // k (bucket default) while the three INSERT commits land disjoint
    // bands of the NON-KEY columns: `cents` (numeric, epoch·off
    // offsets) and `name` (string prefix bands, truncated bounds).
    // The two legs push each predicate down separately and must both
    // plan only the middle commit's files (RowCatalogSpec pins the
    // planned/skipped accounting per leg); both legs restate the SAME
    // band, so the oracle is one relational restatement twice. All
    // filters stay residual — skipping can cost performance, never
    // correctness.
    "q142_dml_column_skip" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q142_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.colz")
      s.sql("CREATE TABLE graft_dml.ns.colz " +
        "(k BIGINT, cents BIGINT, name STRING)")
      // band offset = first power of 10 above max(cents) — the q115
      // discipline: a 1-row bounds fetch is planning metadata
      val mxC = s.sql("SELECT CAST(max(round(o_totalprice * 100)) AS " +
        "BIGINT) FROM q142_orders").head().getLong(0)
      var off = 10000000L
      while (off <= mxC) off *= 10
      for ((p, e) <- Seq(("a", 0), ("m", 1), ("z", 2)))
        s.sql(s"""INSERT INTO graft_dml.ns.colz
          SELECT CAST(o_orderkey AS BIGINT),
                 CAST(round(o_totalprice * 100) AS BIGINT) + ${e}L * ${off}L,
                 concat('${p}_padding_padding_', CAST(o_orderkey AS STRING))
          FROM q142_orders WHERE o_orderkey % 3 = $e""")
      s.sql(s"""SELECT 'num' AS leg, COUNT(*) AS n,
               CAST(SUM(cents) - COUNT(*) * ${off}L AS BIGINT)
                 AS sum_base_cents
        FROM graft_dml.ns.colz
        WHERE cents >= ${off}L AND cents < ${2 * off}L
        UNION ALL
        SELECT 'str', COUNT(*),
               CAST(SUM(cents) - COUNT(*) * ${off}L AS BIGINT)
        FROM graft_dml.ns.colz WHERE name >= 'm' AND name < 'n'
        ORDER BY leg""")
    }),

    "q111_dml_vacuum" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit, sum}
      val t = "graft_dml.ns.accounts_vac"
      dmlLifecycle(s, d, t, "q111", "")
      val (retained, deleted) = RowStoreOps.vacuum(t, keepLast = 2)
      val expiredFails =
        try { s.sql(s"SELECT * FROM $t VERSION AS OF 1"); false }
        catch { case _: Exception => true }
      s.table(t).agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"))
        .select(col("n_rows"), col("sum_cents"),
          lit(retained.size).as("n_versions"),
          lit(deleted > 0).as("reclaimed"),
          lit(expiredFails).as("expired_read_fails"))
    }),

    // ── q116: PARTITION-TRANSFORM DDL — `PARTITIONED BY (bucket(6,k))`
    // with k deliberately NOT the first column, so a correct result
    // proves the DECLARED transform (not the first-column default)
    // drives grouping end to end: the INSERT's write distribution
    // clusters by bucket(6, k), zone maps track k, and the MERGE —
    // whose source keys all satisfy k ≡ 2 (mod 6) — runtime-filters
    // to that single bucket and rewrites exactly one group
    // (RowCatalogSpec pins the one-group-rewritten file accounting;
    // this row pins the arithmetic). Oracle restates insert+merge
    // relationally from raw orders.
    "q116_dml_bucket_transform" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q116_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.bucketed")
      s.sql("CREATE TABLE graft_dml.ns.bucketed " +
        "(cents BIGINT, k BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(6, k))")
      s.sql("""INSERT INTO graft_dml.ns.bucketed
        SELECT CAST(round(o_totalprice * 100) AS BIGINT),
               CAST(o_orderkey AS BIGINT), o_orderstatus
        FROM q116_orders WHERE o_orderkey % 11 = 0""")
      // source keys ≡ 44 (mod 66): every one is a multiple of 11 (so
      // it matches a seeded row) and ≡ 2 (mod 6) (so every touched
      // row lives in bucket 2 — the one-group rewrite the spec pins)
      s.sql("""MERGE INTO graft_dml.ns.bucketed t
        USING (SELECT CAST(o_orderkey AS BIGINT) AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM q116_orders WHERE o_orderkey % 66 = 44) src
        ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET cents = t.cents + src.cents""")
      s.table("graft_dml.ns.bucketed").orderBy(col("k"))
    }),

    // ── q132: CTAS + RTAS — `CREATE TABLE … PARTITIONED BY (bucket)
    // AS SELECT` materializes a query straight into the catalog (the
    // transform routes the write like any declared table), and
    // `REPLACE TABLE … AS SELECT` swaps the definition and contents in
    // one statement (Spark's create-then-append path over this
    // catalog's createTable/dropTable). The in-plan `ctas_ok` pin
    // hash-checks that the intermediate CTAS state really held the
    // parent slice before the REPLACE narrowed it.
    "q132_dml_ctas" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q132_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ctas")
      s.sql("""CREATE TABLE graft_dml.ns.ctas PARTITIONED BY (bucket(4, k))
        AS SELECT CAST(o_orderkey AS BIGINT) AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM q132_orders WHERE o_orderkey % 14 = 0""")
      val ctasN = s.table("graft_dml.ns.ctas").count()
      val wantN = s.sql("SELECT COUNT(*) FROM q132_orders " +
        "WHERE o_orderkey % 14 = 0").head().getLong(0)
      s.sql("""REPLACE TABLE graft_dml.ns.ctas
        AS SELECT CAST(o_orderkey AS BIGINT) AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                       > 20000000 THEN 'BIG' ELSE 'SMALL' END AS size
        FROM q132_orders WHERE o_orderkey % 28 = 0""")
      s.table("graft_dml.ns.ctas")
        .withColumn("ctas_ok", lit(ctasN == wantN))
        .orderBy(col("k"))
    }),

    // ── q131: STORAGE-PARTITIONED JOIN between two LAKE TABLES —
    // q91's zero-shuffle contract on the DML catalog itself: both
    // tables declare `bucket(8, k)`, the writers cluster by the SAME
    // V2 bucket function the scans report as KeyGroupedPartitioning,
    // so the k-equi-join aligns key groups instead of shuffling either
    // side (SPARK-37375 / Iceberg SPJ — spec pins the exchange-free
    // join plan). At 100 TB co-bucketing fact and dim at write time
    // and joining shuffle-free is the single biggest join economy a
    // lake layout buys. Broadcast is disabled in scope for the same
    // reason as q43/q53: the demo models sides too big to broadcast;
    // the write+read-back keeps the session confs scoped.
    "q131_dml_spj" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q131_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.spja")
      s.sql("CREATE TABLE graft_dml.ns.spja (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(8, k))")
      s.sql("""INSERT INTO graft_dml.ns.spja
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q131_orders WHERE o_orderkey % 6 = 0""")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.spjb")
      s.sql("CREATE TABLE graft_dml.ns.spjb (k BIGINT, cust BIGINT) " +
        "PARTITIONED BY (bucket(8, k))")
      s.sql("""INSERT INTO graft_dml.ns.spjb
        SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS BIGINT)
        FROM q131_orders WHERE o_orderkey % 10 = 0""")
      val out = graft.Scratch.dir(s, "graft_q131", d)
      graft.GraftSession.withConfs(s, Map(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
        import org.apache.spark.sql.functions.{count, sum}
        s.table("graft_dml.ns.spja")
          .join(s.table("graft_dml.ns.spjb"), "k")
          .groupBy((col("k") % 8).as("band"))
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).cast("long").as("sum_cents"),
            sum(col("cust")).cast("long").as("sum_cust"))
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("band"))
    }),

    // ── q130: DEFAULT COLUMN VALUES — the SQL-surface feature every
    // warehouse schema relies on: `CREATE TABLE … (v BIGINT DEFAULT
    // 42, status STRING DEFAULT 'NEW')`, then an INSERT naming only
    // some columns has the rest filled by the ANALYZER (the catalog
    // declares SUPPORT_COLUMN_DEFAULT_VALUE; defaults ride the schema
    // metadata each manifest header round-trips, and writers always see
    // complete rows). One slice inserts only keys (defaults fill),
    // one inserts explicit values, and the read-back must show
    // exactly which rows got which — restated relationally.
    "q130_dml_default_columns" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q130_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.defs")
      s.sql("CREATE TABLE graft_dml.ns.defs (k BIGINT, " +
        "cents BIGINT DEFAULT 42, status STRING DEFAULT 'NEW')")
      s.sql("""INSERT INTO graft_dml.ns.defs (k)
        SELECT CAST(o_orderkey AS BIGINT)
        FROM q130_orders WHERE o_orderkey % 12 = 0""")
      s.sql("""INSERT INTO graft_dml.ns.defs
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q130_orders WHERE o_orderkey % 12 = 5""")
      s.table("graft_dml.ns.defs").orderBy(col("k"))
    }),

    // ── q129: MIN/MAX FROM ZONE-MAP STATS — q124's metadata economics
    // extended to the key column's extrema: every base file records
    // [min, max] of the key at commit, so an unfiltered MIN(k)/MAX(k)
    // over a clean single-spec snapshot folds over the manifest at
    // plan time — zero data files opened (spec pins the files-opened
    // counter at 0 for the three-aggregate statement). At 100 TB this
    // is the difference between a full-column scan and a metadata
    // lookup for the watermark/extent queries every pipeline runs.
    "q129_dml_stats_minmax" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.sql(s"SELECT MIN(k) AS min_k, MAX(k) AS max_k, COUNT(*) AS n FROM $t")
    }),

    // ── q127: `.history` METADATA TABLE — the snapshot-lineage
    // surface (Iceberg's `history`, Delta's DESCRIBE HISTORY): one row
    // per committed version with manifest-derived file/row counts and
    // the current-pointer flag, answered ENTIRELY from manifests (no
    // data file opens — q124's economics applied to the whole chain).
    // Over the shared lifecycle every column is deterministic: row
    // counts restate q107's per-version aggregates, and file counts
    // equal the distinct non-empty groups at each stage because the
    // clustered write distribution provably emits ONE file per touched
    // group per commit — so the oracle recomputes both relationally.
    "q127_dml_history" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.table(s"$t.history").orderBy(col("version"))
    }),

    // ── q128: WRITE-AUDIT-PUBLISH (branch staging) — Iceberg's WAP
    // pattern (spark.wap.branch): a producer APPENDS into a named
    // branch (files land, no table version commits), an auditor reads
    // the STAGED snapshot via the `branch` read option while every
    // plain reader still sees the published table, and a successful
    // audit FAST-FORWARDS the branch into the next committed version.
    // The two in-plan pins make the isolation itself hash-checked:
    // `staged_invisible` (the main table did NOT see the staged slice
    // before publish) and `audit_saw_staged` (the branch read DID).
    // RowCatalogSpec pins the OCC refusal when the table advances
    // under a staged branch.
    "q128_dml_wap" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q128_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.wap")
      s.sql("CREATE TABLE graft_dml.ns.wap (k BIGINT, cents BIGINT)")
      s.sql("""INSERT INTO graft_dml.ns.wap
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q128_orders WHERE o_orderkey % 8 = 0""")
      // stage the second slice into branch "audit" — no version commit
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM q128_orders WHERE o_orderkey % 8 = 3""")
        .writeTo("graft_dml.ns.wap").option("branch", "audit").append()
      val seedN = s.sql("SELECT COUNT(*) FROM q128_orders " +
        "WHERE o_orderkey % 8 = 0").head().getLong(0)
      val stagedN = s.sql("SELECT COUNT(*) FROM q128_orders " +
        "WHERE o_orderkey % 8 = 3").head().getLong(0)
      val mainPre = s.table("graft_dml.ns.wap").count()
      val auditN = s.read.option("branch", "audit")
        .table("graft_dml.ns.wap").count()
      RowStoreOps.publishBranch("graft_dml.ns.wap", "audit")
      s.table("graft_dml.ns.wap")
        .withColumn("staged_invisible", lit(mainPre == seedN))
        .withColumn("audit_saw_staged", lit(auditN == seedN + stagedN))
        .orderBy(col("k"))
    }),

    // ── q138: SNAPSHOT TAGS + SQL REF READS — Iceberg's named refs:
    // tag the seed version as 'release', advance the table, stage a
    // WAP slice on branch 'audit', then read BOTH by name through
    // `VERSION AS OF '<ref>'` — the SQL spelling of the ref surface
    // (no read options). VACUUM(keepLast=1) then expires untagged
    // history while TAG RETENTION keeps the tagged snapshot readable.
    // In-plan pins: tag_frozen (the tag answers the seed aggregate
    // both after the table advanced and after VACUUM) and
    // branch_saw_staged (the SQL branch read sees published+staged).
    // RowCatalogSpec pins tag immutability and the retention
    // accounting.
    "q138_dml_tags" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q138_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.tagged")
      s.sql("CREATE TABLE graft_dml.ns.tagged (k BIGINT, cents BIGINT)")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.tagged
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q138_orders WHERE o_orderkey % 8 = $r"""); () }
      def slice(r: Int): Long = s.sql("SELECT COUNT(*) FROM q138_orders " +
        s"WHERE o_orderkey % 8 = $r").head().getLong(0)
      ins(0)
      RowStoreOps.createTag("graft_dml.ns.tagged", "release")
      ins(1)
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM q138_orders WHERE o_orderkey % 8 = 2""")
        .writeTo("graft_dml.ns.tagged").option("branch", "audit").append()
      val (na, nb, nc) = (slice(0), slice(1), slice(2))
      val tagPre = s.sql("SELECT COUNT(*) FROM graft_dml.ns.tagged " +
        "VERSION AS OF 'release'").head().getLong(0)
      val brN = s.sql("SELECT COUNT(*) FROM graft_dml.ns.tagged " +
        "VERSION AS OF 'audit'").head().getLong(0)
      RowStoreOps.vacuum("graft_dml.ns.tagged", keepLast = 1)
      val tagPost = s.sql("SELECT COUNT(*) FROM graft_dml.ns.tagged " +
        "VERSION AS OF 'release'").head().getLong(0)
      s.table("graft_dml.ns.tagged")
        .withColumn("tag_frozen", lit(tagPre == na && tagPost == na))
        .withColumn("branch_saw_staged", lit(brN == na + nb + nc))
        .orderBy(col("k"))
    }),

    // ── q147: NON-KEY MIN/MAX FROM PER-COLUMN ZONE MAPS — the
    // metadata-aggregate shortcut (q124 COUNT, q129 key extrema)
    // extended to EVERY long/timestamp column: q142's per-column
    // manifest bounds let an unfiltered MIN/MAX of a non-key column
    // answer as a plan-time fold over the manifest — zero data files
    // opened (spec-pinned), exact because the bounds are exact
    // non-null extrema and an all-NULL or pre-ADD file refuses the
    // shortcut. Two commits fragment every bucket first, so the fold
    // really spans multiple files per group. The oracle restates all
    // five aggregates relationally from raw orders.
    "q147_dml_column_minmax" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q147_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cmm")
      s.sql("CREATE TABLE graft_dml.ns.cmm " +
        "(k BIGINT, cents BIGINT, ots TIMESTAMP) " +
        "PARTITIONED BY (bucket(4, k))")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.cmm
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderdate
        FROM q147_orders WHERE o_orderkey % 6 = $r"""); () }
      ins(0); ins(3)
      s.sql("""SELECT COUNT(*) AS n_rows,
        MIN(cents) AS min_cents, MAX(cents) AS max_cents,
        MIN(ots) AS min_ts, MAX(ots) AS max_ts
        FROM graft_dml.ns.cmm""")
    }),

    // ── q148: BLOOM-FILTER FILE SKIPPING — zone maps skip range
    // predicates on CLUSTERED columns; a point lookup on an
    // UNCLUSTERED column straddles every file's [min, max] and reads
    // everything. The opt-in per-column bloom filter
    // (TBLPROPERTIES('bloom'='cents')) answers "definitely absent"
    // for exactly that shape — Delta's bloom index, manifest-resident.
    // Two interleaved slices give every bucket multiple files with
    // overlapping cents ranges (zone maps provably can't help), then
    // the needle query reads back one known order's cents value.
    // RowCatalogSpec pins the planned/skipped file accounting for
    // numeric and string blooms with overlap-by-construction fixtures;
    // the oracle here restates the needle lookup relationally (the
    // bloom is performance metadata — results must be identical with
    // or without it).
    "q148_dml_bloom_skip" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q148_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.blm")
      s.sql("CREATE TABLE graft_dml.ns.blm (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('bloom'='cents')")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.blm
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q148_orders WHERE o_orderkey % 4 = $r"""); () }
      ins(0); ins(1)
      val needle = s.sql("SELECT CAST(round(o_totalprice * 100) AS BIGINT) " +
        "FROM q148_orders WHERE o_orderkey = 32").head().getLong(0)
      s.table("graft_dml.ns.blm").filter(col("cents") === needle)
        .orderBy(col("k"))
    }),

    // ── q146: THE `.refs` METADATA TABLE — Iceberg's refs surface:
    // one row per named reference — the implicit `main` branch at the
    // current head, every immutable TAG at its pinned version, every
    // staged WAP branch at the version it forked from. The lifecycle
    // here: seed (v1) → tag 'release' → second slice (v2) → stage
    // branch 'audit'; the result then joins each ref to the row count
    // VISIBLE AT THAT REF through the same named reads `.refs`
    // advertises (tag → pinned snapshot, branch → staged snapshot,
    // main → head), so name, type, version AND per-ref visibility are
    // all restated relationally from raw orders by the oracle.
    // RowCatalogSpec pins zero data-file opens for the `.refs` scan
    // itself and that tag/branch drops leave only `main`.
    "q146_dml_refs_table" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q146_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.refsd")
      s.sql("CREATE TABLE graft_dml.ns.refsd (k BIGINT, cents BIGINT)")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.refsd
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q146_orders WHERE o_orderkey % 8 = $r"""); () }
      ins(0) // v1: the tagged seed
      RowStoreOps.createTag("graft_dml.ns.refsd", "release")
      ins(1) // v2: the published head
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM q146_orders WHERE o_orderkey % 8 = 2""")
        .writeTo("graft_dml.ns.refsd").option("branch", "audit").append()
      import s.implicits._
      val visible = Seq(
        ("main", s.table("graft_dml.ns.refsd").count()),
        ("release", s.sql("SELECT COUNT(*) FROM graft_dml.ns.refsd " +
          "VERSION AS OF 'release'").head().getLong(0)),
        ("audit", s.sql("SELECT COUNT(*) FROM graft_dml.ns.refsd " +
          "VERSION AS OF 'audit'").head().getLong(0)))
        .toDF("ref_name", "n_visible")
      s.table("graft_dml.ns.refsd.refs")
        .join(visible, "ref_name")
        .select(col("ref_name"), col("ref_type"), col("version"),
          col("n_visible"))
        .orderBy(col("ref_name"))
    }),

    // ── q141: SQL PROCEDURES — Iceberg's `CALL catalog.system.<proc>`
    // maintenance surface through Spark 4's ProcedureCatalog: the
    // lifecycle here drives tag → bad DELETE → rollback → append →
    // compact → expire ENTIRELY via CALL statements (each returns its
    // outcome as a one-row result set; the same RowStoreOps code paths
    // the programmatic API uses, now SQL-reachable). The final content
    // is layout- and history-invariant (rollback undid the DELETE,
    // compaction is observationally invisible, expiry kept the tagged
    // seed) — exactly what the oracle restates from raw orders; the
    // tag_ok pin re-reads the tagged snapshot through VERSION AS OF
    // after expiry. RowCatalogSpec pins each procedure's result row,
    // named-argument binding, and the unknown-procedure error.
    "q141_dml_procedures" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q141_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.proc")
      s.sql("CREATE TABLE graft_dml.ns.proc (k BIGINT, cents BIGINT)")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.proc
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q141_orders WHERE o_orderkey % 11 = $r"""); () }
      ins(0) // v1: the seed
      s.sql("CALL graft_dml.system.create_tag('ns.proc', 'seed')").collect()
      s.sql("DELETE FROM graft_dml.ns.proc WHERE k % 2 = 0") // v2: bad
      s.sql("CALL graft_dml.system.rollback_to_snapshot('ns.proc', 1)")
        .collect() // v3 == seed again
      ins(3) // v4: fragments the seed's groups
      s.sql("CALL graft_dml.system.rewrite_data_files(table => 'ns.proc')")
        .collect() // v5: compacted, content-invisible
      s.sql("CALL graft_dml.system.expire_snapshots('ns.proc', 1)")
        .collect() // keeps v5 + tagged v1
      val na = s.sql("SELECT COUNT(*) FROM q141_orders " +
        "WHERE o_orderkey % 11 = 0").head().getLong(0)
      val tagN = s.sql("SELECT COUNT(*) FROM graft_dml.ns.proc " +
        "VERSION AS OF 'seed'").head().getLong(0)
      s.table("graft_dml.ns.proc")
        .withColumn("tag_ok", lit(tagN == na))
        .orderBy(col("k"))
    }),

    // ── q125: PARTITION-SPEC EVOLUTION — Iceberg's headline layout
    // feature: the table starts bucket(4, k), EVOLVES to
    // truncate(100000, k) via `ALTER TABLE … SET TBLPROPERTIES
    // ('partition'=…)`, and a second slice is appended under the new
    // layout. Files already written keep their bucket groups verbatim
    // (spec-tagged in the manifest — RowCatalogSpec pins old+new
    // routing and the migration path); the final read plans across
    // BOTH specs, so a planner bug on either side of the boundary
    // (dropped old group, misrouted new write, group-number collision
    // between bucket 2 and range 2) shifts the aggregate the oracle
    // restates from raw orders.
    "q125_dml_spec_evolution" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q125_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.evo")
      s.sql("CREATE TABLE graft_dml.ns.evo (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.evo
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q125_orders WHERE o_orderkey % 13 = 0""")
      s.sql("ALTER TABLE graft_dml.ns.evo " +
        "SET TBLPROPERTIES('partition'='truncate(100000, k)')")
      s.sql("""INSERT INTO graft_dml.ns.evo
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q125_orders WHERE o_orderkey % 13 = 5""")
      s.sql("""SELECT CAST(k % 8 AS BIGINT) AS band, COUNT(*) AS n,
        CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.evo GROUP BY 1 ORDER BY band""")
    }),

    // ── q155: NDV STATISTICS FEEDING CBO — q122 gave the optimizer
    // size and (round 11) exact row counts; without per-column
    // DISTINCT counts, join selectivity estimation still guesses.
    // TBLPROPERTIES('ndv'='k,status') records a KMV sketch per
    // (file, column) at write time (Iceberg's puffin theta-sketch
    // shape); the scan folds them into reported ColumnStatistics
    // (SPARK-41378's DSv2 channel), which NdvStatsSpec pins end to
    // end: attributeStats populated under CBO, join-output cardinality
    // estimated from the NDV, and the downstream broadcast decision
    // flipping with it. This row pins the SKETCH itself in-plan:
    // `ndv_status_exact` (3 distinct statuses — under K, the sketch
    // is exact) and `ndv_k_close` (high-cardinality estimate within
    // 10% of COUNT(DISTINCT), the published KMV error at K=256 is
    // ~6%), over two commits so the fold genuinely merges per-file
    // sketches. The aggregate restates relationally.
    "q155_dml_ndv_stats" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q155_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ndvt")
      s.sql("CREATE TABLE graft_dml.ns.ndvt " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('ndv'='k,status')")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.ndvt
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q155_orders WHERE o_orderkey % 4 = $r"""); () }
      ins(0); ins(1)
      val exactK = s.sql("SELECT COUNT(DISTINCT k) FROM graft_dml.ns.ndvt")
        .head().getLong(0)
      val ndvK = RowStoreOps.columnNdv("graft_dml.ns.ndvt", "k").get
      val ndvStatus = RowStoreOps.columnNdv("graft_dml.ns.ndvt", "status").get
      s.sql("""SELECT status, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.ndvt GROUP BY status ORDER BY status""")
        .withColumn("ndv_status_exact", lit(ndvStatus == 3L))
        .withColumn("ndv_k_close",
          lit(math.abs(ndvK - exactK) <= exactK / 10))
    }),

    // ── q156: `add_files` MIGRATION — the reference's whole pattern
    // is "parquet snapshots already on disk, registered in a catalog"
    // (spark_ingest_script.py:85-105); Iceberg's add_files registers
    // exactly that WITHOUT rewriting a byte. The fixture writes a
    // writeSnapshot-shaped partition tree (y=1995/m=3/d=7, non-padded)
    // with Spark's own parquet writer, seeds the DML table with a
    // native slice, then `CALL graft_dml.system.add_files(...)`
    // commits one version whose new entries ARE the external files —
    // absolute paths in the manifest (file identity preserved, zero
    // copies), row counts from an O(files) footer walk, a fresh
    // negative spec id so group numbers never collide. Pins in-plan:
    // `tt_ok` (the pre-import snapshot still reads only the native
    // slice) and `zero_copy` (every imported entry references the
    // source tree verbatim and the blobs still exist there).
    // AddFilesSpec pins the metadata COUNT(*), vacuum non-ownership,
    // and cross-spec DML on imported files. The oracle restates both
    // slices from raw orders.
    "q156_dml_add_files" -> ((s, d) => {
      val lake = RowStore.of(s)
      graft.Tables(s, d, "orders").createOrReplaceTempView("q156_orders")
      val ext = graft.Scratch.dir(s, "graft_q156_ext", d)
      // ONE QUARTER'S snapshot tree: the reference writes one
      // y=/m=/d= dir per daily DAG run, so a realistic import is a
      // bounded window of days — orders span 80 calendar months, and
      // an unwindowed slice would shatter into ~2,400 one-row
      // partition dirs at sf0.1 (a 2,400-file footer walk and a
      // 2,400-group scan measuring directory churn, not the op)
      graft.Scratch.materializeOnce(ext) {
        s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
            o_orderstatus AS status,
            year(o_orderdate) AS y, month(o_orderdate) AS m,
            day(o_orderdate) AS d
          FROM q156_orders WHERE o_orderkey % 9 = 4
            AND o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1995-04-01'""")
          .write.partitionBy("y", "m", "d").mode("overwrite").parquet(ext)
      }
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.imp")
      s.sql("CREATE TABLE graft_dml.ns.imp " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.imp
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q156_orders WHERE o_orderkey % 9 = 1""")
      val preImport = lake.currentVersion("graft_dml.ns.imp")
      val nativeN = s.table("graft_dml.ns.imp").count()
      s.sql(s"CALL graft_dml.system.add_files('ns.imp', '$ext')").collect()
      val imported = lake.readManifest("graft_dml.ns.imp",
        lake.currentVersion("graft_dml.ns.imp")).filter(_.spec < 0)
      val zeroCopy = imported.nonEmpty && imported.forall(e =>
        e.name.startsWith(ext + "/") &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(e.name)))
      val ttN = s.sql("SELECT COUNT(*) FROM graft_dml.ns.imp " +
        s"VERSION AS OF $preImport").head().getLong(0)
      s.table("graft_dml.ns.imp")
        .withColumn("zero_copy", lit(zeroCopy))
        .withColumn("tt_ok", lit(ttN == nativeN))
        .orderBy(col("k"))
    }),

    // ── q157: ROW-LEVEL DML ACROSS PARTITION SPECS — Iceberg plans
    // MERGE/UPDATE/DELETE per-spec precisely so spec evolution never
    // forces a table rewrite; until this round the scan refused
    // multi-spec tables ("migrate with INSERT OVERWRITE first" — at
    // 100 TB exactly the rewrite evolution exists to avoid). Here the
    // table seeds under bucket(4, k), evolves to truncate(100000, k),
    // appends a second slice under the new layout, and then a MERGE
    // with NO migration updates keys living in OLD-spec groups while
    // inserting brand-new keys: the scan records (spec, group) pairs,
    // the commit swaps exactly those, and the rewrite's output lands
    // under the ACTIVE spec — touched old groups migrate as a side
    // effect, untouched ones keep their bucket layout verbatim
    // (RowCatalogSpec pins the per-(spec, group) file accounting).
    // The final read plans across both specs; the oracle restates the
    // whole state from raw orders.
    "q157_dml_cross_spec_merge" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q157_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.xspec")
      s.sql("CREATE TABLE graft_dml.ns.xspec (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.xspec
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q157_orders WHERE o_orderkey % 13 = 0""")
      s.sql("ALTER TABLE graft_dml.ns.xspec " +
        "SET TBLPROPERTIES('partition'='truncate(100000, k)')")
      s.sql("""INSERT INTO graft_dml.ns.xspec
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q157_orders WHERE o_orderkey % 13 = 5""")
      // matched keys (% 26 = 0) all live in the OLD bucket-spec slice;
      // not-matched keys (% 13 = 7) insert under the ACTIVE spec
      s.sql("""MERGE INTO graft_dml.ns.xspec t
        USING (SELECT CAST(o_orderkey AS BIGINT) AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM q157_orders
               WHERE o_orderkey % 26 = 0 OR o_orderkey % 13 = 7) src
        ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET cents = t.cents + src.cents
        WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (src.k, src.cents)""")
      s.sql("""SELECT CAST(k % 8 AS BIGINT) AS band, COUNT(*) AS n,
        CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.xspec GROUP BY 1 ORDER BY band""")
    }),

    // ── q126: `days(ts)` TEMPORAL PARTITION TRANSFORM — the other
    // half of the Iceberg transform family: a TIMESTAMP column routes
    // each row to its UTC epoch-day group (RowCatalogSpec pins the
    // boundary at midnight), the layout every time-series lake table
    // uses so day-ranged scans touch only their days' files. The
    // catalog stores timestamps as their internal micros (INT64,
    // annotated); the daily rollup read back must match the oracle's
    // restatement over raw events exactly — a truncation or timezone
    // slip anywhere moves boundary events across days.
    "q126_dml_days_transform" -> ((s, d) => {
      graft.Tables(s, d, "events").createOrReplaceTempView("q126_events")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.daily")
      s.sql("CREATE TABLE graft_dml.ns.daily (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (days(ts))")
      s.sql("""INSERT INTO graft_dml.ns.daily
        SELECT ts, CAST(round(value * 100) AS BIGINT)
        FROM q126_events WHERE event_id % 17 = 0""")
      s.sql("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        FROM graft_dml.ns.daily GROUP BY 1 ORDER BY day_start""")
    }),

    // ── q137: IDENTITY PARTITION TRANSFORM — `PARTITIONED BY (col)`,
    // the classic low-cardinality layout (region/date-id/tenant):
    // group = the value itself, so an equality or range predicate on
    // the partition column IS partition pruning (the monotonic-
    // transform group-range path; RowCatalogSpec pins in-range files
    // only). The band-range rollup read back must match the oracle's
    // restatement over raw orders.
    "q137_dml_identity_transform" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q137_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ident")
      s.sql("CREATE TABLE graft_dml.ns.ident " +
        "(band BIGINT, k BIGINT, cents BIGINT) PARTITIONED BY (band)")
      s.sql("""INSERT INTO graft_dml.ns.ident
        SELECT CAST(o_orderkey % 10 AS BIGINT), CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q137_orders WHERE o_orderkey % 7 = 0""")
      s.sql("""SELECT band, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT)
          AS sum_cents
        FROM graft_dml.ns.ident WHERE band BETWEEN 3 AND 5
        GROUP BY band ORDER BY band""")
    }),

    // ── q136: `.files` METADATA TABLE — Iceberg's files table: one
    // row per data file in the current snapshot with its group, kind,
    // recorded row count and key zone map, straight from the manifest
    // (zero data files open). On the shared COW lifecycle the
    // clustered write distribution emits ONE file per touched group
    // per commit and COW replaces groups wholesale, so the head has
    // exactly one base file per group and the per-FILE stats ARE the
    // per-GROUP stats — which the oracle restates relationally
    // (k % 4 is the group function for sequential long keys). A
    // wrong zone map, a lost rewrite, or a phantom delta file all
    // break the hash.
    "q136_dml_files_table" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.table(s"$t.files")
        .selectExpr("grp", "kind", "n_rows", "min_k", "max_k")
        .orderBy(col("grp"))
    }),

    // ── q139: `.partitions` METADATA TABLE — the per-(spec, group)
    // operational rollup (Iceberg's `partitions`): file counts, exact
    // row counts, on-disk size — all from manifests + fs stat calls,
    // ZERO data files opened (RowCatalogSpec pins the open counter).
    // Over the COW lifecycle head every group holds exactly one base
    // file and no deltas, so the oracle restates the rollup
    // relationally; `has_bytes` pins that sizes are real without
    // hashing a non-portable byte count.
    "q139_dml_partitions_table" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.table(s"$t.partitions")
        .selectExpr("spec", "grp", "n_files", "n_delta_files", "n_rows",
          "bytes > 0 AS has_bytes")
        .orderBy(col("spec"), col("grp"))
    }),

    // ── q134: `months(ts)` CALENDAR TRANSFORM — the rest of the
    // Iceberg temporal family (hours/months/years landed with it):
    // unlike days/hours these are NOT fixed-width divisions — a month
    // boundary is calendar arithmetic, so a proleptic-calendar slip
    // (or a local-time one) moves boundary rows into the wrong group.
    // The monthly rollup read back must match the oracle's
    // restatement over raw events exactly; RowCatalogSpec pins the
    // group numbers (months since 1970-01) at a month boundary.
    "q134_dml_months_transform" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q134_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.monthly")
      s.sql("CREATE TABLE graft_dml.ns.monthly (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (months(ts))")
      // orders span ~80 calendar months (1995–2001) — a real monthly
      // layout, one group per month
      s.sql("""INSERT INTO graft_dml.ns.monthly
        SELECT o_orderdate, CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q134_orders WHERE o_orderkey % 19 = 0""")
      s.sql("""SELECT CAST(date_trunc('month', ts) AS TIMESTAMP)
          AS month_start,
        COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        FROM graft_dml.ns.monthly GROUP BY 1 ORDER BY month_start""")
    }),

    // ── q135: ROLLBACK TO SNAPSHOT — Iceberg's incident-recovery
    // surface: a bad statement lands (here a DELETE), rollback commits
    // a NEW head pointing at the pre-incident entry list (history is
    // append-only — the bad version STAYS time-travelable until
    // VACUUM). The output pins both sides: current content == the
    // seed again, and `VERSION AS OF 2` still shows which rows the
    // bad DELETE removed.
    "q135_dml_rollback" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q135_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.rb")
      s.sql("CREATE TABLE graft_dml.ns.rb (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(8, k))")
      s.sql("""INSERT INTO graft_dml.ns.rb
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q135_orders WHERE o_orderkey % 6 = 1""")                  // v1
      s.sql("DELETE FROM graft_dml.ns.rb WHERE k % 5 = 0")             // v2
      val newHead = RowStoreOps.rollback("graft_dml.ns.rb", 1)         // v3
      require(newHead == 3, s"rollback committed version $newHead")
      s.sql("""SELECT t.k, t.cents, (v2.k IS NULL) AS deleted_in_v2
        FROM graft_dml.ns.rb t
        LEFT JOIN (SELECT k FROM graft_dml.ns.rb VERSION AS OF 2) v2
          ON t.k = v2.k
        ORDER BY t.k""")
    }),

    // ── q133: RENAME COLUMN — the third leg of schema evolution
    // (ADD/DROP/RENAME), Iceberg's metadata-only rename: no file
    // rewrites; a display→storage name mapping bridges, so files
    // written BEFORE the rename (storing `cents`) and AFTER it (still
    // storing `cents` on disk) read back as one column `amount`, and
    // a COW UPDATE rewrites rows through the mapping. The time-travel
    // leg joins the v1 snapshot — which surfaces the SNAPSHOT-TIME
    // name `cents` — against the head, so a mapping slip on either
    // side (NULL column after rename, resurrection under the old
    // name, a mistranslated rewrite) breaks the hash. RowCatalogSpec
    // pins the refusal surface (re-use of a stored name, MOR).
    "q133_dml_rename_column" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q133_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ren")
      s.sql("CREATE TABLE graft_dml.ns.ren (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(8, k))")
      s.sql("""INSERT INTO graft_dml.ns.ren
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q133_orders WHERE o_orderkey % 4 = 1""")                  // v1
      s.sql("ALTER TABLE graft_dml.ns.ren RENAME COLUMN cents TO amount") // v2
      s.sql("""INSERT INTO graft_dml.ns.ren
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q133_orders WHERE o_orderkey % 4 = 2""")                  // v3
      s.sql("UPDATE graft_dml.ns.ren SET amount = amount + 7 " +
        "WHERE k % 10 = 3")                                            // v4
      s.sql("""SELECT t.k, t.amount, v.cents AS cents_v1
        FROM graft_dml.ns.ren t
        LEFT JOIN (SELECT k, cents FROM graft_dml.ns.ren VERSION AS OF 1) v
          ON t.k = v.k
        ORDER BY t.k""")
    }),

    // ── q143: TYPE-WIDENING SCHEMA EVOLUTION — Iceberg's type
    // promotion (`ALTER COLUMN v TYPE BIGINT`): metadata-only, files
    // never rewrite. The seed commits INT32 files; after widening, a
    // second slice writes values PAST Int.MaxValue (provably needing
    // the wide type) into INT64 files, and the head read plans both
    // eras in ONE scan — the reader widens narrow files at the
    // parquet boundary. The time-travel leg joins the v1 snapshot,
    // whose pinned schema surfaces the SNAPSHOT-TIME narrow type
    // (v_v1 is INT in the output schema, the oracle restates it as
    // INTEGER), so a schema-pinning slip on either side breaks the
    // schema or hash match. RowCatalogSpec pins the refusal surface
    // (narrowing, non-integer changes) and the boundary types.
    "q143_dml_type_widening" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q143_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.widen")
      s.sql("CREATE TABLE graft_dml.ns.widen (k BIGINT, v INT)")
      s.sql("""INSERT INTO graft_dml.ns.widen
        SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS INT)
        FROM q143_orders WHERE o_orderkey % 5 = 0""")                  // v1
      s.sql("ALTER TABLE graft_dml.ns.widen ALTER COLUMN v TYPE BIGINT") // v2
      s.sql("""INSERT INTO graft_dml.ns.widen
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(o_custkey AS BIGINT) + 3000000000
        FROM q143_orders WHERE o_orderkey % 5 = 2""")                  // v3
      s.sql("""SELECT t.k, t.v, v1.v AS v_v1
        FROM graft_dml.ns.widen t
        LEFT JOIN (SELECT k, v FROM graft_dml.ns.widen VERSION AS OF 1) v1
          ON t.k = v1.k
        ORDER BY t.k""")
    }),

    // ── q144: MERGE SCHEMA EVOLUTION — Delta's `mergeSchema`: the
    // source carries a column (`status`) the target lacks; the
    // evolving merge auto-ADDs it through the ordinary ALTER ADD path
    // (committed rows NULL-pad at read, time travel keeps the
    // pre-merge shape), then applies the MERGE. A correct result
    // needs all three row classes right: matched rows updated AND
    // stamped, source-only rows inserted complete, and target-only
    // rows surfacing NULL in the new column — exactly what the oracle
    // restates from raw orders. RowCatalogSpec pins the added-column
    // list, the MOR refusal, and the pre-merge snapshot's shape.
    "q144_dml_merge_evolution" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q144_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.mev")
      s.sql("CREATE TABLE graft_dml.ns.mev (k BIGINT, cents BIGINT)")
      s.sql("""INSERT INTO graft_dml.ns.mev
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q144_orders WHERE o_orderkey % 9 = 0""")
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS status
        FROM q144_orders WHERE o_orderkey % 6 = 0""")
        .createOrReplaceTempView("q144_src")
      RowStoreOps.mergeEvolving(s, "graft_dml.ns.mev", "q144_src",
        """MERGE INTO graft_dml.ns.mev t USING q144_src s ON t.k = s.k
          WHEN MATCHED THEN
            UPDATE SET cents = t.cents + s.cents, status = s.status
          WHEN NOT MATCHED THEN INSERT (k, cents, status)
            VALUES (s.k, s.cents, s.status)""")
      s.table("graft_dml.ns.mev").orderBy(col("k"))
    }),

    // ── q145: EQUALITY DELETES — Iceberg's second delete-file kind:
    // a CDC writer deletes by KEY VALUE without scanning for row
    // positions. The MOR table seeds one slice; an executor-written
    // eq-delete delta removes a keyed subset; a second insert then
    // RESURRECTS part of the deleted band (replay-order semantics: an
    // eq-delete only affects rows visible at its commit point); and
    // OPTIMIZE folds the deltas into clean base files — which must be
    // observationally invisible, so the final read's oracle is a pure
    // relational restatement from raw orders. RowCatalogSpec pins the
    // no-base-rewrite accounting, the post-OPTIMIZE files-opened
    // count, and the COW/non-bucket refusals.
    "q145_dml_equality_delete" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q145_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.eqd")
      s.sql("CREATE TABLE graft_dml.ns.eqd (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('format'='mor')")
      s.sql("""INSERT INTO graft_dml.ns.eqd
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q145_orders WHERE o_orderkey % 8 = 0""")
      RowStoreOps.equalityDelete(s, "graft_dml.ns.eqd",
        s.sql("SELECT CAST(o_orderkey AS BIGINT) FROM q145_orders " +
          "WHERE o_orderkey % 16 = 0"))
      // resurrection: re-insert the deleted keys ≡ 0 (mod 32) — the
      // earlier eq-delete must NOT affect them (with doubled cents so
      // a wrongly-surviving original is hash-distinct)
      s.sql("""INSERT INTO graft_dml.ns.eqd
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT) * 2
        FROM q145_orders WHERE o_orderkey % 32 = 0""")
      RowStoreOps.compact(s, "graft_dml.ns.eqd")
      s.table("graft_dml.ns.eqd").orderBy(col("k"))
    }),

    // ── q117: TRI-CLAUSE MERGE — `WHEN NOT MATCHED BY SOURCE` is the
    // clause that turns MERGE into full table synchronization (the
    // warehouse-sync shape Delta/Iceberg document): rows ABSENT from
    // the source are archived or deleted in the same statement that
    // updates matches and inserts new keys. Spark's rewrite plans the
    // target as the outer side (every target row must be inspected,
    // so runtime group filtering correctly keeps ALL groups — the
    // opposite scope of q116's one-bucket rewrite), and the connector
    // replaces what the scan read. Target = orders k≡0 (mod 10),
    // source = k≡0 (mod 15): matched = k≡0 (30), inserts = source
    // only, and the not-matched-by-source leg splits on the seeded
    // cents — big ones deleted, the rest stamped archived.
    "q117_dml_merge_sync" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q117_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.sync")
      s.sql("CREATE TABLE graft_dml.ns.sync " +
        "(k BIGINT, cents BIGINT, status STRING)")
      s.sql("""INSERT INTO graft_dml.ns.sync
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q117_orders WHERE o_orderkey % 10 = 0""")
      s.sql("""MERGE INTO graft_dml.ns.sync t
        USING (SELECT CAST(o_orderkey AS BIGINT) AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      o_orderstatus AS status
               FROM q117_orders WHERE o_orderkey % 15 = 0) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET cents = t.cents + s.cents
        WHEN NOT MATCHED THEN INSERT (k, cents, status)
          VALUES (s.k, s.cents, s.status)
        WHEN NOT MATCHED BY SOURCE AND t.cents > 25000000 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'S'""")
      s.table("graft_dml.ns.sync").orderBy(col("k"))
    }),

    // ── q124: COUNT(*) FROM MANIFEST ROW COUNTS — Iceberg's
    // snapshot-summary answer: every base file records its exact row
    // count at commit, so an unfiltered count of a clean (delta-free)
    // snapshot is a plan-time sum over the manifest — zero data files
    // opened (RowCatalogSpec pins the files-opened counter at 0, and
    // that a delta-bearing MOR snapshot refuses the shortcut). The
    // oracle recomputes the same count relationally.
    "q124_dml_manifest_count" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.sql(s"SELECT COUNT(*) AS n FROM $t")
    }),

    // ── q123: `TIMESTAMP AS OF` TIME TRAVEL — q107's version pin by
    // WALL CLOCK: commit times are recorded (strictly monotonic) in
    // each manifest header, and the as-of read resolves to the latest
    // version committed at or before the given instant. The query
    // reads v2's own recorded time back and asks for exactly that
    // instant — boundary-inclusive resolution must return the MERGE
    // state (the oracle's `merged` restatement), not the DELETE that
    // followed a tick later. RowCatalogSpec pins the between-versions
    // and before-first-commit cases under a controlled clock.
    "q123_dml_timestamp_travel" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      val ms = RowStore.of(s).commitTimeMs(t, 2)
      // epoch-based timestamp expression, NOT a zone-less string
      // literal: a wall-clock literal parses in the session timezone,
      // silently coupling snapshot resolution to a UTC session config
      s.sql(s"""SELECT COUNT(*) AS n,
               CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents
        FROM $t TIMESTAMP AS OF timestamp_millis(${ms}L)""")
    }),

    // ── q122: CATALOG STATS → CBO BROADCAST — the scan reports its
    // manifest-derived size (SupportsReportStatistics), so joining the
    // dimension-sized DML table to the parquet fact auto-plans a
    // BroadcastHashJoin with the CATALOG side as build (spec-pinned) —
    // no hint, no shuffle of the fact. Without reported stats a DSv2
    // scan is "unknown = huge" and this join would shuffle both sides
    // at any scale. Every k came from o_orderkey, so the oracle joins
    // the lifecycle restatement back to raw orders.
    "q122_dml_stats_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit, sum}
      val t = sharedLifecycle(s, d, mor = false)
      s.table(t)
        .join(graft.Tables(s, d, "orders"), col("k") === col("o_orderkey"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("sum_cents"),
          sum(col("o_custkey")).cast("long").as("cust_sum"))
        .orderBy(col("status"))
    }),

    // ── q121: SUBQUERY-CONDITIONED DML — `DELETE/UPDATE … WHERE k IN
    // (SELECT …)`: the predicate is a JOIN Spark's row-level rewrite
    // must plan (no metadata shortcut can answer a subquery), the
    // everyday Delta/Iceberg shape for "remove the keys some other
    // query produced". Both statements run through the group-based
    // rewrite against subqueries over the raw orders view; the oracle
    // restates the surviving keys and the conditional bump
    // arithmetically.
    "q121_dml_subquery" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q121_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.subq")
      s.sql("CREATE TABLE graft_dml.ns.subq " +
        "(k BIGINT, cents BIGINT, status STRING)")
      s.sql("""INSERT INTO graft_dml.ns.subq
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q121_orders WHERE o_orderkey % 9 = 0""")
      s.sql("""DELETE FROM graft_dml.ns.subq
        WHERE k IN (SELECT CAST(o_orderkey AS BIGINT)
                    FROM q121_orders WHERE o_orderkey % 18 = 0)""")
      s.sql("""UPDATE graft_dml.ns.subq SET cents = cents + 1000
        WHERE k IN (SELECT CAST(o_orderkey AS BIGINT)
                    FROM q121_orders WHERE o_orderkey % 27 = 0)""")
      s.table("graft_dml.ns.subq").orderBy(col("k"))
    }),

    // ── q149: MANIFEST COMPACTION (`rewrite_manifests`) — commits
    // write O(change) INCREMENTAL manifests (#parent + removals +
    // added entries, the Delta-log model), so each snapshot read walks
    // a manifest CHAIN; four appends here build a 5-deep chain, and
    // `CALL graft_dml.system.rewrite_manifests` collapses the head to
    // ONE self-contained file — the maintenance call that keeps
    // planner metadata reads O(1) at a 100-TB commit cadence (the
    // auto-checkpoint at CheckpointEvery bounds the worst case;
    // RowCatalogSpec pins both). In-plan pins: `chain_collapsed`
    // (the chain really was deeper and is now 1) and `tt_ok` (time
    // travel THROUGH the compacted head's history still resolves the
    // v2 snapshot exactly); the content read-back must be unchanged —
    // the oracle restates all four slices.
    "q149_dml_rewrite_manifests" -> ((s, d) => {
      val lake = RowStore.of(s)
      graft.Tables(s, d, "orders").createOrReplaceTempView("q149_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.manif")
      s.sql("CREATE TABLE graft_dml.ns.manif (k BIGINT, cents BIGINT)")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.manif
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q149_orders WHERE o_orderkey % 8 = $r"""); () }
      for (r <- 0 until 4) ins(r) // v1..v4: incremental manifests
      val t = "graft_dml.ns.manif"
      val before = lake.manifestChainLength(t, lake.currentVersion(t))
      s.sql("CALL graft_dml.system.rewrite_manifests('ns.manif')").collect()
      val after = lake.manifestChainLength(t, lake.currentVersion(t))
      val v2n = s.sql("SELECT COUNT(*) FROM graft_dml.ns.manif " +
        "VERSION AS OF 2").head().getLong(0)
      val want2 = s.sql("SELECT COUNT(*) FROM q149_orders " +
        "WHERE o_orderkey % 8 IN (0, 1)").head().getLong(0)
      s.table(t)
        .withColumn("chain_collapsed", lit(before > after && after == 1))
        .withColumn("tt_ok", lit(v2n == want2))
        .orderBy(col("k"))
    }),

    // ── q150: `.snapshots` METADATA TABLE — Iceberg's snapshots
    // surface: one row per version with its parent and a DIFF-DERIVED
    // operation classification (append = files only added, delete =
    // only removed, overwrite = both, create = v0). The lifecycle here
    // exercises all four kinds deterministically on a bucket(4, k)
    // layout: two appends, then `DELETE WHERE k % 2 = 0` — which
    // EMPTIES groups 0 and 2 wholesale (every key there is even), so
    // the commit is removals-only — then an UPDATE confined to group 1
    // (k % 4 = 1), a classic rewrite. Each snapshot row joins the row
    // count VISIBLE at that version through VERSION AS OF (the q146
    // per-ref-visibility discipline), so version, parent, operation,
    // manifest row counts AND read-back visibility are all restated
    // relationally by the oracle. RowCatalogSpec pins zero data-file
    // opens for the `.snapshots` scan itself.
    "q150_dml_snapshots_table" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q150_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.snap")
      s.sql("CREATE TABLE graft_dml.ns.snap (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.snap
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q150_orders WHERE o_orderkey % 3 = $r"""); () }
      ins(0); ins(1)                                              // v1, v2
      s.sql("DELETE FROM graft_dml.ns.snap WHERE k % 2 = 0")      // v3
      s.sql("UPDATE graft_dml.ns.snap SET cents = cents + 7 " +
        "WHERE k % 4 = 1")                                        // v4
      import s.implicits._
      val visible = (0 to 4).map(v => (v,
        s.sql(s"SELECT COUNT(*) FROM graft_dml.ns.snap VERSION AS OF $v")
          .head().getLong(0))).toDF("version", "n_visible")
      s.table("graft_dml.ns.snap.snapshots")
        .join(visible, "version")
        .select(col("version"), col("parent_version"), col("operation"),
          col("n_rows"), col("is_current"), col("n_visible"))
        .orderBy(col("version"))
    }),

    // ── q151: ORPHAN-FILE CLEANUP (`remove_orphan_files`) — the
    // maintenance leg VACUUM cannot reach: a crashed writer's task
    // files land in the table directory but its commit never does, so
    // no manifest ever references them and no retention window ever
    // deletes them. The fixture plants exactly that debris (a copied
    // data file under a fresh name), the procedure sweeps the
    // directory against the union of every retained manifest's and
    // branch's reference set, and the in-plan pin `orphan_removed`
    // asserts the planted file (and only it) was deleted while the
    // read-back — restated from raw orders by the oracle — is
    // untouched. RowCatalogSpec pins the referenced-files-retained
    // accounting.
    "q151_dml_orphan_cleanup" -> ((s, d) => {
      val lake = RowStore.of(s)
      graft.Tables(s, d, "orders").createOrReplaceTempView("q151_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.orph")
      s.sql("CREATE TABLE graft_dml.ns.orph (k BIGINT, cents BIGINT)")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.orph
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q151_orders WHERE o_orderkey % 9 = $r"""); () }
      ins(0); ins(4)
      val t = "graft_dml.ns.orph"
      val dir = java.nio.file.Paths.get(lake.dataDir(t))
      val ref = lake.readManifest(t, lake.currentVersion(t)).head.name
      val orphan = "g0-crashed-writer-task.parquet"
      java.nio.file.Files.copy(dir.resolve(ref), dir.resolve(orphan))
      // older_than_ms = 0: the fixture just planted the orphan, and no
      // writer is in flight here — a production call keeps the default
      // horizon so a concurrent writer's landed-but-uncommitted task
      // files never sweep
      val res = s.sql(
        "CALL graft_dml.system.remove_orphan_files('ns.orph', 0L)").head()
      val gone = !java.nio.file.Files.exists(dir.resolve(orphan))
      s.table(t)
        .withColumn("orphan_removed", lit(res.getInt(0) == 1 && gone))
        .orderBy(col("k"))
    }),

    // ── q153: `.manifests` METADATA TABLE — Iceberg's manifests
    // surface re-shaped for the incremental chain: one row per
    // version's manifest FILE with its chain role (checkpoint vs the
    // parent it chains off), its OWN entry count (= the commit's
    // write cost, the O(change) claim made inspectable), and its
    // removals. The lifecycle: two appends chain incrementally off
    // the v0 checkpoint, then rewrite_manifests collapses the head —
    // whose row flips to a checkpoint carrying BOTH slices' files
    // while v1 keeps its incremental shape. Every count restates from
    // the one-file-per-touched-group write discipline (distinct k%4
    // groups per slice), so the oracle derives the full table
    // relationally. RowCatalogSpec pins zero data-file opens.
    "q153_dml_manifests_table" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q153_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.mtab")
      s.sql("CREATE TABLE graft_dml.ns.mtab (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.mtab
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q153_orders WHERE o_orderkey % 3 = $r"""); () }
      ins(0); ins(1)
      s.sql("CALL graft_dml.system.rewrite_manifests('ns.mtab')").collect()
      s.table("graft_dml.ns.mtab.manifests").orderBy(col("version"))
    }),

    // ── q152: CHANGE-FEED UPDATE PAIRS — Delta CDF's
    // update_preimage/update_postimage rows for MERGE-driven updates:
    // the value-based diff (q109) reports an update as delete+insert,
    // which a downstream CDC consumer cannot distinguish from genuine
    // churn; under `mode=cdc` a key whose diff is EXACTLY one deleted
    // and one inserted row is re-tagged as the pre/post pair
    // (ambiguous keys keep plain tags — no sound pairing exists).
    // The q106-shaped MERGE here produces all three row classes in one
    // feed read over versions 1→2: matched 'F' keys update (pair),
    // matched non-'F' keys delete, source-only keys insert — all
    // restated relationally by the oracle, with ordered replay pinned
    // against the q109 rule in RowCatalogSpec.
    "q152_dml_cdf_updates" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q152_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cdfu")
      s.sql("CREATE TABLE graft_dml.ns.cdfu " +
        "(k BIGINT, cents BIGINT, status STRING)")
      s.sql("""INSERT INTO graft_dml.ns.cdfu
        SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
               o_orderstatus
        FROM q152_orders WHERE o_orderkey % 7 = 0""")
      s.sql("""MERGE INTO graft_dml.ns.cdfu t
        USING (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      o_orderstatus AS status
               FROM q152_orders WHERE o_orderkey % 5 = 0) s
        ON t.k = s.k
        WHEN MATCHED AND t.status = 'F' THEN
          UPDATE SET cents = t.cents + s.cents
        WHEN MATCHED AND t.status <> 'F' THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, cents, status)
          VALUES (s.k, s.cents, s.status)""")
      s.read.option("from", "1").option("to", "2").option("mode", "cdc")
        .table("graft_dml.ns.cdfu.changes")
        .orderBy(col("k"), col("_change"))
    }),

    // ── q120: METADATA COLUMNS as a USER surface — Iceberg's
    // `_file`/`_pos` pattern: the `_group` metadata column the DML
    // machinery reads internally (requiredMetadataAttributes) is also
    // directly selectable, which is how operators audit physical
    // layout (rows per group/file) without any side channel. The
    // oracle restates residency from the group function itself
    // (groupOf(long) = k mod 4 on the default 4-group layout), so a
    // drifting writer-vs-reader group assignment breaks the hash.
    "q120_metadata_columns" -> ((s, d) => {
      val t = sharedLifecycle(s, d, mor = false)
      s.sql(s"""SELECT _group, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM $t GROUP BY _group ORDER BY _group""")
    })
  )

  /** Family aggregation (the 1,500-line split discipline): SparkEntry
    * and every spec key see ONE registry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(coreQueries ++
      RowCatalogStatsQueries.queries ++ RowCatalogMaintQueries.queries)

  /** DuckDB oracle registry, split out to [[RowCatalogOracles]] under
    * the repo's 1,500-line discipline (byte-identical SQL). */
  val oracles: Map[String, String] =
    RowCatalogOracles.oracles ++ RowCatalogStatsQueries.oracles ++
      RowCatalogMaintQueries.oracles
}
