package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Maintenance/observability rows of the DML catalog registry — the
  * round-13 family file under the 1,500-line discipline (RowCatalog
  * aggregates these maps; SparkEntry and every spec key are
  * untouched). */
object RowCatalogMaintQueries {

  /** The CDF→aggregate-view fold shared by q171 (batch) and st41
    * (streaming — "q171's fold run continuously"): group the change
    * rows' ±row/±value deltas per group column (an update arrives as
    * delete+insert and cancels to the value diff) and MERGE them
    * into the `(cat, n, sum_cents)` view table, deleting a category
    * whose count reaches zero. ONE contract, two cadences — a fold
    * semantics change lands in both paths by construction. Both the
    * grouping column (`catCol`) and the summed value column
    * (`valCol`) are parameters; the VIEW table's schema is the fixed
    * `(cat, n, sum_cents)` contract (r14 advisor: the helper's
    * generality now matches its signature). */
  private[graft] def foldCdfIntoView(s: SparkSession, changesView: String,
      catCol: String, valCol: String, viewTable: String): Unit = {
    s.sql(s"""SELECT * FROM (
        SELECT $catCol AS cat,
          CAST(SUM(CASE WHEN _change IN ('insert', 'update_postimage')
            THEN 1 ELSE -1 END) AS BIGINT) AS dn,
          CAST(SUM(CASE WHEN _change IN ('insert', 'update_postimage')
            THEN $valCol ELSE -$valCol END) AS BIGINT) AS dc
        FROM $changesView GROUP BY $catCol)
      WHERE dn <> 0 OR dc <> 0""")
      .createOrReplaceTempView(changesView + "_deltas")
    s.sql(s"""MERGE INTO $viewTable v
      USING ${changesView}_deltas d
      ON v.cat = d.cat
      WHEN MATCHED AND v.n + d.dn = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET
        n = v.n + d.dn, sum_cents = v.sum_cents + d.dc
      WHEN NOT MATCHED THEN INSERT (cat, n, sum_cents)
        VALUES (d.cat, d.dn, d.dc)""")
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── q179: ROW LINEAGE (Iceberg v3's row lineage / Delta's row
    // tracking; TBLPROPERTIES('rowids'='on')): every committed row
    // carries a STABLE unique `_row_id`, assigned once at commit from
    // the table's monotone `#nextrowid` counter — VIRTUAL on the
    // append path (firstRowId + position, zero bytes per row),
    // MATERIALIZED by everything that relocates rows (COW swaps,
    // OPTIMIZE, sorted/binpack rewrites), so ids survive the whole
    // maintenance lifecycle. The row drives two appends, a COW
    // DELETE, a COW UPDATE, and OPTIMIZE, then emits per surviving
    // row whether its CURRENT id equals its id at the version that
    // created it (cross-version self-join computed in-plan — any
    // re-mint flips the flag) plus the order-free dense-range pins:
    // at birth the ids are exactly {0..N-1}, and the live set stays
    // duplicate-free. RowLineageSpec pins the storage half (virtual
    // appends, MOR stamps, dv survivors, materializing rewrites).
    "q179_dml_row_lineage" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q179_orders")
      val t = "graft_dml.ns.rl"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")
      s.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q179_orders WHERE o_orderkey % 7 = 0""")
      s.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q179_orders WHERE o_orderkey % 7 = 3""")
      s.sql(s"DELETE FROM $t WHERE k % 3 = 0")
      s.sql(s"UPDATE $t SET cents = cents + 7 WHERE k % 5 = 0")
      RowStoreOps.compact(s, t)
      s.sql(s"""
        WITH now AS (SELECT k, cents, _row_id FROM $t),
        born AS (SELECT k, _row_id FROM $t VERSION AS OF 2),
        ba AS (SELECT CAST(MIN(_row_id) AS BIGINT) AS born_min,
                      CAST(MAX(_row_id) AS BIGINT) AS born_max,
                      COUNT(DISTINCT _row_id) = COUNT(*) AS born_unique
               FROM $t VERSION AS OF 2),
        na AS (SELECT COUNT(DISTINCT _row_id) = COUNT(*) AS ids_unique
               FROM $t)
        SELECT n.k, n.cents,
               CAST(CASE WHEN n._row_id = b._row_id THEN 1 ELSE 0 END
                 AS INT) AS id_kept,
               ba.born_min, ba.born_max, ba.born_unique, na.ids_unique
        FROM now n JOIN born b ON n.k = b.k
        CROSS JOIN ba CROSS JOIN na
        ORDER BY n.k""")
    }),

    // ── q180: GENERATED COLUMNS (Delta's GENERATED ALWAYS AS;
    // TBLPROPERTIES('generated'='col: expr')): the column's value is
    // COMPUTED from the row's other columns on every write path — an
    // omitted/NULL incoming value fills, an explicit user value must
    // match the definition or the statement refuses, and a COW/MOR
    // UPDATE that changes a source column REFRESHES the generated
    // value (the engine's own carried/updated rows recompute, so the
    // column can never go stale). The row drives a column-list INSERT
    // (fill), a COW UPDATE that moves cents across a bucket boundary
    // (refresh), and a MERGE whose not-matched arm omits the column
    // (fill through MergeRows). GeneratedColumnsSpec pins the refusal
    // and DDL halves.
    "q180_dml_generated_cols" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q180_orders")
      val t = "graft_dml.ns.gc"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, " +
        "cents_bucket BIGINT) TBLPROPERTIES " +
        "('generated'='cents_bucket: cents - (cents % 1000)')")
      s.sql(s"""INSERT INTO $t (k, cents)
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q180_orders WHERE o_orderkey % 6 = 0""")
      s.sql(s"UPDATE $t SET cents = cents + 1500 WHERE k % 4 = 0")
      s.sql(s"""MERGE INTO $t x USING (
          SELECT CAST(o_orderkey AS BIGINT) AS mk,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS mc
          FROM q180_orders WHERE o_orderkey % 3 = 0) m
        ON x.k = m.mk
        WHEN MATCHED AND m.mk % 12 = 0 THEN UPDATE SET cents = m.mc + 10
        WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (m.mk, m.mc)""")
      s.table(t).orderBy("k")
    }),

    // ── q181: ROW-ID-KEYED CROSS-VERSION DIFF — what row lineage is
    // FOR: with stable `_row_id`s, "what happened to each ROW between
    // v1 and v2" is one outer join on the id — no value heuristics
    // (q152's CDC update pairing must guess from one-delete+one-insert
    // per key; id-keyed pairing is exact even when the KEY COLUMN
    // ITSELF changes, which value-based CDC classifies as
    // delete+insert). The row updates a key column, deletes, inserts,
    // then classifies every row across the two snapshots by id:
    // kept/updated (same id — even under the key change)/deleted/
    // inserted. OPTIMIZE between the versions is invisible (ids
    // survive rewrites). The oracle restates the classification
    // relationally from the raw slice.
    "q181_dml_lineage_diff" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q181_orders")
      val t = "graft_dml.ns.ld"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")
      s.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q181_orders WHERE o_orderkey % 9 = 0""")
      val v1 = 1
      // the KEY column itself changes — value-based CDC sees
      // delete+insert; the id sees one updated row
      s.sql(s"UPDATE $t SET k = k + 1000000 WHERE k % 4 = 0")
      s.sql(s"DELETE FROM $t WHERE k % 9 = 0 AND k % 5 = 3")
      s.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS BIGINT) + 2000000,
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q181_orders WHERE o_orderkey % 9 = 4""")
      RowStoreOps.compact(s, t)
      s.sql(s"""
        WITH a AS (SELECT k, cents, _row_id FROM $t VERSION AS OF $v1),
        b AS (SELECT k, cents, _row_id FROM $t)
        SELECT coalesce(b.k, a.k) AS k,
               coalesce(b.cents, a.cents) AS cents,
               CASE WHEN a._row_id IS NULL THEN 'inserted'
                    WHEN b._row_id IS NULL THEN 'deleted'
                    WHEN a.k != b.k THEN 'updated'
                    ELSE 'kept' END AS change
        FROM a FULL OUTER JOIN b ON a._row_id = b._row_id
        ORDER BY k, change""")
    }),

    // ── q160: NESTED (STRUCT) COLUMN TYPES — the schema surface
    // events-shaped data hits on day one (the reference's `props`
    // JSON column is the domain hint): a STRUCT column through the
    // FULL lifecycle — CREATE, INSERT, a MERGE whose UPDATE assigns a
    // nested field, then FIELD-LEVEL evolution (ADD COLUMN props.flag,
    // RENAME COLUMN props.cents TO amount — both riding the same
    // name-mapping machinery as top-level evolution, on dotted leaf
    // paths), a post-evolution INSERT, and time travel ACROSS the
    // evolution (stages 1–2 read the pre-ALTER snapshots under their
    // pinned schema and old field names; stage 3 reads the evolved
    // head). The oracle restates all three stages relationally.
    // NestedTypesSpec pins the storage half: leaves store FLATTENED
    // under dotted STORAGE names, renames are metadata-only (new
    // files keep writing the old storage name), null structs
    // round-trip, and a dropped nested field's path is blacklisted.
    "q160_dml_nested_types" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q160_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.nest")
      s.sql("CREATE TABLE graft_dml.ns.nest " +
        "(k BIGINT, props STRUCT<cents: BIGINT, status: STRING>) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.nest
        SELECT CAST(o_orderkey AS BIGINT),
               named_struct(
                 'cents', CAST(round(o_totalprice * 100) AS BIGINT),
                 'status', o_orderstatus)
        FROM q160_orders WHERE o_orderkey % 7 = 0""")
      s.sql("""MERGE INTO graft_dml.ns.nest t
        USING (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      o_orderstatus AS status
               FROM q160_orders WHERE o_orderkey % 5 = 0) s
        ON t.k = s.k
        WHEN MATCHED AND t.props.status = 'F' THEN
          UPDATE SET props.cents = t.props.cents + s.cents
        WHEN MATCHED AND t.props.status <> 'F' THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, props)
          VALUES (s.k, named_struct('cents', s.cents, 'status', s.status))""")
      s.sql("ALTER TABLE graft_dml.ns.nest ADD COLUMN props.flag BIGINT")
      s.sql("ALTER TABLE graft_dml.ns.nest " +
        "RENAME COLUMN props.cents TO amount")
      s.sql("""INSERT INTO graft_dml.ns.nest
        SELECT CAST(o_orderkey AS BIGINT),
               named_struct(
                 'amount', CAST(round(o_totalprice * 100) AS BIGINT),
                 'status', o_orderstatus,
                 'flag', CAST(o_orderkey % 3 AS BIGINT))
        FROM q160_orders WHERE o_orderkey % 9 = 2""")
      s.sql("""
        SELECT 1 AS stage, COUNT(*) AS n,
               CAST(COALESCE(SUM(props.cents), 0) AS BIGINT) AS amt,
               CAST(0 AS BIGINT) AS n_flag
        FROM graft_dml.ns.nest VERSION AS OF 1
        UNION ALL
        SELECT 2, COUNT(*),
               CAST(COALESCE(SUM(props.cents), 0) AS BIGINT),
               CAST(0 AS BIGINT)
        FROM graft_dml.ns.nest VERSION AS OF 2
        UNION ALL
        SELECT 3, COUNT(*),
               CAST(COALESCE(SUM(props.amount), 0) AS BIGINT),
               COUNT(props.flag)
        FROM graft_dml.ns.nest
        ORDER BY stage""")
    }),

    // ── q162: DELETION-VECTOR ACCOUNTING IN `.files` — the health
    // question a MOR+dv table answers before OPTIMIZE (Iceberg's
    // rewrite_position_deletes decision input): how many vectors,
    // each covering how many rows, from metadata alone. The fixture
    // inserts one base file per group, then TWO overlapping DELETEs
    // (k%97, then k%5 — rows divisible by both exercise the
    // union-replace), so the head manifest carries EXACTLY ONE
    // vector per group whose popcount is the union of both deletes —
    // which the oracle restates relationally (k % 4 is the default
    // bucket function for sequential long keys). A double-counted
    // union, a second vector on a file, or a lost target breaks the
    // row. DeletionVectorSpec pins the lifecycle half: dv rows
    // appear on delete and disappear after OPTIMIZE.
    "q162_dml_files_dv" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q162_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.fdv")
      s.sql("CREATE TABLE graft_dml.ns.fdv " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "TBLPROPERTIES ('format'='mor','deletes'='dv')")
      s.sql("""INSERT INTO graft_dml.ns.fdv
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q162_orders WHERE o_orderkey % 7 = 0""")
      s.sql("DELETE FROM graft_dml.ns.fdv WHERE k % 97 = 0")
      s.sql("DELETE FROM graft_dml.ns.fdv WHERE k % 5 = 0")
      s.table("graft_dml.ns.fdv.files")
        .filter(col("kind") === "dv")
        .selectExpr("grp", "kind", "dv_deleted_rows",
          "dv_target IS NOT NULL AS has_target")
        .orderBy(col("grp"))
    }),

    // ── q163: JSON → STRUCT SHREDDING INGEST — the composition the
    // reference's events-shaped domain actually runs (its `props`
    // column is JSON text): parse the JSON payload at ingest into
    // q160's typed STRUCT column (variant-shredding economics — the
    // string parses ONCE at write; every later read touches typed
    // flattened leaves with zone maps instead of re-parsing JSON),
    // then aggregate over the shredded nested field under a
    // nested-field predicate. Round 14 adds the ARRAY leaf: the
    // payload is enriched with a VARIABLE-LENGTH JSON array (the tags
    // / token-list shape), shredded into an ARRAY<STRING> struct
    // field (stored as one blob per row — RowNested.Arr), and the
    // aggregate reads the array CONTENTS back (element count, total
    // element chars, membership) — a lossy array round-trip, a parse
    // drift, or a lost leaf breaks the hash. The oracle re-shreds
    // with DuckDB's JSON operators and restates the array
    // relationally.
    "q163_dml_json_shred" -> ((s, d) => {
      // spread the single-split events scan so the ingest-time JSON
      // build + shred parallelizes (guide §2.5; profiled 0.9 s in one
      // task at sf0.1/32c) — conditional, a no-op on wide scans
      graft.Tables.spreadNarrowScan(s, graft.Tables(s, d, "events"),
        "event_id").createOrReplaceTempView("q163_events")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.shred")
      s.sql("CREATE TABLE graft_dml.ns.shred " +
        "(event_id BIGINT, etype STRING, " +
        "props STRUCT<k: BIGINT, vc: BIGINT, tags: ARRAY<STRING>>) " +
        "PARTITIONED BY (bucket(4, event_id))")
      s.sql("""INSERT INTO graft_dml.ns.shred
        SELECT event_id, event_type,
               named_struct(
                 'k', CAST(get_json_object(props, '$.k') AS BIGINT),
                 'vc', CAST(round(value * 100) AS BIGINT),
                 'tags', from_json(
                   concat('["x', CAST(event_id % 7 AS STRING), '"',
                     CASE WHEN event_id % 3 = 0 THEN ',"y"' ELSE '' END,
                     ']'), 'ARRAY<STRING>'))
        FROM q163_events""")
      s.sql("""SELECT etype, COUNT(*) AS n,
               CAST(SUM(props.k) AS BIGINT) AS sum_k,
               CAST(SUM(props.vc) AS BIGINT) AS sum_vc,
               CAST(SUM(size(props.tags)) AS BIGINT) AS n_tags,
               CAST(SUM(aggregate(transform(props.tags,
                 t -> CAST(length(t) AS BIGINT)), 0L, (a, v) -> a + v))
                 AS BIGINT) AS tag_chars,
               COUNT(CASE WHEN array_contains(props.tags, 'y') THEN 1 END)
                 AS n_y
        FROM graft_dml.ns.shred
        WHERE props.k % 5 = 0
        GROUP BY etype ORDER BY etype""")
    }),

    // ── q167: CLUSTERING QUALITY — the decision input for
    // `rewrite_data_files_sorted`, completing the q162 symmetry
    // (q162 surfaces rewrite_position_deletes' trigger; this surfaces
    // the sorted/zorder rewrite's): `CALL clustering_quality(t, col)`
    // folds the manifest's per-file zone maps into the mean per-file
    // extent fraction — ~1.0 on a churned table (every file spans the
    // domain; banded reads open everything), ~1/slices after the
    // sorted rewrite — ZERO data files opened (spec pins the
    // filesOpened counter). Pinned in-plan: quality reads high before
    // and collapses after the rewrite it advises; the content
    // aggregate anchors the oracle.
    "q167_dml_clustering_quality" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q167_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cq")
      s.sql("CREATE TABLE graft_dml.ns.cq " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      for (r <- 0 until 3)
        s.sql(s"""INSERT INTO graft_dml.ns.cq
          SELECT CAST(o_orderkey AS BIGINT),
                 CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM q167_orders WHERE o_orderkey % 3 = $r""")
      def quality(): Double = s.sql(
        "CALL graft_dml.system.clustering_quality('ns.cq', 'k')")
        .head().getDouble(1)
      val before = quality()
      s.sql("CALL graft_dml.system.rewrite_data_files_sorted(" +
        "'ns.cq', 'k')").collect()
      val after = quality()
      import org.apache.spark.sql.functions.lit
      s.sql("""SELECT status, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.cq GROUP BY status ORDER BY status""")
        .withColumn("churned_reads_high", lit(before > 0.8))
        .withColumn("clustered_reads_low", lit(after < 0.5 &&
          after < before))
    }),

    // ── q166: Z-ORDER REWRITE — the multi-dimension half of q161
    // (Delta's OPTIMIZE ZORDER BY / Iceberg's zorder rewrite
    // strategy): the lexicographic rewrite biases skipping toward the
    // LEADING column — a banded read on the second dimension still
    // opens everything. `rewrite_data_files_sorted(t, 'zorder(k,p)')`
    // range-shuffles on the normalized Morton interleave of both
    // columns (normalization bounds folded from the MANIFEST's
    // per-column zone maps — plan-time metadata, no data pass), so
    // every rewritten file's extent is bounded in BOTH dimensions and
    // banded reads on EITHER column skip files. Pinned in-plan: the
    // plain bin-pack skips nothing on either dimension; the z layout
    // skips on both. Content contract: both band aggregates unchanged
    // (rewrites are observationally invisible), restated by the
    // oracle from raw orders. ZOrderRewriteSpec pins the
    // majority-skip fractions.
    "q166_dml_zorder_rewrite" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q166_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.zord")
      s.sql("CREATE TABLE graft_dml.ns.zord " +
        "(k BIGINT, p BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      for (r <- 0 until 3)
        s.sql(s"""INSERT INTO graft_dml.ns.zord
          SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS BIGINT),
                 CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM q166_orders WHERE o_orderkey % 3 = $r""")
      val b = s.sql("SELECT CAST(max(o_orderkey) AS BIGINT), " +
        "CAST(max(o_custkey) AS BIGINT) FROM q166_orders").head()
      val (mxK, mxP) = (b.getLong(0), b.getLong(1))
      def banded(c: String, mx: Long) =
        s"""SELECT
               CAST(${if (c == "k") 1 else 2} AS INT) AS dim, status,
               COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.zord
        WHERE $c >= ${mx / 3}L AND $c < ${2 * mx / 3}L
        GROUP BY status"""
      def skippedAfter(q: String): Int = {
        s.sql(q).collect(); RowStore.lastSkippedBaseFiles.get()
      }
      RowStoreOps.compact(s, "graft_dml.ns.zord") // plain bin-pack
      val plainK = skippedAfter(banded("k", mxK))
      val plainP = skippedAfter(banded("p", mxP))
      s.sql("CALL graft_dml.system.rewrite_data_files_sorted(" +
        "'ns.zord', 'zorder(k,p)')").collect()
      val zK = skippedAfter(banded("k", mxK))
      val zP = skippedAfter(banded("p", mxP))
      import org.apache.spark.sql.functions.lit
      s.sql(banded("k", mxK) + " UNION ALL " + banded("p", mxP) +
          " ORDER BY dim, status")
        .withColumn("plain_skipped_none", lit(plainK == 0 && plainP == 0))
        .withColumn("z_skips_both", lit(zK > 0 && zP > 0))
    }),

    // ── q178: SIZE-AWARE BINPACK — Iceberg's rewrite_data_files
    // binpack strategy (r14 item 8): rewrite ONLY base files outside
    // the [0.75, 1.8]×target band; well-sized files keep their
    // entries byte-verbatim, and a packed table is a provable NO-OP.
    // The row builds the classic smallfile pathology (one well-sized
    // seed file per group + 8 single-row fragment commits), binpacks
    // with target = the largest current file (so every seed file sits
    // in band), and pins: all 8 fragments rewrote into one packed
    // file per group, every seed entry survived UNTOUCHED (same
    // manifest name — stats never recomputed), and a second binpack
    // plans NOTHING (rewritten = 0, no version committed). Content is
    // observationally invariant throughout. BinpackSpec pins the
    // file-count/size half.
    "q178_dml_binpack" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q178_orders")
      val t = "graft_dml.ns.bp"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
      s.sql(s"""INSERT INTO $t
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q178_orders WHERE o_orderkey % 3 = 0""")
      // 8 separate single-row commits = 2 fragment files per group
      // (keys 1000000..1000007 mod the 4 default buckets)
      for (i <- 0 until 8)
        s.sql(s"INSERT INTO $t VALUES (${1000000 + i}, ${11 * i})")
      val dir = RowStore.dataDir(t)
      val man0 = RowStore.readManifest(t, RowStore.currentVersion(t))
      val preNames = man0.map(_.name).toSet
      def sz(n: String) =
        new java.io.File(RowStore.entryPath(dir, n)).length()
      val target = man0.map(e => sz(e.name)).max
      // expectations derive from the OBSERVED layout (robust to the
      // session's write parallelism): in-band files must survive
      // verbatim, every under-band fragment must pack — one output
      // file per fragment-bearing group
      val frags = man0.filter(e => sz(e.name) < (target * 3) / 4)
      val inBand = man0.filterNot(e => frags.exists(_.name == e.name))
      val r1 = s.sql("CALL graft_dml.system.rewrite_data_files_binpack(" +
        s"'ns.bp', ${target}L)").head()
      val packed = frags.size == 8 && r1.getInt(0) == frags.size &&
        r1.getInt(1) == frags.map(_.group).distinct.size
      val man1Names = RowStore
        .readManifest(t, RowStore.currentVersion(t)).map(_.name).toSet
      // every in-band (seed) entry survived with its NAME — its stats
      // were never recomputed, its bytes never read — and exactly the
      // fragments left the manifest
      val preserved = inBand.size == 4 &&
        inBand.forall(e => man1Names(e.name)) &&
        (preNames -- man1Names).size == frags.size
      val v1 = RowStore.currentVersion(t)
      val r2 = s.sql("CALL graft_dml.system.rewrite_data_files_binpack(" +
        s"'ns.bp', ${target}L)").head()
      val noop = r2.getInt(0) == 0 &&
        RowStore.currentVersion(t) == v1
      import org.apache.spark.sql.functions.lit
      s.table(t).select("k", "cents")
        .withColumn("packed", lit(packed))
        .withColumn("preserved", lit(preserved))
        .withColumn("noop", lit(noop))
    }),

    // ── q177: MULTI-STATEMENT CROSS-TABLE TRANSACTION — BEGIN … any
    // DML over several tables … COMMIT, the general form q176's
    // branch publish only approximates (branches stage appends; a
    // transaction gets full MERGE/UPDATE/DELETE generality via
    // snapshot-isolated working clones — Transact.scala). The row
    // drives the whole lifecycle: begin over (accounts, journal),
    // UPDATE the accounts clone + INSERT the journal clone from the
    // updated state, pin mid-txn ISOLATION (base tables unchanged
    // while the txn is open), commit atomically; then a second txn
    // that an interleaved direct write invalidates — commit REFUSES
    // all-or-nothing (CME), rollback drops the clones. TransactSpec
    // pins the storage half (file moves not copies, clone teardown,
    // dv pairing across adoption).
    "q177_dml_transaction" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q177_orders")
      for (t <- Seq("txa", "txb"))
        s.sql(s"DROP TABLE IF EXISTS graft_dml.ns.$t")
      s.sql("CREATE TABLE graft_dml.ns.txa (k BIGINT, cents BIGINT)")
      s.sql("CREATE TABLE graft_dml.ns.txb (k BIGINT, cents BIGINT)")
      s.sql("""INSERT INTO graft_dml.ns.txa
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q177_orders WHERE o_orderkey % 8 = 0""")
      val preSum = s.sql("SELECT CAST(SUM(cents) AS BIGINT) " +
        "FROM graft_dml.ns.txa").head().getLong(0)
      // txn 1: UPDATE accounts, journal the updated rows — commits
      val b = s.sql("CALL graft_dml.system.begin_transaction(" +
        "'ns.txa,ns.txb')").head()
      val (id, clones) = (b.getLong(0), b.getString(1).split(","))
      s.sql(s"UPDATE ${clones(0)} SET cents = cents + 5 WHERE k % 3 = 0")
      s.sql(s"""INSERT INTO ${clones(1)}
        SELECT k, cents FROM ${clones(0)} WHERE k % 3 = 0""")
      // isolation: the OPEN transaction is invisible on the bases
      val isolated = s.sql("SELECT CAST(SUM(cents) AS BIGINT) " +
          "FROM graft_dml.ns.txa").head().getLong(0) == preSum &&
        s.table("graft_dml.ns.txb").count() == 0L
      s.sql(s"CALL graft_dml.system.commit_transaction(${id}L)").collect()
      // txn 2: an interleaved direct commit on txa lands in the SAME
      // group the transaction's own txa write touched (k=-6 and k=-2
      // share bucket floorMod(k, 4) = 2) — a genuine write-write
      // conflict, so the group-level OCC refuses ALL tables (the
      // journal write publishes nothing either) and rollback reclaims
      // the clones. (A group-DISJOINT interloper would legitimately
      // commit under the rebase — TransactSpec pins that both-land
      // case.)
      val b2 = s.sql("CALL graft_dml.system.begin_transaction(" +
        "'ns.txa,ns.txb')").head()
      val (id2, clones2) = (b2.getLong(0), b2.getString(1).split(","))
      s.sql(s"INSERT INTO ${clones2(0)} VALUES (-6, 6)")
      s.sql(s"INSERT INTO ${clones2(1)} VALUES (-1, 1)")
      s.sql("INSERT INTO graft_dml.ns.txa VALUES (-2, 2)") // interloper
      val refused =
        try {
          s.sql(s"CALL graft_dml.system.commit_transaction(${id2}L)")
            .collect(); false
        } catch { case e: Throwable =>
          var t: Throwable = e; var f = false
          while (t != null && !f) {
            if (t.isInstanceOf[java.util.ConcurrentModificationException])
              f = true
            t = t.getCause
          }
          f
        }
      s.sql(s"CALL graft_dml.system.rollback_transaction(${id2}L)")
        .collect()
      val cleaned = refused && clones2.forall(c => !RowStore.exists(c)) &&
        s.table("graft_dml.ns.txb").where("k = -1").count() == 0L
      import org.apache.spark.sql.functions.lit
      s.sql("""SELECT 'a' AS side, k, cents FROM graft_dml.ns.txa
        UNION ALL
        SELECT 'b', k, cents FROM graft_dml.ns.txb""")
        .withColumn("isolated", lit(isolated))
        .withColumn("refused_clean", lit(cleaned))
    }),

    // ── q176: ATOMIC MULTI-TABLE PUBLISH — the cross-table WAP commit
    // single-table formats can't express (their transaction boundary
    // is one table's metadata pointer): a pipeline stages one audit
    // branch on EACH of two tables (data + its derived sibling),
    // `publish_branches` validates every branch's OCC precondition
    // FIRST and only then commits them all under the one lock — so
    // readers never observe one table's wave without the other's.
    // Exercised both ways: the clean pair publishes together
    // (versions "2,2" pinned), then a second wave with an interleaved
    // commit on table B refuses ALL-OR-NOTHING — table A's untouched
    // branch stays staged too (pinned: both branch refs survive, A's
    // version unchanged, neither staged slice visible). The oracle
    // restates both tables' final content from raw orders.
    "q176_dml_atomic_publish" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q176_orders")
      def slice(t: String, r: Int, branch: Option[String]): Unit = {
        val df = s.sql(s"""SELECT CAST(o_orderkey AS BIGINT) AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM q176_orders WHERE o_orderkey % 8 = $r""")
        branch match {
          case Some(b) => df.writeTo(t).option("branch", b).append()
          case None => df.writeTo(t).append()
        }
      }
      for (t <- Seq("graft_dml.ns.ap1", "graft_dml.ns.ap2")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
          "PARTITIONED BY (bucket(4, k))")
      }
      slice("graft_dml.ns.ap1", 0, None) // v1 seeds
      slice("graft_dml.ns.ap2", 1, None)
      slice("graft_dml.ns.ap1", 2, Some("audit")) // wave 1, staged
      slice("graft_dml.ns.ap2", 3, Some("audit"))
      val pub = s.sql("CALL graft_dml.system.publish_branches(" +
        "'ns.ap1,ns.ap2', 'audit,audit')").head()
      val bothPublished = pub.getInt(0) == 2 && pub.getString(1) == "2,2"
      // wave 2: stage on both, then interleave a commit on B only
      slice("graft_dml.ns.ap1", 4, Some("audit"))
      slice("graft_dml.ns.ap2", 6, Some("audit"))
      slice("graft_dml.ns.ap2", 5, None) // B moves to v3
      val refused =
        try {
          s.sql("CALL graft_dml.system.publish_branches(" +
            "'ns.ap1,ns.ap2', 'audit,audit')").collect(); false
        } catch { case e: Throwable =>
          var t: Throwable = e; var f = false
          while (t != null && !f) {
            if (t.isInstanceOf[java.util.ConcurrentModificationException])
              f = true
            t = t.getCause
          }
          f
        }
      val allOrNothing = refused &&
        RowStore.currentVersion("graft_dml.ns.ap1") == 2 &&
        RowStore.branchExists("graft_dml.ns.ap1", "audit") &&
        RowStore.branchExists("graft_dml.ns.ap2", "audit")
      import org.apache.spark.sql.functions.lit
      s.sql("""SELECT 'a' AS side, k, cents FROM graft_dml.ns.ap1
        UNION ALL
        SELECT 'b', k, cents FROM graft_dml.ns.ap2""")
        .withColumn("both_published", lit(bothPublished))
        .withColumn("all_or_nothing", lit(allOrNothing))
        .orderBy(col("side"), col("k"))
    }),

    // ── q175: SHOW TBLPROPERTIES — the table's declared contract read
    // back through Spark's NATIVE SQL surface (no custom reader: the
    // DSv2 `Table.properties()` override feeds SHOW TBLPROPERTIES and
    // DESCRIBE EXTENDED): format, group count, deletion-vector mode,
    // bloom/ndv opt-ins, and the CHECK constraint all round-trip with
    // the SAME keys CREATE accepted. The oracle restates the declared
    // values verbatim — a lost or renamed property breaks the hash.
    "q175_dml_show_properties" -> ((s, d) => {
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.props")
      s.sql("CREATE TABLE graft_dml.ns.props " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "TBLPROPERTIES ('format'='mor', 'deletes'='dv', " +
        "'bloom'='cents', 'ndv'='status', 'check'='cents >= 0')")
      s.sql("SHOW TBLPROPERTIES graft_dml.ns.props").orderBy(col("key"))
    }),

    // ── q174: IDEMPOTENT COPY INTO — Delta's COPY INTO / the batch
    // half of Auto Loader, the ingest shape a landing-zone pipeline
    // runs hourly: load every file in a GROWING directory exactly
    // once, however many times the job runs or crashes mid-way. The
    // load history is a sidecar (`ingest.log`), deliberately not the
    // manifest: OPTIMIZE may rewrite an imported file out of the
    // manifest and a re-run must STILL skip it — "loaded" is a fact
    // about the load. Pinned in-plan: the immediate re-run is a
    // complete no-op (0 new, all skipped), and after the directory
    // grows the third call ingests ONLY the new file. Content = both
    // slices exactly once, restated from raw orders by the oracle (a
    // double-load would double rows and break the hash). CopyIntoSpec
    // pins skip-survives-OPTIMIZE and the MOR refusal.
    "q174_dml_copy_into" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q174_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cpy")
      s.sql("CREATE TABLE graft_dml.ns.cpy " +
        "(k BIGINT, cents BIGINT, status STRING)")
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val dir = graft.Scratch.dir(s, "graft_q174_src", tag)
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS status
        FROM q174_orders WHERE o_orderkey % 9 = 1""")
        .repartition(2).write.mode("overwrite").parquet(dir)
      def call() = {
        val r = s.sql(
          s"CALL graft_dml.system.copy_into('ns.cpy', '$dir')").head()
        (r.getInt(0), r.getInt(2))
      }
      val (n1, _) = call()
      val (n2, sk2) = call() // immediate re-run: a complete no-op
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS status
        FROM q174_orders WHERE o_orderkey % 9 = 4""")
        .coalesce(1).write.mode("append").parquet(dir)
      val (n3, sk3) = call() // only the grown file loads
      import org.apache.spark.sql.functions.lit
      s.table("graft_dml.ns.cpy")
        .withColumn("rerun_noop", lit(n2 == 0 && sk2 == n1))
        .withColumn("growth_incremental", lit(n3 > 0 && sk3 == n1))
        .orderBy(col("k"))
    }),

    // ── q173: CHECK CONSTRAINTS — Delta's table CHECK constraints,
    // the write-path data-quality gate an ingest pipeline wants ON THE
    // TABLE rather than in every writer's code: declared at CREATE
    // (TBLPROPERTIES('check'='…'), validated at DDL — binding errors
    // never surface as write-task failures), enforced on EVERY row
    // every writer path accepts (batch INSERT, COW MERGE rewrites,
    // MOR delta records, streaming — one shared factory). SQL
    // semantics: only FALSE violates; NULL passes. A violating
    // statement aborts BEFORE any manifest commit, so the table is
    // untouched — pinned here twice: a violating INSERT and a
    // violating MERGE UPDATE both refuse (error-chain-matched pins)
    // and the final content equals the clean lifecycle's, which the
    // oracle restates from raw orders. CheckConstraintSpec pins the
    // DDL refusals (unknown column, non-boolean, function calls,
    // constrained-column DROP/RENAME), version-unchanged-on-refusal,
    // NULL-passes, and the MOR record path.
    "q173_dml_check_constraint" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q173_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.chk")
      s.sql("CREATE TABLE graft_dml.ns.chk " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('check'='cents >= 0 AND status IS NOT NULL')")
      s.sql("""INSERT INTO graft_dml.ns.chk
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q173_orders WHERE o_orderkey % 7 = 0""")
      def refused(body: => Unit): Boolean =
        try { body; false }
        catch { case e: Throwable =>
          var t: Throwable = e; var found = false
          while (t != null && !found) {
            if (t.getMessage != null &&
              t.getMessage.contains("CHECK constraint")) found = true
            t = t.getCause
          }
          found
        }
      val insRefused = refused {
        s.sql("""INSERT INTO graft_dml.ns.chk
          SELECT CAST(o_orderkey AS BIGINT),
                 -CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM q173_orders WHERE o_orderkey % 11 = 0""")
      }
      val updRefused = refused {
        s.sql("""MERGE INTO graft_dml.ns.chk t
          USING (SELECT CAST(o_orderkey AS BIGINT) AS k FROM q173_orders
                 WHERE o_orderkey % 3 = 0) m
          ON t.k = m.k
          WHEN MATCHED THEN UPDATE SET cents = -1""")
      }
      // the clean wave commits: +3 on the matched slice, inserts on
      // the rest (all rows satisfy the constraint)
      s.sql("""MERGE INTO graft_dml.ns.chk t
        USING (SELECT CAST(o_orderkey AS BIGINT) AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      o_orderstatus AS status
               FROM q173_orders WHERE o_orderkey % 5 = 0) m
        ON t.k = m.k
        WHEN MATCHED THEN UPDATE SET cents = t.cents + 3
        WHEN NOT MATCHED THEN INSERT (k, cents, status)
          VALUES (m.k, m.cents, m.status)""")
      import org.apache.spark.sql.functions.lit
      s.table("graft_dml.ns.chk")
        .withColumn("insert_refused", lit(insRefused))
        .withColumn("update_refused", lit(updRefused))
        .orderBy(col("k"))
    }),

    // ── q172: ZERO-COPY SHALLOW CLONE — Delta's SHALLOW CLONE /
    // Iceberg's snapshot procedure, the dev/test-against-production
    // primitive: `CALL snapshot_table(src, dst)` creates dst with
    // src's exact metadata and a v0 manifest REFERENCING src's
    // current files by absolute path (the add_files external-entry
    // contract — read verbatim, never owned by dst's maintenance).
    // Zero data bytes move — pinned in-plan: every clone entry is
    // external AND the clone's own data dir is empty at snapshot.
    // The tables then diverge independently: the clone takes a
    // DELETE + UPDATE wave (COW rewrites land in the CLONE's dir),
    // the source takes a post-clone INSERT the clone must never see,
    // and the output reads BOTH tables — the oracle restates each
    // side from raw orders, so isolation failure in either direction
    // breaks the hash. SnapshotCloneSpec pins the storage half
    // (reference-aliveness under single-group churn, maintenance
    // never deleting source bytes, the no-overwrite refusal).
    "q172_dml_shallow_clone" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q172_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.snapcln")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.snapsrc")
      s.sql("CREATE TABLE graft_dml.ns.snapsrc " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      for (r <- Seq(0, 3))
        s.sql(s"""INSERT INTO graft_dml.ns.snapsrc
          SELECT CAST(o_orderkey AS BIGINT),
                 CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM q172_orders WHERE o_orderkey % 8 = $r""")
      val refs = s.sql("CALL graft_dml.system.snapshot_table(" +
        "'ns.snapsrc', 'ns.snapcln')").head().getInt(0)
      val clnEntries = RowStore.readManifest("graft_dml.ns.snapcln", 0)
      val ownFiles = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(
          RowStore.dataDir("graft_dml.ns.snapcln")))
        try st.count() finally st.close()
      }
      val zeroCopy = refs > 0 && clnEntries.nonEmpty &&
        clnEntries.forall(_.name.startsWith("/")) && ownFiles == 0L
      // diverge: churn the clone, append to the source
      s.sql("DELETE FROM graft_dml.ns.snapcln WHERE k % 6 = 0")
      s.sql("UPDATE graft_dml.ns.snapcln SET cents = cents + 5 " +
        "WHERE k % 7 = 0")
      s.sql("""INSERT INTO graft_dml.ns.snapsrc
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q172_orders WHERE o_orderkey % 8 = 5""")
      import org.apache.spark.sql.functions.lit
      s.sql("""SELECT 'clone' AS side, k, cents, status
          FROM graft_dml.ns.snapcln
        UNION ALL
        SELECT 'src', k, cents, status FROM graft_dml.ns.snapsrc""")
        .withColumn("zero_copy", lit(zeroCopy))
        .orderBy(col("side"), col("k"))
    }),

    // ── q171: INCREMENTAL VIEW MAINTENANCE OVER THE CHANGE FEED —
    // the workload the CDF exists FOR: an aggregate view (n, sum per
    // category) materialized as its own catalog table stays current by
    // folding ONLY the churn delta, never re-scanning the base table.
    // Lifecycle: seed insert (v1) → CTAS the view → one mixed MERGE
    // wave on the base (updates/deletes/inserts, v2) → read `.changes`
    // from=1 to=2, group the per-row deltas to per-category
    // (±1 row, ±cents; an update surfaces as delete+insert and folds
    // to dn=0, dc=+bump) → MERGE the deltas into the view (the
    // count-to-zero arm deletes the category row). At 100 TB the
    // delta read touches only CHANGED groups (identical file sets are
    // never resolved — the ChangesTable contract) and the view MERGE
    // is category-cardinality-sized, while the recompute it replaces
    // is a full corpus scan. Pinned in-plan: the incrementally
    // maintained view equals a full recompute bit-for-bit
    // (full-outer-join mismatch count = 0). The oracle restates the
    // final view from raw orders with the wave applied relationally.
    "q171_dml_incremental_view" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q171_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ivm")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ivmv")
      s.sql("CREATE TABLE graft_dml.ns.ivm " +
        "(k BIGINT, cat STRING, cents BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.ivm
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM q171_orders WHERE o_orderkey % 7 = 0""")
      s.sql("""CREATE TABLE graft_dml.ns.ivmv AS
        SELECT cat, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.ivm GROUP BY cat""")
      s.sql("""MERGE INTO graft_dml.ns.ivm t
        USING (SELECT CAST(o_orderkey AS BIGINT) AS k,
                      o_orderstatus AS cat,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM q171_orders WHERE o_orderkey % 5 = 0) m
        ON t.k = m.k
        WHEN MATCHED AND t.k % 10 = 0 THEN UPDATE SET cents = t.cents + 7
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, cat, cents)
          VALUES (m.k, m.cat, m.cents)""")
      s.read.option("from", "1").option("to", "2")
        .table("graft_dml.ns.ivm.changes")
        .createOrReplaceTempView("q171_changes")
      foldCdfIntoView(s, "q171_changes", "cat", "cents",
        "graft_dml.ns.ivmv")
      val mismatches = s.sql("""
        SELECT COUNT(*) FROM (SELECT cat, n, sum_cents
            FROM graft_dml.ns.ivmv) i
          FULL OUTER JOIN (SELECT cat, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM graft_dml.ns.ivm GROUP BY cat) f
          ON i.cat = f.cat AND i.n = f.n AND i.sum_cents = f.sum_cents
        WHERE i.cat IS NULL OR f.cat IS NULL""").head().getLong(0)
      import org.apache.spark.sql.functions.lit
      s.table("graft_dml.ns.ivmv")
        .withColumn("matches_recompute", lit(mismatches == 0L))
        .orderBy(col("cat"))
    }),

    // ── q170: CHERRY-PICK A STAGED BRANCH ONTO A MOVED MAIN —
    // Iceberg's cherrypick_snapshot, the concurrency resolution
    // q128's strict publish deliberately refuses: stage an audit
    // slice on a WAP branch (fork base v1), interleave a hotfix
    // commit on main (v2), and the fast-forward publish must now
    // REFUSE (overwriting would drop the hotfix — pinned). CALL
    // cherrypick_branch replays the branch's manifest DELTA (its
    // appended files; branches stage appends only) on top of the
    // CURRENT manifest instead — main keeps the hotfix AND gains the
    // audited slice, as version 3, and the branch ref is consumed.
    // The oracle restates all three slices from raw orders; the
    // removal-conflict refusal half (a branch that replaced files an
    // interleaved commit also rewrote) is pinned in CherrypickSpec.
    "q170_dml_cherrypick" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q170_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cp")
      s.sql("CREATE TABLE graft_dml.ns.cp " +
        "(k BIGINT, cents BIGINT, src STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.cp
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), 'seed'
        FROM q170_orders WHERE o_orderkey % 8 = 0""")
      s.sql("""SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               'staged' AS src
        FROM q170_orders WHERE o_orderkey % 8 = 3""")
        .writeTo("graft_dml.ns.cp").option("branch", "audit").append()
      s.sql("""INSERT INTO graft_dml.ns.cp
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), 'hotfix'
        FROM q170_orders WHERE o_orderkey % 8 = 5""")
      // the strict fast-forward must refuse: main is at v2, the
      // branch forked at v1 — publishing would drop the hotfix
      val refused =
        try { RowStoreOps.publishBranch("graft_dml.ns.cp", "audit"); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      val v = s.sql(
        "CALL graft_dml.system.cherrypick_branch('ns.cp', 'audit')")
        .head().getInt(0)
      val branchGone = RowStore.listBranches("graft_dml.ns.cp").isEmpty
      import org.apache.spark.sql.functions.lit
      s.table("graft_dml.ns.cp")
        .withColumn("strict_publish_refused", lit(refused))
        .withColumn("cherrypicked", lit(v == 3))
        .withColumn("branch_dropped", lit(branchGone))
        .orderBy(col("k"))
    }),

    // ── q165: REWRITE POSITION DELETES — the delete-only maintenance
    // op (Iceberg's rewrite_position_deletes) q162 built the decision
    // input for: a record-mode MOR table takes two DELETE commits with
    // an UPDATE commit BETWEEN them (the ordering hazard: folded
    // deletes move to the terminal manifest position, sound only by
    // rid-delete confluence), then CALL folds every positional delete
    // record into ONE deletion vector per touched base file — base
    // parquet is NEVER rewritten (full OPTIMIZE would rewrite it too).
    // Pinned in-plan: base-file identity unchanged, exactly one vector
    // per target, both delete-only delta files dropped, the update
    // records SURVIVE as records. The content aggregate is the read
    // invariant (the q108 discipline); the oracle restates it from raw
    // orders with the delete/update algebra applied relationally.
    "q165_dml_rewrite_deletes" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q165_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.rpd")
      s.sql("CREATE TABLE graft_dml.ns.rpd " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "TBLPROPERTIES ('format'='mor')")
      s.sql("""INSERT INTO graft_dml.ns.rpd
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
        FROM q165_orders WHERE o_orderkey % 7 = 0""")
      s.sql("DELETE FROM graft_dml.ns.rpd WHERE k % 97 = 0")
      s.sql("UPDATE graft_dml.ns.rpd SET cents = cents + 1 WHERE k % 11 = 0")
      s.sql("DELETE FROM graft_dml.ns.rpd WHERE k % 5 = 0")
      val t = "graft_dml.ns.rpd"
      val preBase = RowStore.readManifest(t, RowStore.currentVersion(t))
        .filter(_.kind == "base").map(_.name).toSet
      val r = s.sql(
        "CALL graft_dml.system.rewrite_position_deletes('ns.rpd')").head()
      val (folded, dropped) = (r.getLong(0), r.getInt(2))
      val post = RowStore.readManifest(t, RowStore.currentVersion(t))
      val postBase = post.filter(_.kind == "base").map(_.name).toSet
      val dvs = post.filter(_.kind == "dv")
      import org.apache.spark.sql.functions.lit
      s.sql("""SELECT status, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.rpd GROUP BY status ORDER BY status""")
        .withColumn("base_files_unchanged", lit(preBase == postBase))
        .withColumn("one_dv_per_target", lit(dvs.nonEmpty &&
          dvs.groupBy(_.dvTarget).forall(_._2.size == 1)))
        .withColumn("deletes_folded", lit(folded > 0 && dropped >= 2))
        .withColumn("updates_survive", lit(post.exists(_.kind == "delta")))
    }),

    // ── q169: SHREDDING WITH A MAP OVERFLOW — the variant-shredding
    // fallback q163 lacked: shredding can type only the keys it KNOWS
    // (the `k` leaf); a real event payload carries keys whose NAMES
    // vary per row ("exp_<n>" flags, optional "ua"/"ref") which no
    // fixed struct leaf can hold. Parse the JSON ONCE at ingest into
    // MAP<STRING,STRING>, lift the known key into its typed column,
    // and spill the rest into a MAP overflow column (parquet variant
    // shredding's typed_value + fallback split). Reads then mix both:
    // a typed-leaf predicate plus computed-key lookups into the
    // overflow (element_at with a PER-ROW key name — the access
    // pattern that proves dynamic keys survived storage). The oracle
    // re-derives every row's key set from event_id arithmetic.
    "q169_dml_map_shred" -> ((s, d) => {
      // spread the single-split events scan — the per-row JSON
      // concat/parse/map_filter ingest otherwise runs in ONE task
      // (guide §2.5; profiled 0.95 s at sf0.1/32c)
      graft.Tables.spreadNarrowScan(s, graft.Tables(s, d, "events"),
        "event_id").createOrReplaceTempView("q169_events")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.shredm")
      s.sql("CREATE TABLE graft_dml.ns.shredm (event_id BIGINT, " +
        "etype STRING, k BIGINT, extra MAP<STRING, STRING>) " +
        "PARTITIONED BY (bucket(4, event_id))")
      s.sql("""INSERT INTO graft_dml.ns.shredm
        SELECT event_id, event_type,
               CAST(element_at(m, 'k') AS BIGINT),
               map_filter(m, (x, v) -> x <> 'k')
        FROM (SELECT event_id, event_type, from_json(concat(
            '{"k": ', get_json_object(props, '$.k'),
            ', "exp_', CAST(event_id % 3 AS STRING), '": "',
            CAST(event_id % 7 AS STRING), '"',
            CASE WHEN event_id % 2 = 0 THEN concat(', "ua": "agent',
              CAST(event_id % 4 AS STRING), '"') ELSE '' END,
            CASE WHEN event_id % 5 = 0 THEN ', "ref": "r"' ELSE '' END,
            '}'), 'MAP<STRING, STRING>') AS m
          FROM q169_events)""")
      s.sql("""SELECT etype, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(SUM(size(extra)) AS BIGINT) AS n_extra,
               CAST(SUM(aggregate(map_keys(extra), 0L,
                   (a, x) -> a + length(x))
                 + aggregate(map_values(extra), 0L,
                   (a, x) -> a + length(x))) AS BIGINT) AS extra_chars,
               CAST(SUM(CAST(element_at(extra,
                 concat('exp_', CAST(event_id % 3 AS STRING)))
                 AS BIGINT)) AS BIGINT) AS exp_sum,
               COUNT(element_at(extra, 'ua')) AS n_ua
        FROM graft_dml.ns.shredm
        WHERE k % 5 = 0
        GROUP BY etype ORDER BY etype""")
    }),

    // ── q168: MAP COLUMN TYPE IN THE LAKE TABLE — the dynamic-key
    // companion to q164's ARRAY/DOUBLE/BINARY: an attribute bag whose
    // keys VARY PER ROW (the shape JSON shredding can't give a fixed
    // struct leaf) lives in the versioned store as MAP<STRING,BIGINT>,
    // stored as ONE canonically-ordered blob per row (RowNested.Mp —
    // entries sort by key at encode, so maps built in different entry
    // orders still diff as equal in the change feed). Full lifecycle:
    // CREATE, INSERT with a per-row-varying key set, one MERGE wave
    // that map_concat-extends a slice and deletes another, then both
    // snapshots read back through integer-exact checksums over keys
    // (map_keys), values (map_values), and COMPUTED-key lookups
    // (element_at with a key derived from another column — proves the
    // decoded MapData serves real lookups, not just aggregates).
    // Stage 1 is a time-travel read of the pre-MERGE version; the
    // oracle restates both stages from raw orders relationally (no
    // DuckDB map machinery needed — the key set per row is known).
    // MapTypesSpec pins the storage half (canonical blob equality,
    // MOR deltas, change-feed cancellation, DDL refusals).
    "q168_dml_map_table" -> ((s, d) => {
      // spread the single-split orders scan: the map-building insert
      // and the MERGE source both derive from this view (guide §2.5)
      graft.Tables.spreadNarrowScan(s, graft.Tables(s, d, "orders"),
        "o_orderkey").createOrReplaceTempView("q168_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.mapt")
      s.sql("CREATE TABLE graft_dml.ns.mapt (k BIGINT, status STRING, " +
        "attrs MAP<STRING, BIGINT>) PARTITIONED BY (bucket(4, k))")
      s.sql("""INSERT INTO graft_dml.ns.mapt
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
               map(concat('s_', o_orderstatus),
                   CAST(round(o_totalprice * 100) AS BIGINT),
                   'ck', CAST(o_custkey AS BIGINT))
        FROM q168_orders""")
      s.sql("""MERGE INTO graft_dml.ns.mapt t
        USING (SELECT CAST(o_orderkey AS BIGINT) AS k FROM q168_orders
               WHERE o_orderkey % 4 = 0) m
        ON t.k = m.k
        WHEN MATCHED AND t.k % 8 = 0 THEN UPDATE SET
          attrs = map_concat(t.attrs, map('bump', t.k % 100))
        WHEN MATCHED THEN DELETE""")
      val sums = """COUNT(*) AS n,
        CAST(SUM(size(attrs)) AS BIGINT) AS n_entries,
        CAST(SUM(aggregate(map_keys(attrs), 0L,
          (a, x) -> a + length(x))) AS BIGINT) AS key_chars,
        CAST(SUM(aggregate(map_values(attrs), 0L,
          (a, x) -> a + x)) AS BIGINT) AS vsum,
        CAST(SUM(element_at(attrs, concat('s_', status))) AS BIGINT)
          AS s_sum,
        CAST(SUM(element_at(attrs, 'ck')) AS BIGINT) AS ck_sum"""
      s.sql(s"""
        SELECT 1 AS stage, $sums
        FROM graft_dml.ns.mapt VERSION AS OF 1
        UNION ALL
        SELECT 2, $sums
        FROM graft_dml.ns.mapt
        ORDER BY stage""")
    }),

    // ── q164: EMBEDDING/PAYLOAD COLUMN TYPES IN THE LAKE TABLE — the
    // round-14 bridge between the repo's two halves: an LLM-pipeline
    // state table holds ARRAY<FLOAT> embeddings, DOUBLE scores, and
    // BINARY payloads on day one, and before this row those lived only
    // in plain parquet OUTSIDE the versioned/CDC-bearing store. Full
    // lifecycle: CREATE with all three statless types, INSERT the
    // embeddings fixture, one MERGE wave that rewrites array values
    // ELEMENT-WISE (float arithmetic — bit-exact in both engines),
    // bumps doubles, swaps payloads, and deletes a slice; then both
    // snapshots read back through integer-exact checksums (fixed-point
    // element sums — no cross-row double accumulation). Stage 1 is a
    // TIME-TRAVEL read of the pre-MERGE version; the oracle restates
    // both stages from raw embeddings with the merge applied
    // relationally. WideTypesSpec pins the storage half (native
    // DOUBLE/FLOAT physical types, arrays as deterministic blobs,
    // change-feed blob equality).
    "q164_dml_embedding_table" -> ((s, d) => {
      graft.Tables(s, d, "embeddings").createOrReplaceTempView("q164_emb")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.emb")
      s.sql("CREATE TABLE graft_dml.ns.emb (vec_id BIGINT, " +
        "embedding ARRAY<FLOAT>, score DOUBLE, payload BINARY) " +
        "PARTITIONED BY (bucket(4, vec_id))")
      s.sql("""INSERT INTO graft_dml.ns.emb
        SELECT vec_id, embedding, CAST(label AS DOUBLE) / 4.0,
               CAST(concat('doc-', CAST(vec_id AS STRING)) AS BINARY)
        FROM q164_emb""")
      s.sql("""MERGE INTO graft_dml.ns.emb t
        USING (SELECT vec_id, label FROM q164_emb WHERE vec_id % 3 = 0) m
        ON t.vec_id = m.vec_id
        WHEN MATCHED AND m.label % 2 = 0 THEN UPDATE SET
          embedding = transform(t.embedding, x -> x + CAST(1.0 AS FLOAT)),
          score = t.score + 10.0,
          payload = CAST(concat('upd-', CAST(t.vec_id AS STRING)) AS BINARY)
        WHEN MATCHED THEN DELETE""")
      val sums = "CAST(SUM(aggregate(transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), 0L, " +
        "(a, v) -> a + v)) AS BIGINT) AS vsum, " +
        "CAST(SUM(CAST(floor(score * 100) AS BIGINT)) AS BIGINT) AS ssum, " +
        "CAST(SUM(length(payload)) AS BIGINT) AS psum"
      s.sql(s"""
        SELECT 1 AS stage, COUNT(*) AS n, $sums
        FROM graft_dml.ns.emb VERSION AS OF 1
        UNION ALL
        SELECT 2, COUNT(*), $sums
        FROM graft_dml.ns.emb
        ORDER BY stage""")
    }),

    // ── q161: SORT-ORDERED OPTIMIZE (`rewrite_data_files_sorted`) —
    // the zone-map-restoration half of compaction Iceberg's
    // rewrite_data_files takes a sort order for: three full-range
    // INSERT commits churn the table so every group's files span the
    // whole key range; plain OPTIMIZE bin-packs to one file per group
    // but each STILL spans everything, so a banded SELECT skips
    // nothing (pinned: `plain_skipped_none`). The sorted rewrite
    // range-partitions by k — each task holds one contiguous slice,
    // the writer emits range-disjoint files, and the SAME banded
    // SELECT now plans only the intersecting slice files (pinned:
    // `sorted_skips`). The band aggregate itself is the content
    // contract (rewrites must be observationally invisible);
    // SortedRewriteSpec pins the opened-fraction drop and the
    // rows-planned bound.
    "q161_dml_sorted_rewrite" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q161_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.sortr")
      s.sql("CREATE TABLE graft_dml.ns.sortr " +
        "(k BIGINT, cents BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      for (r <- 0 until 3)
        s.sql(s"""INSERT INTO graft_dml.ns.sortr
          SELECT CAST(o_orderkey AS BIGINT),
                 CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM q161_orders WHERE o_orderkey % 3 = $r""")
      // the banded read: middle third of the key range (the 1-row
      // bounds fetch is planning metadata, the q115 discipline)
      val mxK = s.sql("SELECT CAST(max(o_orderkey) AS BIGINT) " +
        "FROM q161_orders").head().getLong(0)
      val (lo, hi) = (mxK / 3, 2 * mxK / 3)
      val banded = s"""SELECT status, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM graft_dml.ns.sortr
        WHERE k >= ${lo}L AND k < ${hi}L
        GROUP BY status ORDER BY status"""
      RowStoreOps.compact(s, "graft_dml.ns.sortr") // plain bin-pack
      s.sql(banded).collect()
      val plainSkipped = RowStore.lastSkippedBaseFiles.get()
      s.sql("CALL graft_dml.system.rewrite_data_files_sorted(" +
        "'ns.sortr', 'k')").collect()
      s.sql(banded).collect()
      val sortedSkipped = RowStore.lastSkippedBaseFiles.get()
      s.sql(banded)
        .withColumn("plain_skipped_none",
          org.apache.spark.sql.functions.lit(plainSkipped == 0))
        .withColumn("sorted_skips",
          org.apache.spark.sql.functions.lit(sortedSkipped > 0))
    })
  )

  val oracles: Map[String, String] = Map(
    // the id-keyed classification restated relationally: the %9=0
    // slice splits into updated (k%4=0 — the key-change update, which
    // value-based CDC could only call delete+insert), deleted
    // (k%5=3 of the rest), kept (the remainder); the %9=4 slice
    // inserts under shifted keys. OPTIMIZE between the versions is
    // invisible because ids survive rewrites.
    "q181_dml_lineage_diff" ->
      """WITH t0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 9 = 0),
        |ins AS (SELECT CAST(o_orderkey AS BIGINT) + 2000000 AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 9 = 4)
        |SELECT k + 1000000 AS k, cents, 'updated' AS change
        |  FROM t0 WHERE k % 4 = 0
        |UNION ALL
        |SELECT k, cents, 'deleted' FROM t0 WHERE k % 4 <> 0 AND k % 5 = 3
        |UNION ALL
        |SELECT k, cents, 'kept' FROM t0 WHERE k % 4 <> 0 AND k % 5 <> 3
        |UNION ALL
        |SELECT k, cents, 'inserted' FROM ins
        |ORDER BY k, change""".stripMargin,

    // the lifecycle restated: %6=0 slice (bumped where k%4=0), the
    // merge's matched overwrite and not-matched %6=3 inserts; the
    // generated bucket is recomputed from the FINAL cents everywhere
    "q180_dml_generated_cols" ->
      """WITH t0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 6 = 0),
        |upd AS (SELECT k,
        |    CASE WHEN k % 4 = 0 THEN cents + 1500 ELSE cents END AS cents
        |  FROM t0),
        |src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |fin AS (
        |  SELECT u.k,
        |    CASE WHEN s.k IS NOT NULL AND s.k % 12 = 0 THEN s.cents + 10
        |         ELSE u.cents END AS cents
        |  FROM upd u LEFT JOIN src s ON u.k = s.k
        |  UNION ALL
        |  SELECT s.k, s.cents FROM src s LEFT JOIN upd u ON u.k = s.k
        |  WHERE u.k IS NULL)
        |SELECT k, cents, cents - (cents % 1000) AS cents_bucket
        |FROM fin ORDER BY k""".stripMargin,

    // the lifecycle's live set restated (two slices, k%3 deleted,
    // k%5 bumped); id_kept = 1 for EVERY survivor (all were born by
    // v2 and lineage preserves ids through delete/update/OPTIMIZE),
    // and at birth the ids are exactly the dense range {0..N-1}
    "q179_dml_row_lineage" ->
      """WITH t0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 IN (0, 3)),
        |live AS (SELECT k,
        |    CASE WHEN k % 5 = 0 THEN cents + 7 ELSE cents END AS cents
        |  FROM t0 WHERE k % 3 <> 0)
        |SELECT l.k, l.cents, CAST(1 AS INTEGER) AS id_kept,
        |  CAST(0 AS BIGINT) AS born_min,
        |  CAST((SELECT COUNT(*) FROM t0) - 1 AS BIGINT) AS born_max,
        |  TRUE AS born_unique, TRUE AS ids_unique
        |FROM live l ORDER BY l.k""".stripMargin,

    // table A = seed + the atomically-published wave-1 slice; table B
    // = seed + wave 1 + the interleaved commit; wave 2 stays staged on
    // BOTH (the refusal was all-or-nothing); pins TRUE by contract
    // content is binpack-invariant: seed slice + the 8 fragment rows;
    // the packed/preserved/noop pins are TRUE by the op's contract
    "q178_dml_binpack" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  TRUE AS packed, TRUE AS preserved, TRUE AS noop
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 1000000 + i, 11 * i, TRUE, TRUE, TRUE
        |FROM UNNEST(generate_series(0, 7)) AS t(i)
        |ORDER BY k""".stripMargin,

    // the committed transaction restated: accounts slice with +5 on
    // the k%3=0 rows (txn 1's UPDATE), plus the interloper row (-2, 2)
    // that refused txn 2 — whose own writes committed NOTHING; the
    // journal holds exactly txn 1's updated rows
    "q177_dml_transaction" ->
      """WITH seed AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 8 = 0)
        |SELECT 'a' AS side, k,
        |  CASE WHEN k % 3 = 0 THEN cents + 5 ELSE cents END AS cents,
        |  TRUE AS isolated, TRUE AS refused_clean FROM seed
        |UNION ALL SELECT 'a', -2, 2, TRUE, TRUE
        |UNION ALL SELECT 'b', k, cents + 5, TRUE, TRUE
        |FROM seed WHERE k % 3 = 0
        |ORDER BY side, k""".stripMargin,

    "q176_dml_atomic_publish" ->
      """SELECT 'a' AS side, CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  TRUE AS both_published, TRUE AS all_or_nothing
        |FROM orders WHERE o_orderkey % 8 IN (0, 2)
        |UNION ALL
        |SELECT 'b', CAST(o_orderkey AS BIGINT),
        |  CAST(round(o_totalprice * 100) AS BIGINT), TRUE, TRUE
        |FROM orders WHERE o_orderkey % 8 IN (1, 3, 5)
        |ORDER BY side, k""".stripMargin,

    // the declared contract verbatim (groups defaults to 4)
    "q175_dml_show_properties" ->
      """SELECT * FROM (VALUES
        |  ('bloom', 'cents'), ('check', 'cents >= 0'),
        |  ('deletes', 'dv'), ('format', 'mor'), ('groups', '4'),
        |  ('ndv', 'status')) AS t(key, value)
        |ORDER BY key""".stripMargin,

    // both slices exactly once (a double-load doubles rows and breaks
    // the hash); the idempotence pins are TRUE by COPY INTO's contract
    "q174_dml_copy_into" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_orderstatus AS status,
        |  TRUE AS rerun_noop, TRUE AS growth_incremental
        |FROM orders WHERE o_orderkey % 9 IN (1, 4)
        |ORDER BY k""".stripMargin,

    // the clean lifecycle restated from raw orders (both violating
    // statements committed NOTHING): seed slice with +3 on the
    // matched k%35=0 rows, plus the inserted k%5 slice; the refusal
    // pins are TRUE by the constraint's contract
    "q173_dml_check_constraint" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT)
        |    + CASE WHEN o_orderkey % 35 = 0 THEN 3 ELSE 0 END AS cents,
        |  o_orderstatus AS status,
        |  TRUE AS insert_refused, TRUE AS update_refused
        |FROM orders
        |WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 = 0
        |ORDER BY k""".stripMargin,

    // both sides restated from raw orders: the clone = the two seed
    // slices with its own churn applied (delete k%6=0, then +5 on the
    // k%7=0 survivors); the source = the seed slices plus the
    // post-clone insert, its values untouched by the clone's churn;
    // the zero-copy pin is TRUE by the procedure's contract
    "q172_dml_shallow_clone" ->
      """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 8 IN (0, 3))
        |SELECT 'clone' AS side, k,
        |  cents + CASE WHEN k % 7 = 0 THEN 5 ELSE 0 END AS cents,
        |  status, TRUE AS zero_copy
        |FROM base WHERE k % 6 <> 0
        |UNION ALL
        |SELECT 'src', k, cents, status, TRUE FROM base
        |UNION ALL
        |SELECT 'src', CAST(o_orderkey AS BIGINT),
        |  CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus, TRUE
        |FROM orders WHERE o_orderkey % 8 = 5
        |ORDER BY side, k""".stripMargin,

    // the final view restated from raw orders with the wave applied
    // relationally: survivors = seed minus the matched-delete slice
    // (k%35=0 with k%70<>0), +7 on the matched-update slice (k%70=0),
    // plus the inserted slice (k%5=0, k%7<>0); the equality pin is
    // TRUE by the maintenance contract
    "q171_dml_incremental_view" ->
      """WITH fin AS (SELECT o_orderstatus AS cat,
        |    CAST(round(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 70 = 0 THEN 7 ELSE 0 END AS cents
        |  FROM orders
        |  WHERE (o_orderkey % 7 = 0
        |         AND NOT (o_orderkey % 35 = 0 AND o_orderkey % 70 <> 0))
        |     OR (o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0))
        |SELECT cat, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  TRUE AS matches_recompute
        |FROM fin GROUP BY cat ORDER BY cat""".stripMargin,

    // main keeps the seed and the interleaved hotfix; the cherry-pick
    // adds the staged audit slice; the refusal/consumption pins are
    // TRUE by the op's contract
    "q170_dml_cherrypick" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  CASE o_orderkey % 8 WHEN 0 THEN 'seed' WHEN 3 THEN 'staged'
        |    ELSE 'hotfix' END AS src,
        |  TRUE AS strict_publish_refused, TRUE AS cherrypicked,
        |  TRUE AS branch_dropped
        |FROM orders WHERE o_orderkey % 8 IN (0, 3, 5)
        |ORDER BY k""".stripMargin,

    // the three churn inserts partition o_orderkey % 3, so content is
    // the whole table; quality pins TRUE by the metric's contract
    "q167_dml_clustering_quality" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  TRUE AS churned_reads_high, TRUE AS clustered_reads_low
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    // both bands restated from raw orders (the three churn inserts
    // partition o_orderkey % 3 — together they are the full table);
    // skip pins TRUE by the rewrite contract
    "q166_dml_zorder_rewrite" ->
      """WITH z AS (SELECT o_orderkey AS k, o_custkey AS p,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders)
        |SELECT dim, status, n, sum_cents,
        |  TRUE AS plain_skipped_none, TRUE AS z_skips_both FROM (
        |  SELECT 1 AS dim, status, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents
        |  FROM z
        |  WHERE k >= (SELECT MAX(k) FROM z) // 3
        |    AND k < 2 * (SELECT MAX(k) FROM z) // 3
        |  GROUP BY status
        |  UNION ALL
        |  SELECT 2, status, COUNT(*),
        |    CAST(SUM(cents) AS BIGINT)
        |  FROM z
        |  WHERE p >= (SELECT MAX(p) FROM z) // 3
        |    AND p < 2 * (SELECT MAX(p) FROM z) // 3
        |  GROUP BY status)
        |ORDER BY dim, status""".stripMargin,

    // survivors = seed minus both delete slices; the between-deletes
    // UPDATE bumped exactly the k%11 rows alive at its commit (all
    // survivors qualify — the %97 slice was already gone, the %5 slice
    // died after); flags TRUE by the op's contract
    "q165_dml_rewrite_deletes" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
        |    + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS sum_cents,
        |  TRUE AS base_files_unchanged, TRUE AS one_dv_per_target,
        |  TRUE AS deletes_folded, TRUE AS updates_survive
        |FROM orders
        |WHERE o_orderkey % 7 = 0 AND o_orderkey % 97 <> 0
        |  AND o_orderkey % 5 <> 0
        |GROUP BY 1 ORDER BY status""".stripMargin,

    // every row's overflow key set re-derived from event_id
    // arithmetic: exp_<id%3> always (key 5 chars, value 1), ua on the
    // id%2=0 slice (2 + 'agent'+digit = 8), ref on id%5=0 (3 + 1)
    "q169_dml_map_shred" ->
      """SELECT event_type AS etype, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(1 + CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END
        |    + CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_extra,
        |  CAST(SUM(6 + CASE WHEN event_id % 2 = 0 THEN 8 ELSE 0 END
        |    + CASE WHEN event_id % 5 = 0 THEN 4 ELSE 0 END) AS BIGINT)
        |    AS extra_chars,
        |  CAST(SUM(event_id % 7) AS BIGINT) AS exp_sum,
        |  COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS n_ua
        |FROM events
        |WHERE CAST(props->>'k' AS BIGINT) % 5 = 0
        |GROUP BY 1 ORDER BY etype""".stripMargin,

    // both stages restated from raw orders relationally — every row's
    // key set is known ({'s_'+status, 'ck'}, plus 'bump' on the merged
    // slice), so the map checksums collapse to arithmetic: per row
    // n_entries = 2+b, key_chars = 5+4b, vsum = cents+ck+b*(k%100)
    "q168_dml_map_table" ->
      """WITH seed AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_custkey AS BIGINT) AS ck
        |  FROM orders),
        |merged AS (SELECT k, cents, ck,
        |    CASE WHEN k % 8 = 0 THEN 1 ELSE 0 END AS b
        |  FROM seed WHERE NOT (k % 4 = 0 AND k % 8 <> 0))
        |SELECT 1 AS stage, COUNT(*) AS n,
        |  CAST(SUM(2) AS BIGINT) AS n_entries,
        |  CAST(SUM(5) AS BIGINT) AS key_chars,
        |  CAST(SUM(cents + ck) AS BIGINT) AS vsum,
        |  CAST(SUM(cents) AS BIGINT) AS s_sum,
        |  CAST(SUM(ck) AS BIGINT) AS ck_sum
        |FROM seed
        |UNION ALL
        |SELECT 2, COUNT(*),
        |  CAST(SUM(2 + b) AS BIGINT),
        |  CAST(SUM(5 + 4 * b) AS BIGINT),
        |  CAST(SUM(cents + ck + b * (k % 100)) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT),
        |  CAST(SUM(ck) AS BIGINT)
        |FROM merged
        |ORDER BY stage""".stripMargin,

    // both lifecycle stages restated from raw embeddings: seed = the
    // fixture verbatim; merged = the wave applied relationally (the
    // element-wise float bump replayed in single precision — IEEE
    // float + float is one rounding in both engines, so the
    // fixed-point checksums match bit-for-bit)
    "q164_dml_embedding_table" ->
      """WITH seed AS (SELECT vec_id, embedding,
        |    CAST(label AS DOUBLE) / 4.0 AS score,
        |    'doc-' || CAST(vec_id AS VARCHAR) AS pay, label
        |  FROM embeddings),
        |merged AS (SELECT vec_id,
        |    CASE WHEN vec_id % 3 = 0 AND label % 2 = 0
        |      THEN list_transform(embedding, x -> x + CAST(1.0 AS FLOAT))
        |      ELSE embedding END AS embedding,
        |    CASE WHEN vec_id % 3 = 0 AND label % 2 = 0
        |      THEN score + 10.0 ELSE score END AS score,
        |    CASE WHEN vec_id % 3 = 0 AND label % 2 = 0
        |      THEN 'upd-' || CAST(vec_id AS VARCHAR) ELSE pay END AS pay
        |  FROM seed
        |  WHERE NOT (vec_id % 3 = 0 AND label % 2 <> 0))
        |SELECT 1 AS stage, COUNT(*) AS n,
        |  CAST(SUM(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))))
        |    AS BIGINT) AS vsum,
        |  CAST(SUM(CAST(floor(score * 100) AS BIGINT)) AS BIGINT) AS ssum,
        |  CAST(SUM(length(pay)) AS BIGINT) AS psum
        |FROM seed
        |UNION ALL
        |SELECT 2, COUNT(*),
        |  CAST(SUM(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))))
        |    AS BIGINT),
        |  CAST(SUM(CAST(floor(score * 100) AS BIGINT)) AS BIGINT),
        |  CAST(SUM(length(pay)) AS BIGINT)
        |FROM merged
        |ORDER BY stage""".stripMargin,

    // the shredded aggregate re-shredded with DuckDB's JSON operators
    // over the raw events table; the enriched array restated
    // relationally (tags = ['x<id%7>'] plus 'y' on the id%3=0 slice)
    "q163_dml_json_shred" ->
      """SELECT event_type AS etype, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_vc,
        |  CAST(SUM(1 + CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_tags,
        |  CAST(SUM(1 + length(CAST(event_id % 7 AS VARCHAR))
        |    + CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tag_chars,
        |  CAST(COUNT(CASE WHEN event_id % 3 = 0 THEN 1 END) AS BIGINT)
        |    AS n_y
        |FROM events
        |WHERE CAST(props->>'k' AS BIGINT) % 5 = 0
        |GROUP BY 1 ORDER BY etype""".stripMargin,

    // the band restated from raw orders; the skip pins are TRUE by
    // the rewrite contract (plain bin-pack leaves group-wide files —
    // nothing skippable; the sorted layout must skip)
    "q161_dml_sorted_rewrite" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  TRUE AS plain_skipped_none, TRUE AS sorted_skips
        |FROM orders
        |WHERE o_orderkey >= (SELECT MAX(o_orderkey) FROM orders) // 3
        |  AND o_orderkey < 2 * (SELECT MAX(o_orderkey) FROM orders) // 3
        |GROUP BY 1 ORDER BY status""".stripMargin,
    // the three lifecycle stages restated from raw orders: seed
    // insert, post-merge state, and the evolved head (merge result
    // plus the post-evolution insert; flags are non-null exactly on
    // the inserted slice)
    "q160_dml_nested_types" ->
      """WITH seed AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |src AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |merged AS (
        |  SELECT t.k,
        |    CASE WHEN s.k IS NOT NULL AND t.status = 'F'
        |      THEN t.cents + s.cents ELSE t.cents END AS cents
        |  FROM seed t LEFT JOIN src s USING (k)
        |  WHERE NOT (s.k IS NOT NULL AND t.status <> 'F')
        |  UNION ALL
        |  SELECT s.k, s.cents FROM src s
        |  WHERE s.k NOT IN (SELECT k FROM seed)),
        |ins AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 9 = 2)
        |SELECT 1 AS stage, COUNT(*) AS n,
        |  CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS amt,
        |  CAST(0 AS BIGINT) AS n_flag FROM seed
        |UNION ALL
        |SELECT 2, COUNT(*), CAST(COALESCE(SUM(cents), 0) AS BIGINT),
        |  CAST(0 AS BIGINT) FROM merged
        |UNION ALL
        |SELECT 3,
        |  (SELECT COUNT(*) FROM merged) + (SELECT COUNT(*) FROM ins),
        |  CAST((SELECT COALESCE(SUM(cents), 0) FROM merged)
        |    + (SELECT COALESCE(SUM(cents), 0) FROM ins) AS BIGINT),
        |  (SELECT COUNT(*) FROM ins)
        |ORDER BY stage""".stripMargin,

    // exactly one vector per group; its popcount is the union of both
    // delete predicates over the inserted slice
    "q162_dml_files_dv" ->
      """SELECT CAST(o_orderkey % 4 AS INTEGER) AS grp, 'dv' AS kind,
        |  COUNT(*) AS dv_deleted_rows, TRUE AS has_target
        |FROM orders
        |WHERE o_orderkey % 7 = 0
        |  AND (o_orderkey % 97 = 0 OR o_orderkey % 5 = 0)
        |GROUP BY 1 ORDER BY grp""".stripMargin
  )
}
