package graft

import org.scalatest.funsuite.AnyFunSuite

/** ROW LINEAGE (TBLPROPERTIES('rowids'='on')) — Iceberg v3's
  * row-lineage / Delta's row-tracking contract: every committed row
  * has a STABLE unique `_row_id`, assigned once from the table's
  * monotone counter (`#nextrowid` manifest header) and surviving
  * everything that relocates the row's bytes — COW group swaps, MOR
  * update records over materialized files, OPTIMIZE, the sorted
  * rewrite, binpack. Appends stay VIRTUAL (firstRowId + position,
  * zero per-row storage); only rewrites materialize. */
class RowLineageSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  private def ids(t: String): Map[Long, Long] =
    spark.sql(s"SELECT k, _row_id FROM $t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  private def assertUnique(t: String): Unit = {
    val all = spark.sql(s"SELECT _row_id FROM $t").collect()
      .map(r => if (r.isNullAt(0)) null else Long.box(r.getLong(0)))
    assert(!all.contains(null), s"$t: a committed row without an id")
    assert(all.toSet.size == all.length, s"$t: duplicate row ids")
  }

  test("cow: append inherits virtually; rewrites preserve ids") {
    val s = spark
    val t = "graft_dml.spec.lineage_cow"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")

    // one task, one group → one file; ids follow plan order 0..5
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 6).map(i => s"($i, ${i * 10})").mkString(", "))
    assert(ids(t) == (0 until 6).map(i => (i.toLong, i.toLong)).toMap,
      "first append inherits 0..n-1 in plan order")
    // the append path stays VIRTUAL: no id column in the written file
    val key = t
    val man1 = RowStore.readManifest(key, RowStore.currentVersion(key))
    assert(man1.forall(_.firstRowId.isDefined),
      "every committed entry carries its assigned range")
    // `.files` surfaces the assigned range starts (zero data opens)
    val fr = s.sql(s"SELECT first_row_id FROM $t.files").collect()
      .map(_.getLong(0)).toSet
    assert(fr == Set(0L), s"the one committed file starts range 0, $fr")

    // second append continues the counter: 6..8
    s.sql(s"INSERT INTO $t VALUES (6, 60), (7, 70), (8, 80)")
    assert(ids(t) == (0 until 9).map(i => (i.toLong, i.toLong)).toMap)

    // COW MERGE: carried rows KEEP their ids across the group swap
    // (Spark's WRITE_WITH_METADATA path materializes them); the
    // not-matched insert mints a fresh id from the new file's range
    s.sql(s"MERGE INTO $t USING (SELECT 2 AS mk, 999 AS mv UNION ALL " +
      s"SELECT 9, 90) m ON $t.k = m.mk " +
      "WHEN MATCHED THEN UPDATE SET v = m.mv " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (m.mk, m.mv)")
    val afterMerge = ids(t)
    for (i <- Seq(0L, 1L, 3L, 4L, 5L, 6L, 7L, 8L))
      assert(afterMerge(i) == i, s"carried row $i must keep its id")
    // the UPDATED row keeps its id too — Spark hands matched-updated
    // rows through the same WRITE_WITH_METADATA path as carried ones,
    // so COW updates preserve lineage exactly like Iceberg v3 asks
    assert(afterMerge(2L) == 2L, "COW-updated row keeps its id")
    assert(afterMerge(9L) >= 9L, "fresh row mints a new id")
    assertUnique(t)
    assert(s.sql(s"SELECT v FROM $t WHERE k = 2").collect()
      .head.getLong(0) == 999L)
    val updatedId = afterMerge(2L)

    // COW DELETE: survivors keep ids
    s.sql(s"DELETE FROM $t WHERE k = 7")
    val afterDel = ids(t)
    assert(!afterDel.contains(7L))
    assert(afterDel.filterNot(_._1 == 7L) ==
      afterMerge.filterNot(_._1 == 7L), "delete survivors keep ids")

    // OPTIMIZE (append fragmentation): every id preserved verbatim
    RowStoreOps.compact(s, key)
    assert(ids(t) == afterDel, "OPTIMIZE preserves every id")
    assertUnique(t)

    // time travel: the ORIGINAL version still reads the original ids
    val v1 = s.sql(s"SELECT k, _row_id FROM $t VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(v1 == (0 until 6).map(i => (i.toLong, i.toLong)).toMap,
      "time travel reads snapshot-time ids")

    // updated row's id stays FIXED from merge-time on
    assert(ids(t)(2L) == updatedId)
  }

  test("mor: updates and deletes preserve ids; optimize materializes") {
    val s = spark
    val t = "graft_dml.spec.lineage_mor"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) " +
      "TBLPROPERTIES ('format'='mor','rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 6).map(i => s"($i, ${i * 10})").mkString(", "))
    assert(ids(t) == (0 until 6).map(i => (i.toLong, i.toLong)).toMap)

    // MOR UPDATE: the record addresses the same rid → id inherited
    // from the ORIGINAL file position, unchanged
    s.sql(s"UPDATE $t SET v = 222 WHERE k = 2")
    assert(ids(t) == (0 until 6).map(i => (i.toLong, i.toLong)).toMap,
      "MOR update preserves the row's id")

    // MOR DELETE: survivors untouched
    s.sql(s"DELETE FROM $t WHERE k = 3")
    assert(ids(t) ==
      (0 until 6).filter(_ != 3).map(i => (i.toLong, i.toLong)).toMap)

    // MOR MERGE insert: fresh id, unique
    s.sql(s"MERGE INTO $t USING (SELECT 9 AS mk, 90 AS mv) m " +
      s"ON $t.k = m.mk " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (m.mk, m.mv)")
    val afterIns = ids(t)
    assert(afterIns(9L) >= 6L, "delta insert mints from the new range")
    assertUnique(t)

    // OPTIMIZE folds the deltas → ids must survive MATERIALIZED
    val key = t
    RowStoreOps.compact(s, key)
    assert(ids(t) == afterIns, "OPTIMIZE preserves ids (materialized)")

    // UPDATE over a MATERIALIZED base file: position inheritance can
    // no longer recover the id — the update record's stamp must
    s.sql(s"UPDATE $t SET v = 444 WHERE k = 4")
    assert(ids(t) == afterIns,
      "update over a materialized file preserves the id via its stamp")
    assert(s.sql(s"SELECT v FROM $t WHERE k = 4").collect()
      .head.getLong(0) == 444L)
    assertUnique(t)
  }

  test("mor + deletion vectors: survivors keep ids") {
    val s = spark
    val t = "graft_dml.spec.lineage_dv"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) " +
      "TBLPROPERTIES ('format'='mor','deletes'='dv','rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 12).map(i => s"($i, ${i * 10})").mkString(", "))
    val before = ids(t)
    assertUnique(t)
    s.sql(s"DELETE FROM $t WHERE k % 3 = 0")
    assert(ids(t) == before.filterNot(_._1 % 3 == 0),
      "dv delete: every survivor keeps its id")
    assertUnique(t)
  }

  test("counter is monotone across overwrite; ids never recycle") {
    val s = spark
    val t = "graft_dml.spec.lineage_ow"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES (0, 0), (1, 1), (2, 2)")
    assert(ids(t).values.toSet == Set(0L, 1L, 2L))
    s.sql(s"INSERT OVERWRITE $t VALUES (10, 0), (11, 1)")
    // replaced rows' ids are RETIRED, never reissued
    assert(ids(t).values.toSet == Set(3L, 4L),
      "overwrite mints from past the retired range")
  }

  test("multi-group: ids unique across groups and rewrites") {
    val s = spark
    val t = "graft_dml.spec.lineage_mg"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 40).map(i => s"($i, ${i * 10})").mkString(", "))
    s.sql(s"INSERT INTO $t VALUES " +
      (40 until 60).map(i => s"($i, ${i * 10})").mkString(", "))
    val before = ids(t)
    assert(before.size == 60)
    assertUnique(t)
    // fragmented groups → OPTIMIZE; every id must survive the rewrite
    graft.sources.RowStoreOps.compact(s, t)
    assert(ids(t) == before)
    // a plain COW UPDATE preserves the updated row's id too, and
    // leaves every other group's ids alone
    s.sql(s"UPDATE $t SET v = -1 WHERE k = 17")
    assert(ids(t) == before, "plain UPDATE preserves all ids")
    assertUnique(t)
  }

  test("sorted rewrite and binpack preserve ids through relocation") {
    val s = spark
    val t = "graft_dml.spec.lineage_srt"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('rowids'='on')")
    // interleaved appends → churned layout worth re-clustering
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 30 by 2).map(i => s"($i, ${i * 10})").mkString(", "))
    s.sql(s"INSERT INTO $t VALUES " +
      (1 until 30 by 2).map(i => s"($i, ${i * 10})").mkString(", "))
    val before = ids(t)
    assertUnique(t)
    // SORT-ORDERED rewrite range-shuffles rows across tasks — the
    // hardest relocation for lineage (every row changes file AND
    // position); ids must ride the trailing carry
    RowStoreOps.compact(s, t, sortCols = Seq("v"))
    assert(ids(t) == before, "sorted rewrite preserves every id")
    // fragment again, then BINPACK (file-granular planning)
    s.sql(s"INSERT INTO $t VALUES (100, 1), (101, 2)")
    val before2 = ids(t)
    graft.sources.BinpackOps.binpack(s, t, 64L * 1024)
    assert(ids(t) == before2, "binpack preserves every id")
    assertUnique(t)
  }

  test("streaming append assigns; enabling later refuses; wrong value") {
    val s = spark
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = "graft_dml.spec.lineage_st"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('rowids'='on')")
    val src = graft.Scratch.dir(s, "graft_lin_src", "a")
    import s.implicits._
    (0 until 10).map(i => (i.toLong, i * 10L)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    val ckpt = graft.Scratch.dir(s, "graft_lin_ckpt", "a")
    graft.Scratch.deleteTree(ckpt)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val q = s.readStream.schema(sch).parquet(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    // epoch commits funnel through the same manifest assignment —
    // streamed rows get dense unique ids like any batch append
    assertUnique(t)
    val got = ids(t)
    assert(got.size == 10 && got.values.toSet == (0L until 10L).toSet,
      s"streamed rows must hold the dense birth range, got $got")
    // a STREAMING READ serves `_row_id` too: the streaming relation
    // resolves to the full metadata-extended layout and execution
    // skips the batch pruning rewrite, so the stream reader emits
    // exactly [data ++ metadata] and any projection's ordinals
    // resolve (review finding — a width-pruned reader crashed here)
    val ck2 = graft.Scratch.dir(s, "graft_lin_ckpt2", "a")
    graft.Scratch.deleteTree(ck2)
    val q2 = s.readStream.table(t).select("k", "_row_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck2)
      .format("memory").queryName("lin_st_read")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val streamedIds = s.table("lin_st_read").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(streamedIds == got,
      s"streaming read must serve committed ids, got $streamedIds")
    s.catalog.dropTempView("lin_st_read")

    // row lineage is CREATE-time only (Iceberg gates it on the v3
    // upgrade the same way): retrofitting would leave committed
    // entries rangeless
    val plain = "graft_dml.spec.lineage_plain"
    s.sql(s"DROP TABLE IF EXISTS $plain")
    s.sql(s"CREATE TABLE $plain (k BIGINT, v BIGINT)")
    intercept[Exception] {
      s.sql(s"ALTER TABLE $plain SET TBLPROPERTIES ('rowids'='on')")
    }
    // and the only accepted value is 'on'
    intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.lineage_bad (k BIGINT) " +
        "TBLPROPERTIES ('rowids'='yes')")
    }
    s.sql(s"DROP TABLE $t")
    s.sql(s"DROP TABLE $plain")
  }

  test("branch-staged files have no ids until publish assigns them") {
    val s = spark
    val t = "graft_dml.spec.lineage_br"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES (0, 0), (1, 1)")
    import s.implicits._
    Seq((2L, 2L), (3L, 3L)).toDF("k", "v")
      .writeTo(t).option("branch", "audit").append()
    // the audit read sees the staged rows with NULL ids — assignment
    // happens at VERSION commit, which staging deliberately is not
    val staged = s.read.option("branch", "audit").table(t)
      .select("k", "_row_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(staged(0L) == 0L && staged(1L) == 1L,
      "committed files keep their ids in the branch read")
    assert(staged(2L) == -1L && staged(3L) == -1L,
      "staged files must read NULL ids before publish")
    graft.sources.RowStoreOps.publishBranch(t, "audit")
    assertUnique(t)
    assert(ids(t) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L),
      "publish assigns the staged file's range")
    s.sql(s"DROP TABLE $t")
  }

  test("clone inherits the counter; ids never re-mint retired ranges") {
    val s = spark
    val t = "graft_dml.spec.lineage_src"
    val c = "graft_dml.spec.lineage_cln"
    s.sql(s"DROP TABLE IF EXISTS $t"); s.sql(s"DROP TABLE IF EXISTS $c")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES (0, 0), (1, 1), (2, 2)")
    // retire ids 0..2: the live max range end drops to 5, but the
    // counter stays at 5 — and so must a clone's
    s.sql(s"INSERT OVERWRITE $t VALUES (10, 0), (11, 1)")
    val srcNext = RowStore.nextRowId(t, RowStore.currentVersion(t))
    assert(srcNext == 5L)
    s.sql(s"CALL graft_dml.system.snapshot_table(" +
      s"'spec.lineage_src', 'spec.lineage_cln')")
    assert(RowStore.nextRowId(c, RowStore.currentVersion(c)) == srcNext,
      "the clone must inherit the source COUNTER, not its live max")
    s.sql(s"INSERT INTO $c VALUES (20, 0)")
    val cloneIds = ids(c)
    assert(cloneIds(20L) >= 5L,
      s"clone insert re-minted a retired id: ${cloneIds(20L)}")
    s.sql(s"DROP TABLE $t"); s.sql(s"DROP TABLE $c")
  }

  test("cherry-pick assigns staged ranges from the landing head") {
    val s = spark
    val t = "graft_dml.spec.lineage_cp"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES (0, 0), (1, 1)")
    import s.implicits._
    // stage on a branch (no ids yet), then main moves past the fork
    // base with its own mint — the strict publish would refuse, but
    // cherry-pick replays the delta; its files are UNASSIGNED, so
    // assignment at the landing commit draws from the MOVED head's
    // counter and can never overlap the interloper's range
    Seq((2L, 2L)).toDF("k", "v")
      .writeTo(t).option("branch", "wave").append()
    s.sql(s"INSERT INTO $t VALUES (3, 3)")
    graft.sources.RowStoreOps.cherrypickBranch(t, "wave")
    assertUnique(t)
    val got = ids(t)
    assert(got(0L) == 0L && got(1L) == 1L && got(3L) == 2L,
      s"pre-existing ids stay, $got")
    assert(got(2L) == 3L,
      s"the cherry-picked file assigns AFTER the interloper, $got")
    s.sql(s"DROP TABLE $t")
  }

  test("transaction adoption refuses overlapping id ranges") {
    val s = spark
    val t = "graft_dml.spec.lineage_tx"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('rowids'='on')")
    s.sql(s"INSERT INTO $t VALUES (0, 0), (1, 1)")
    // txn mints into group 0; a concurrent base insert mints into
    // group 1 — group-DISJOINT (the old OCC would both-land), but the
    // two id ranges start at the same begin-time counter: adoption
    // must refuse rather than publish duplicate _row_ids
    val b = s.sql("CALL graft_dml.system.begin_transaction(" +
      "'spec.lineage_tx')").head()
    val (id, clone) = (b.getLong(0), b.getString(1))
    s.sql(s"INSERT INTO $clone VALUES (4, 40)")
    s.sql(s"INSERT INTO $t VALUES (5, 50)")
    val e = intercept[Exception] {
      s.sql(s"CALL graft_dml.system.commit_transaction(${id}L)").collect()
    }
    assert(e.getMessage.contains("row-id") ||
      Option(e.getCause).exists(_.getMessage.contains("row-id")),
      s"expected the id-overlap refusal, got: ${e.getMessage}")
    s.sql(s"CALL graft_dml.system.rollback_transaction(${id}L)").collect()
    // without the interloper's mint, the same shape lands and ids
    // stay unique
    val b2 = s.sql("CALL graft_dml.system.begin_transaction(" +
      "'spec.lineage_tx')").head()
    val (id2, clone2) = (b2.getLong(0), b2.getString(1))
    s.sql(s"INSERT INTO $clone2 VALUES (6, 60)")
    s.sql(s"CALL graft_dml.system.commit_transaction(${id2}L)").collect()
    assertUnique(t)
    assert(ids(t).keySet == Set(0L, 1L, 5L, 6L))
    s.sql(s"DROP TABLE $t")
  }

  test("rowids compose with generated columns through rewrites") {
    val s = spark
    val t = "graft_dml.spec.lineage_gen"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(1, k)) TBLPROPERTIES ('rowids'='on'," +
      "'generated'='b: v - (v % 100)')")
    s.sql(s"INSERT INTO $t (k, v) VALUES (0, 150), (1, 250), (2, 350)")
    assert(ids(t) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // COW update refreshes the generated value AND preserves the id
    s.sql(s"UPDATE $t SET v = v + 75 WHERE k = 1")
    assert(ids(t) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    val r = s.sql(s"SELECT v, b FROM $t WHERE k = 1").head()
    assert((r.getLong(0), r.getLong(1)) == ((325L, 300L)))
    // maintenance rewrite: both the materialized id and the
    // recomputed generated value survive. (The COW update above
    // reserved a fresh range for its rewritten file — counter 3→6 —
    // so the new row mints 6: ids are unique and monotone, not dense
    // after rewrites.)
    s.sql(s"INSERT INTO $t (k, v) VALUES (3, 450)")
    RowStoreOps.compact(s, t)
    assert(ids(t) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 6L))
    assert(s.sql(s"SELECT b FROM $t WHERE k = 3").head().getLong(0)
      == 400L)
    s.sql(s"DROP TABLE $t")
  }
}
