package graft

import org.scalatest.funsuite.AnyFunSuite

/** Nested STRUCT columns in the DML catalog (q160) — the storage-level
  * contract the query row can't see: struct leaves store FLATTENED
  * under dotted STORAGE names (with a presence marker under the
  * struct's own name), field renames are metadata-only (post-rename
  * files keep writing the OLD storage name, so pre- and post-rename
  * files stay mutually readable), NULL structs round-trip distinct
  * from structs of NULLs, dropped nested paths are blacklisted against
  * re-add, and the MOR delta path carries struct rows. */
class NestedTypesSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowFiles, RowStore}

  private def entries(key: String) =
    RowStore.readManifest(key, RowStore.currentVersion(key))

  test("leaves store flattened; rename is metadata-only name mapping") {
    val s = spark
    val t = "graft_dml.spec.nst"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, " +
      "props STRUCT<cents: BIGINT, status: STRING>) " +
      "PARTITIONED BY (bucket(2, k))")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('cents', 10L, 'status', 'a')), " +
      "(2, named_struct('cents', 20L, 'status', 'b'))")
    val dir = RowStore.dataDir(t)
    val pre = entries(t).filter(_.kind == "base").map(_.name).toSet
    // files store marker + dotted leaves, never a parquet group
    val (_, msg) = RowFiles.footerMeta(s"$dir/${pre.head}")
    assert(msg.containsField("props") && msg.containsField("props.cents") &&
      msg.containsField("props.status"), msg.toString)
    assert(msg.getType(Seq("props.cents"): _*).isPrimitive)

    s.sql(s"ALTER TABLE $t RENAME COLUMN props.cents TO amount")
    s.sql(s"INSERT INTO $t VALUES " +
      "(3, named_struct('amount', 30L, 'status', 'c'))")
    val post = entries(t).filter(e => e.kind == "base" && !pre(e.name))
    assert(post.nonEmpty)
    // metadata-only rename: the NEW file still stores the OLD
    // storage name — pre- and post-rename files mutually readable
    val (_, msg2) = RowFiles.footerMeta(s"$dir/${post.head.name}")
    assert(msg2.containsField("props.cents") &&
      !msg2.containsField("props.amount"), msg2.toString)
    assert(s.sql(s"SELECT props.amount FROM $t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
    // time travel BEFORE the rename surfaces the old field name
    assert(s.sql(s"SELECT props.cents FROM $t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
    s.sql(s"DROP TABLE $t")
  }

  test("null struct round-trips distinct from struct of nulls") {
    val s = spark
    val t = "graft_dml.spec.nstn"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, props STRUCT<a: BIGINT, b: STRING>)")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('a', CAST(NULL AS BIGINT), " +
      "                 'b', CAST(NULL AS STRING))), " +
      "(2, CAST(NULL AS STRUCT<a: BIGINT, b: STRING>)), " +
      "(3, named_struct('a', 7L, 'b', 'x'))")
    val got = s.sql(s"SELECT k, props IS NULL, props.a FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, false, -1L), (2L, true, -1L), (3L, false, 7L)))
    s.sql(s"DROP TABLE $t")
  }

  test("dropped nested paths are blacklisted; struct drop expands") {
    val s = spark
    val t = "graft_dml.spec.nstd"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, " +
      "props STRUCT<a: BIGINT, b: STRING>, extra STRUCT<x: BIGINT>)")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('a', 1L, 'b', 'p'), named_struct('x', 5L))")
    s.sql(s"ALTER TABLE $t DROP COLUMN props.a")
    val e1 = intercept[Exception](
      s.sql(s"ALTER TABLE $t ADD COLUMN props.a BIGINT"))
    assert(e1.getMessage.contains("previously dropped"), e1.getMessage)
    // dropping a whole struct blacklists its marker AND leaf paths
    s.sql(s"ALTER TABLE $t DROP COLUMN extra")
    val e2 = intercept[Exception](
      s.sql(s"ALTER TABLE $t ADD COLUMN extra STRUCT<y: BIGINT>"))
    assert(e2.getMessage.contains("previously dropped"), e2.getMessage)
    // the surviving leaf still reads
    assert(s.sql(s"SELECT props.b FROM $t").head().getString(0) == "p")
    // dropping the LAST field of a struct refuses (drop the struct)
    val e3 = intercept[Exception](
      s.sql(s"ALTER TABLE $t DROP COLUMN props.b"))
    assert(e3.getMessage.contains("last field"), e3.getMessage)
    s.sql(s"DROP TABLE $t")
  }

  test("nested leaves: pushed predicates skip files; ndv/bloom opt in") {
    val s = spark
    val t = "graft_dml.spec.nstz"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, " +
      "props STRUCT<band: BIGINT, tag: STRING>) " +
      "PARTITIONED BY (bucket(2, k)) " +
      "TBLPROPERTIES ('ndv'='props.band', 'bloom'='props.band')")
    // three commits with INTERLEAVED keys (key zone maps can't skip)
    // but DISJOINT nested bands — only nested-leaf stats can prune
    for (r <- 0 until 3)
      s.sql(s"INSERT INTO $t VALUES " +
        (0 until 150).filter(_ % 3 == r).map(i =>
          s"($i, named_struct('band', ${100 * r + i % 10}L, " +
            s"'tag', 'g${i % 7}'))").mkString(", "))
    val got = s.sql(s"SELECT CAST(COUNT(*) AS BIGINT) FROM $t " +
      "WHERE props.band >= 100 AND props.band < 200").head().getLong(0)
    assert(got == 50)
    val planned = RowStore.lastPlannedBaseFiles.get()
    val skipped = RowStore.lastSkippedBaseFiles.get()
    assert(planned == 2 && skipped == 4,
      s"nested-leaf zone maps must prune to one commit's files: " +
        s"planned $planned skipped $skipped")
    // bloom point lookup on the nested leaf skips the band-miss files
    assert(s.sql(s"SELECT COUNT(*) FROM $t WHERE props.band = 205")
      .head().getLong(0) == 5)
    assert(RowStore.lastSkippedBaseFiles.get() >= 4)
    // the ndv surface covers the nested leaf exactly (30 distinct
    // bands, far under the sketch's K — the fold is exact)
    val cs = s.table(s"$t.column_stats")
      .filter("column = 'props.band'").collect()
    assert(cs.length == 1 && cs.head.getLong(
      cs.head.fieldIndex("ndv")) == 30, cs.mkString(","))
    s.sql(s"DROP TABLE $t")
  }

  test("nested leaves widen types across committed files") {
    val s = spark
    val t = "graft_dml.spec.nstw"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, props STRUCT<c: INT>)")
    s.sql(s"INSERT INTO $t VALUES (1, named_struct('c', 7))")
    s.sql(s"ALTER TABLE $t ALTER COLUMN props.c TYPE BIGINT")
    s.sql(s"INSERT INTO $t VALUES (2, named_struct('c', 5000000000L))")
    // one scan across the INT32 and INT64 physical eras
    assert(s.sql(s"SELECT props.c FROM $t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(7L, 5000000000L))
    // narrowing refuses (Spark's analyzer catches BIGINT->INT before
    // the catalog; either refusal is the contract)
    val e = intercept[Exception](
      s.sql(s"ALTER TABLE $t ALTER COLUMN props.c TYPE INT"))
    assert(e.getMessage.contains("unsupported type change") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
    // a STRUCT column's presence marker must never masquerade as an
    // alterable INT column (catalog-level guard, exercised through
    // the direct TableChange path the analyzer doesn't pre-check)
    val cat = new graft.sources.GraftCatalog()
    cat.initialize("graft_dml",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()))
    val e2 = intercept[Exception](cat.alterTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("spec"), "nstw"),
      org.apache.spark.sql.connector.catalog.TableChange
        .updateColumnType(Array("props"),
          org.apache.spark.sql.types.LongType)))
    assert(e2.getMessage.contains("struct column"), e2.getMessage)
    // ditto for bloom/ndv opt-ins naming a struct column
    val e3 = intercept[Exception](
      s.sql("CREATE TABLE graft_dml.spec.nstwb (k BIGINT, " +
        "p STRUCT<a: BIGINT>) TBLPROPERTIES ('bloom'='p')"))
    assert(e3.getMessage.contains("untrackable"), e3.getMessage)
    s.sql(s"DROP TABLE $t")
  }

  test("native streaming write carries struct rows (writeStream.toTable)") {
    val s = spark
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val t = "graft_dml.spec.nsts"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, props STRUCT<a: BIGINT, b: STRING>)")
    val src = graft.Scratch.dir(s, "graft_nsts_src", "a")
    import s.implicits._
    (0 until 8).map(i => (i.toLong, i * 10L, s"s$i"))
      .toDF("k", "a", "b")
      .selectExpr("k", "named_struct('a', a, 'b', b) AS props")
      .write.mode("overwrite").parquet(src)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("props", StructType(Seq(StructField("a", LongType),
        StructField("b", StringType))))))
    val ckpt = graft.Scratch.dir(s, "graft_nsts_ckpt", "a")
    graft.Scratch.deleteTree(ckpt)
    val q = s.readStream.schema(sch).parquet(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    val got = s.sql(s"SELECT k, props.a, props.b FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == (0 until 8).map(i => (i.toLong, i * 10L, s"s$i")).toSeq)
    s.sql(s"DROP TABLE $t")
  }

  test("MOR delta path carries struct rows; CDF reassembles them") {
    val s = spark
    val t = "graft_dml.spec.nstm"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, props STRUCT<a: BIGINT, b: STRING>) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t VALUES " +
      (0 until 6).map(i => s"($i, named_struct('a', ${i}L, 'b', 'v$i'))")
        .mkString(", "))
    s.sql(s"""MERGE INTO $t x USING (SELECT 2L AS k UNION ALL
      SELECT 9L) s ON x.k = s.k
      WHEN MATCHED THEN UPDATE SET props.a = x.props.a + 100
      WHEN NOT MATCHED THEN INSERT (k, props)
        VALUES (s.k, named_struct('a', 99L, 'b', 'new'))""")
    assert(entries(t).exists(_.kind == "delta"),
      "MOR merge must write delta records, not rewrite bases")
    val got = s.sql(s"SELECT k, props.a FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(0L -> 0L, 1L -> 1L, 2L -> 102L, 3L -> 3L,
      4L -> 4L, 5L -> 5L, 9L -> 99L))
    // the change feed reassembles struct values in its diff rows
    val cdf = s.read.option("from", "1").option("to", "2")
      .table(s"$t.changes")
      .selectExpr("k", "props.a AS a", "_change")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(cdf == Set((2L, 2L, "delete"), (2L, 102L, "insert"),
      (9L, 99L, "insert")), cdf.toString)
    s.sql(s"DROP TABLE $t")
  }
}
