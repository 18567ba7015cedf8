package graft

import org.scalatest.funsuite.AnyFunSuite

/** MAP column type in the DML catalog (q168) — the storage contract:
  * MAP<prim, prim> columns store as ONE canonically-ordered blob per
  * row (RowNested.Mp — entries sort by key at encode), so equal maps
  * built in different entry orders are byte-equal everywhere blob
  * equality stands in for value equality (the change-feed multiset
  * diff above all); round-trips cover null values, the empty map, and
  * NULL columns through INSERT, COW MERGE, MOR deltas, and time
  * travel; the stats machinery and key guard refuse map columns
  * loudly. */
class MapTypesSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowFiles, RowStore}

  private def entries(key: String) =
    RowStore.readManifest(key, RowStore.currentVersion(key))

  test("map round-trip through insert + COW merge + time travel") {
    val s = spark
    val t = "graft_dml.spec.mt"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, attrs MAP<STRING, BIGINT>) " +
      "PARTITIONED BY (bucket(2, id))")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, map('b', 2L, 'a', 1L)), " + // insertion order b,a — storage sorts
      "(2, map('x', CAST(NULL AS BIGINT))), " + // null VALUE survives
      "(3, map()), " + // empty map ≠ NULL map
      "(4, NULL)")
    val rows = s.sql(s"SELECT id, attrs FROM $t ORDER BY id").collect()
    assert(rows(0).getMap[String, Any](1) == Map("a" -> 1L, "b" -> 2L))
    assert(rows(1).getMap[String, Any](1) == Map("x" -> null))
    assert(rows(2).getMap[String, Any](1) == Map.empty)
    assert(rows(3).isNullAt(1))
    // computed-key lookup over the decoded MapData
    assert(s.sql(s"SELECT element_at(attrs, 'a') FROM $t WHERE id = 1")
      .head().getLong(0) == 1L)

    // COW MERGE extends the map; time travel reads the pre-merge bag
    s.sql(s"""MERGE INTO $t x USING (SELECT 1L AS id) m ON x.id = m.id
      WHEN MATCHED THEN UPDATE SET
        attrs = map_concat(x.attrs, map('c', 3L))""")
    assert(s.sql(s"SELECT attrs FROM $t WHERE id = 1").head()
      .getMap[String, Any](0) == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
    assert(s.sql(s"SELECT attrs FROM $t VERSION AS OF 1 WHERE id = 1")
      .head().getMap[String, Any](0) == Map("a" -> 1L, "b" -> 2L))

    // storage: one parquet BINARY blob per row
    val dir = RowStore.dataDir(t)
    val f = entries(t).filter(_.kind == "base").head.name
    val (_, msg) = RowFiles.footerMeta(s"$dir/$f")
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    assert(msg.getType(Seq("attrs"): _*).asPrimitiveType()
      .getPrimitiveTypeName == PrimitiveTypeName.BINARY)
    s.sql(s"DROP TABLE $t")
  }

  test("canonical entry order: same content in a different order is no churn") {
    val s = spark
    val t = "graft_dml.spec.mtc"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, attrs MAP<STRING, BIGINT>) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t VALUES (1, map('a', 1L, 'b', 2L)), " +
      "(2, map('p', 7L))")
    // rewrite row 1's map with the SAME entries in REVERSED insertion
    // order, and row 2's with genuinely new content
    s.sql(s"""MERGE INTO $t x
      USING (SELECT * FROM VALUES (1L), (2L) AS v(id)) m ON x.id = m.id
      WHEN MATCHED AND x.id = 1 THEN UPDATE SET
        attrs = map('b', 2L, 'a', 1L)
      WHEN MATCHED THEN UPDATE SET attrs = map('q', 9L)""")
    val ch = s.read.option("from", "1").option("to", "2")
      .table(s"$t.changes").selectExpr("id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // row 1's reordered-but-equal map encodes to the same blob — the
    // multiset diff cancels it; only row 2 surfaces (both images)
    assert(!ch.exists(_._1 == 1L), ch.mkString(";"))
    assert(ch.count(_._1 == 2L) == 2, ch.mkString(";"))
    assert(s.sql(s"SELECT element_at(attrs, 'q') FROM $t WHERE id = 2")
      .head().getLong(0) == 9L)
    s.sql(s"DROP TABLE $t")
  }

  test("numeric-key maps round-trip with canonical numeric order") {
    val s = spark
    val t = "graft_dml.spec.mtn"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, w MAP<BIGINT, DOUBLE>)")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, map(10L, 0.5D, 2L, -1.25D, -3L, 0.125D))")
    val m = s.sql(s"SELECT w FROM $t").head().getMap[Long, Double](0)
    assert(m == Map(10L -> 0.5, 2L -> -1.25, -3L -> 0.125))
    s.sql(s"DROP TABLE $t")
  }

  test("OPTIMIZE and sorted rewrite carry map blobs unchanged") {
    val s = spark
    val t = "graft_dml.spec.mto"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, attrs MAP<STRING, BIGINT>) " +
      "PARTITIONED BY (bucket(2, id))")
    // two inserts fragment every group; compaction must rewrite the
    // blobs byte-identically (content checksum pins it)
    for (r <- 0 until 2)
      s.sql(s"INSERT INTO $t SELECT CAST(id AS BIGINT), " +
        s"map('v', id * 10, concat('t_', CAST(id % 3 AS STRING)), id) " +
        s"FROM range(${r * 50}, ${r * 50 + 50})")
    val checksum = () => s.sql(s"""SELECT COUNT(*),
        SUM(aggregate(map_values(attrs), 0L, (a, x) -> a + x)),
        SUM(aggregate(map_keys(attrs), 0L, (a, x) -> a + length(x))),
        SUM(element_at(attrs, 'v'))
      FROM $t""").head()
    val before = checksum()
    s.sql(s"CALL graft_dml.system.rewrite_data_files('spec.mto')")
      .collect()
    assert(checksum() == before)
    s.sql(s"CALL graft_dml.system.rewrite_data_files_sorted(" +
      "'spec.mto', 'id')").collect()
    assert(checksum() == before)
    s.sql(s"DROP TABLE $t")
  }

  test("ADD COLUMN map: files predating the column read NULL") {
    val s = spark
    val t = "graft_dml.spec.mte"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, tag STRING)")
    s.sql(s"INSERT INTO $t VALUES (1, 'old')")
    s.sql(s"ALTER TABLE $t ADD COLUMN attrs MAP<STRING, BIGINT>")
    s.sql(s"INSERT INTO $t VALUES (2, 'new', map('a', 1L))")
    val rows = s.sql(s"SELECT id, attrs FROM $t ORDER BY id").collect()
    assert(rows(0).isNullAt(1)) // pre-evolution file, no rewrite
    assert(rows(1).getMap[String, Any](1) == Map("a" -> 1L))
    s.sql(s"DROP TABLE $t")
  }

  test("map leaf inside a struct flattens and round-trips") {
    val s = spark
    val t = "graft_dml.spec.mts"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, " +
      "props STRUCT<n: BIGINT, bag: MAP<STRING, BIGINT>>)")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('n', 7L, 'bag', map('a', 1L))), " +
      "(2, named_struct('n', 8L, 'bag', CAST(NULL AS MAP<STRING, BIGINT>))), " +
      "(3, NULL)")
    val rows = s.sql(s"SELECT id, props.n, props.bag FROM $t ORDER BY id")
      .collect()
    assert(rows(0).getLong(1) == 7L &&
      rows(0).getMap[String, Any](2) == Map("a" -> 1L))
    assert(rows(1).getLong(1) == 8L && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2)) // NULL struct
    // the struct's map leaf stores as a flat BINARY column "props.bag"
    val dir = sources.RowStore.dataDir(t)
    val f = entries(t).filter(_.kind == "base").head.name
    val (_, msg) = sources.RowFiles.footerMeta(s"$dir/$f")
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    assert(msg.getType(Seq("props.bag"): _*).asPrimitiveType()
      .getPrimitiveTypeName == PrimitiveTypeName.BINARY)
    s.sql(s"DROP TABLE $t")
  }

  test("stats machinery and key guard refuse map columns loudly") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.mtg")
    val e1 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.mtg " +
        "(m MAP<STRING, BIGINT>, id BIGINT)")
    }
    assert(e1.getMessage.contains("implied bucket key"), e1.getMessage)
    val e2 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.mtg " +
        "(id BIGINT, m MAP<STRING, BIGINT>) TBLPROPERTIES ('bloom'='m')")
    }
    assert(e2.getMessage.contains("untrackable"), e2.getMessage)
    // nested map value is unstorable — refuses at DDL time
    val e3 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.mtg " +
        "(id BIGINT, m MAP<STRING, MAP<STRING, BIGINT>>)")
    }
    assert(e3.getMessage.contains("unstorable"), e3.getMessage)
  }
}
