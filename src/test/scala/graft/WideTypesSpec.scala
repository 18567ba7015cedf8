package graft

import org.scalatest.funsuite.AnyFunSuite

/** ARRAY/DOUBLE/FLOAT/BINARY column types in the DML catalog (q164) —
  * the storage-level contract: statless scalars store under native
  * parquet physical types (DOUBLE/FLOAT/BINARY), ARRAY columns store
  * as one deterministic blob per row (RowNested.Arr) and round-trip
  * bit-exactly through INSERT, COW MERGE rewrites, MOR delta records,
  * time travel, and the change feed; stats machinery refuses them
  * loudly (bloom/ndv DDL) instead of recording garbage; the implied
  * first-column key guard refuses ungroupable key types. */
class WideTypesSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.{RowFiles, RowStore}

  private def entries(key: String) =
    lake.readManifest(key, lake.currentVersion(key))

  test("array/double/binary round-trip through insert + COW merge + time travel") {
    val s = spark
    val t = "graft_dml.spec.wt"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, vec ARRAY<FLOAT>, score DOUBLE, " +
      "payload BINARY) PARTITIONED BY (bucket(2, id))")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, array(CAST(0.25 AS FLOAT), CAST(-1.5 AS FLOAT)), 0.125, " +
      "CAST('ab' AS BINARY)), " +
      "(2, array(CAST(3.0 AS FLOAT), NULL), 2.5, CAST('xyz' AS BINARY)), " +
      "(3, NULL, NULL, NULL)")
    // bit-exact read-back, including a NULL element and NULL column
    val rows = s.sql(s"SELECT id, vec, score, payload FROM $t ORDER BY id")
      .collect()
    assert(rows(0).getSeq[Float](1) == Seq(0.25f, -1.5f))
    assert(rows(0).getDouble(2) == 0.125)
    assert(new String(rows(0).getAs[Array[Byte]](3)) == "ab")
    assert(rows(1).getSeq[java.lang.Float](1) == Seq(3.0f, null))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))

    // COW MERGE updates an array column wholesale and element-wise
    s.sql(s"""MERGE INTO $t x USING (SELECT 1L AS id) m ON x.id = m.id
      WHEN MATCHED THEN UPDATE SET
        vec = transform(x.vec, e -> e * CAST(2.0 AS FLOAT)),
        score = x.score + 1.0,
        payload = CAST('zz' AS BINARY)""")
    val r1 = s.sql(s"SELECT vec, score, payload FROM $t WHERE id = 1").head()
    assert(r1.getSeq[Float](0) == Seq(0.5f, -3.0f))
    assert(r1.getDouble(1) == 1.125)
    assert(new String(r1.getAs[Array[Byte]](2)) == "zz")
    // time travel reads the pre-merge array bits
    assert(s.sql(s"SELECT vec FROM $t VERSION AS OF 1 WHERE id = 1")
      .head().getSeq[Float](0) == Seq(0.25f, -1.5f))

    // files store native physical types, arrays as BINARY blobs
    val dir = lake.dataDir(t)
    val f = entries(t).filter(_.kind == "base").head.name
    val (_, msg) = RowFiles.footerMeta(s"$dir/$f")
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    assert(msg.getType(Seq("vec"): _*).asPrimitiveType()
      .getPrimitiveTypeName == PrimitiveTypeName.BINARY)
    assert(msg.getType(Seq("score"): _*).asPrimitiveType()
      .getPrimitiveTypeName == PrimitiveTypeName.DOUBLE)
    s.sql(s"DROP TABLE $t")
  }

  test("MOR delta records and the change feed carry array/binary rows") {
    val s = spark
    val t = "graft_dml.spec.wtm"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, vec ARRAY<FLOAT>, tag STRING) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t VALUES " +
      "(1, array(CAST(1.0 AS FLOAT)), 'a'), " +
      "(2, array(CAST(2.0 AS FLOAT), CAST(2.5 AS FLOAT)), 'b')")
    s.sql(s"""MERGE INTO $t x USING (SELECT 2L AS id) m ON x.id = m.id
      WHEN MATCHED THEN UPDATE SET vec = array(CAST(9.0 AS FLOAT))""")
    // MOR: base files untouched, an update delta carries the blob
    assert(entries(t).exists(_.kind == "delta"))
    assert(s.sql(s"SELECT vec FROM $t WHERE id = 2").head()
      .getSeq[Float](0) == Seq(9.0f))
    // change feed: the update surfaces delete+insert (or pair) whose
    // array values diff by BLOB EQUALITY — identical arrays cancel,
    // the changed row surfaces with both images
    val ch = s.read.option("from", "1").option("to", "2")
      .table(s"$t.changes").selectExpr("id", "vec", "_change").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
    assert(ch.length == 2, ch.mkString(";"))
    assert(ch.exists(c => c._1 == 2L && c._2 == Seq(2.0f, 2.5f) &&
      c._3 == "delete"))
    assert(ch.exists(c => c._1 == 2L && c._2 == Seq(9.0f) &&
      c._3 == "insert"))
    // row 1's identical array cancelled — no spurious churn
    assert(!ch.exists(_._1 == 1L))
    s.sql(s"DROP TABLE $t")
  }

  test("stats machinery and key guard refuse statless types loudly") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.wtg")
    // implied first-column key of array type refuses
    val e1 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.wtg (vec ARRAY<FLOAT>, id BIGINT)")
    }
    assert(e1.getMessage.contains("implied bucket key"), e1.getMessage)
    // bloom/ndv on a statless column refuses at CREATE
    val e2 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.wtg (id BIGINT, score DOUBLE) " +
        "TBLPROPERTIES ('bloom'='score')")
    }
    assert(e2.getMessage.contains("untrackable"), e2.getMessage)
    // unstorable element type refuses at CREATE (DDL time, not write)
    val e3 = intercept[Exception] {
      s.sql("CREATE TABLE graft_dml.spec.wtg " +
        "(id BIGINT, m ARRAY<ARRAY<FLOAT>>)")
    }
    assert(e3.getMessage.contains("unstorable"), e3.getMessage)
  }
}
