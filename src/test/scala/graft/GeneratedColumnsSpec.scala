package graft

import org.scalatest.funsuite.AnyFunSuite

/** GENERATED COLUMNS (q180, TBLPROPERTIES('generated'='col: expr')) —
  * Delta's GENERATED ALWAYS AS contract: fill on omitted/NULL input,
  * refuse a divergent explicit value, REFRESH when an UPDATE changes
  * a source column (COW and MOR), route group placement by a
  * generated partition column, and refuse at DDL anything that would
  * break the binding. */
class GeneratedColumnsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.RowStoreOps

  private def rows(t: String): Seq[(Long, Long, Long)] =
    spark.sql(s"SELECT k, cents, b FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("fill, explicit match, explicit mismatch, update refresh (cow)") {
    val s = spark
    val t = "graft_dml.spec.gen_cow"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('generated'='b: cents - (cents % 100)')")
    // omitted → filled
    s.sql(s"INSERT INTO $t (k, cents) VALUES (1, 123), (2, 2345)")
    assert(rows(t) == Seq((1L, 123L, 100L), (2L, 2345L, 2300L)))
    // explicit matching value → accepted
    s.sql(s"INSERT INTO $t VALUES (3, 999, 900)")
    assert(rows(t).find(_._1 == 3L).get == ((3L, 999L, 900L)))
    // explicit DIVERGENT value → the statement refuses, nothing lands
    val e = intercept[Exception] {
      s.sql(s"INSERT INTO $t VALUES (4, 999, 777)")
    }
    assert(e.getMessage != null)
    assert(rows(t).size == 3, "refused insert must not land")
    // UPDATE changing the SOURCE refreshes the generated value
    s.sql(s"UPDATE $t SET cents = cents + 100 WHERE k = 1")
    assert(rows(t).find(_._1 == 1L).get == ((1L, 223L, 200L)))
    // and a MERGE's matched update refreshes too; its not-matched
    // insert fills the omitted column
    s.sql(s"MERGE INTO $t x USING (SELECT 2L AS mk, 5000L AS mc " +
      "UNION ALL SELECT 9L, 8888L) m ON x.k = m.mk " +
      "WHEN MATCHED THEN UPDATE SET cents = m.mc " +
      "WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (m.mk, m.mc)")
    assert(rows(t).find(_._1 == 2L).get == ((2L, 5000L, 5000L)))
    assert(rows(t).find(_._1 == 9L).get == ((9L, 8888L, 8800L)))
    // a MERGE's not-matched insert with an explicit DIVERGENT value
    // refuses like a plain INSERT (merge-inserts arrive on the strict
    // one-arg write path, not the engine's metadata path — pinned so
    // a Spark plumbing change cannot silently relax the contract)
    intercept[Exception] {
      s.sql(s"MERGE INTO $t x USING (SELECT 77L AS mk, 250L AS mc) m " +
        "ON x.k = m.mk WHEN NOT MATCHED THEN " +
        "INSERT (k, cents, b) VALUES (m.mk, m.mc, 999)")
    }
    assert(!rows(t).exists(_._1 == 77L), "refused merge-insert landed")
    // OPTIMIZE recomputes identically — content invariant
    val before = rows(t)
    RowStoreOps.compact(s, t)
    assert(rows(t) == before)
    s.sql(s"DROP TABLE $t")
  }

  test("mor: record-path fill and update refresh") {
    val s = spark
    val t = "graft_dml.spec.gen_mor"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('format'='mor'," +
      "'generated'='b: cents - (cents % 100)')")
    s.sql(s"INSERT INTO $t (k, cents) VALUES (1, 150), (2, 250)")
    s.sql(s"UPDATE $t SET cents = cents + 75 WHERE k = 2")
    assert(rows(t) == Seq((1L, 150L, 100L), (2L, 325L, 300L)))
    // delta-record MERGE insert fills
    s.sql(s"MERGE INTO $t x USING (SELECT 5L AS mk, 678L AS mc) m " +
      "ON x.k = m.mk " +
      "WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (m.mk, m.mc)")
    assert(rows(t).find(_._1 == 5L).get == ((5L, 678L, 600L)))
    s.sql(s"DROP TABLE $t")
  }

  test("generated partition column routes the group layout") {
    val s = spark
    import graft.sources.RowStore
    val t = "graft_dml.spec.gen_part"
    s.sql(s"DROP TABLE IF EXISTS $t")
    // Delta's generated partition column: the declared bucket key IS
    // generated; routing runs after the fill
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, b)) " +
      "TBLPROPERTIES ('generated'='b: cents % 4')")
    s.sql(s"INSERT INTO $t (k, cents) SELECT id, id * 7 FROM range(40)")
    val man = RowStore.readManifest(t, RowStore.currentVersion(t))
    assert(man.map(_.group).distinct.size == 4,
      "computed values must spread the declared bucket space")
    // every row sits in the group its COMPUTED value hashes to
    val mis = s.sql(s"SELECT COUNT(*) FROM $t " +
      s"WHERE _group != graft_dml.system.bucket(4, b)").head().getLong(0)
    assert(mis == 0, s"$mis rows routed against the generated key")
    s.sql(s"DROP TABLE $t")
  }

  test("streaming append fills; check constraint sees computed value") {
    val s = spark
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = "graft_dml.spec.gen_st"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('generated'='b: cents - (cents % 100)'," +
      "'check'='b >= 0')")
    val src = graft.Scratch.dir(s, "graft_gen_src", "a")
    import s.implicits._
    (0 until 6).map(i => (i.toLong, 100L + i))
      .toDF("k", "cents").write.mode("overwrite").parquet(src)
    val ckpt = graft.Scratch.dir(s, "graft_gen_ckpt", "a")
    graft.Scratch.deleteTree(ckpt)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("cents", LongType)))
    val q = s.readStream.schema(sch).parquet(src)
      .selectExpr("k", "cents", "CAST(NULL AS BIGINT) AS b")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    assert(rows(t).forall(r => r._3 == r._2 - (r._2 % 100)))
    assert(rows(t).size == 6)
    // the CHECK runs on the FILLED row: a cents making b negative is
    // impossible here, but a violating write must still abort — drive
    // it through the batch path
    intercept[Exception] {
      s.sql(s"INSERT INTO $t (k, cents) VALUES (99, -500)")
    }
    assert(rows(t).size == 6)
    s.sql(s"DROP TABLE $t")
  }

  test("ddl refusals: binding, type, chains, evolution guards") {
    val s = spark
    def refuse(sql: String): Unit = { intercept[Exception](s.sql(sql)); () }
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.gen_bad")
    // unknown source column
    refuse("CREATE TABLE graft_dml.spec.gen_bad (k BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('generated'='b: missing + 1')")
    // type mismatch (needs explicit cast)
    refuse("CREATE TABLE graft_dml.spec.gen_bad (k BIGINT, b INT) " +
      "TBLPROPERTIES ('generated'='b: k + 1')")
    // self-reference / chains
    refuse("CREATE TABLE graft_dml.spec.gen_bad (k BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('generated'='b: b + 1')")
    refuse("CREATE TABLE graft_dml.spec.gen_bad " +
      "(k BIGINT, a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('generated'='a: k + 1; b: a + 1')")
    // unknown generated column name
    refuse("CREATE TABLE graft_dml.spec.gen_bad (k BIGINT) " +
      "TBLPROPERTIES ('generated'='nope: k + 1')")
    // evolution guard: dropping/renaming a SOURCE column refuses
    val t = "graft_dml.spec.gen_evo"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('generated'='b: cents - (cents % 100)')")
    refuse(s"ALTER TABLE $t DROP COLUMN cents")
    refuse(s"ALTER TABLE $t RENAME COLUMN cents TO money")
    // an unrelated evolution stays allowed
    s.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    s.sql(s"DROP TABLE $t")
  }
}
