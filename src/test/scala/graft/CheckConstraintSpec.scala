package graft

import org.scalatest.funsuite.AnyFunSuite

/** CHECK constraints (q173) — the halves the query row can't see:
  * DDL-time validation refusals (unknown column, non-boolean,
  * function calls the session-free writer can't evaluate, multi-line),
  * version-unchanged after a refused write, SQL NULL-passes
  * semantics, enforcement on the MOR delta record path, and the
  * ALTER guard (dropping/renaming a constrained column refuses;
  * unrelated evolution passes). */
class CheckConstraintSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.RowStore

  test("DDL validation refuses bad constraints at CREATE") {
    val s = spark
    def createWith(check: String): Unit = {
      s.sql("DROP TABLE IF EXISTS graft_dml.spec.chk_ddl")
      s.sql("CREATE TABLE graft_dml.spec.chk_ddl (k BIGINT, v BIGINT) " +
        s"TBLPROPERTIES ('check'='$check')")
    }
    intercept[Exception] { createWith("nope > 0") }          // unknown col
    intercept[Exception] { createWith("v + 1") }             // non-boolean
    intercept[Exception] { createWith("length(CAST(v AS STRING)) > 1") }
    createWith("v >= 0 AND k > 0") // the supported shape binds fine
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.chk_ddl")
  }

  test("a refused write commits nothing; NULL passes") {
    val s = spark
    val t = "graft_dml.spec.chk_w"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check'='v < 10')")
    s.sql(s"INSERT INTO $t SELECT id, id % 10 FROM range(0, 50)")
    val v1 = lake.currentVersion(t)
    intercept[Exception] {
      s.sql(s"INSERT INTO $t SELECT id, 99 FROM range(0, 5)")
    }
    assert(lake.currentVersion(t) == v1,
      "a refused write must not commit a version")
    assert(s.table(t).count() == 50)
    // SQL CHECK semantics: NULL (unknown) passes, only FALSE violates
    s.sql(s"INSERT INTO $t VALUES (1000L, CAST(NULL AS BIGINT))")
    assert(s.table(t).count() == 51)
  }

  test("decimal literals widen to hold the column, not the literal") {
    val s = spark
    val t = "graft_dml.spec.chk_dec"
    s.sql(s"DROP TABLE IF EXISTS $t")
    // the trap: 99.5 parses as DECIMAL(3,1); casting the BIGINT
    // column to THAT would overflow 100000 to NULL and silently PASS
    // the violating row (NULL passes) — the coercion must widen to a
    // decimal wide enough for the column
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('check'='cents <= 99.5')")
    s.sql(s"INSERT INTO $t VALUES (1L, 50L)") // within bounds
    intercept[Exception] {
      s.sql(s"INSERT INTO $t VALUES (2L, 100000L)")
    }
    assert(s.table(t).count() == 1)
  }

  test("the MOR delta record path enforces too") {
    val s = spark
    val t = "graft_dml.spec.chk_mor"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor', 'check'='v >= 0')")
    s.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 50)")
    val v1 = lake.currentVersion(t)
    intercept[Exception] {
      s.sql(s"UPDATE $t SET v = -1 WHERE k % 9 = 0")
    }
    assert(lake.currentVersion(t) == v1)
    s.sql(s"UPDATE $t SET v = v + 1 WHERE k % 9 = 0") // clean one lands
    assert(s.sql(s"SELECT SUM(v) FROM $t").head().getLong(0) ==
      (0L until 50).sum + 6)
  }

  test("streaming writes enforce the constraint too") {
    val s = spark
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val t = "graft_dml.spec.chk_st"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check'='v < 100')")
    val src = graft.Scratch.dir(s, "graft_chkst_src", "a")
    import s.implicits._
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    def drain(rows: Seq[(Long, Long)], ckptTag: String): Unit = {
      rows.toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(src)
      val ckpt = graft.Scratch.dir(s, "graft_chkst_ckpt", ckptTag)
      graft.Scratch.deleteTree(ckpt)
      val q = s.readStream.schema(sch).parquet(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(t)
      q.awaitTermination()
    }
    drain((0L until 10L).map(i => (i, i)), "ok") // clean batch lands
    assert(s.table(t).count() == 10)
    val e = intercept[Exception] {
      drain(Seq((100L, 500L)), "bad") // violating batch fails the query
    }
    def chain(x: Throwable): Boolean = x != null && (
      (x.getMessage != null && x.getMessage.contains("CHECK constraint"))
        || chain(x.getCause))
    assert(chain(e), e.toString)
    assert(s.table(t).count() == 10, "the failed epoch must commit nothing")
    s.sql(s"DROP TABLE $t")
  }

  test("ALTER refuses breaking a constrained column; else evolves") {
    val s = spark
    val t = "graft_dml.spec.chk_alt"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, note STRING) " +
      "TBLPROPERTIES ('check'='v >= 0')")
    intercept[Exception] { s.sql(s"ALTER TABLE $t DROP COLUMN v") }
    intercept[Exception] { s.sql(s"ALTER TABLE $t RENAME COLUMN v TO w") }
    // unrelated evolution keeps working under the constraint
    s.sql(s"ALTER TABLE $t DROP COLUMN note")
    s.sql(s"ALTER TABLE $t ADD COLUMN extra BIGINT")
    s.sql(s"INSERT INTO $t VALUES (1L, 2L, 3L)")
    assert(s.table(t).count() == 1)
  }
}
