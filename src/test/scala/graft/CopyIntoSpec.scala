package graft

import org.scalatest.funsuite.AnyFunSuite

/** copy_into (q174) — the halves the query row can't see: the load
  * history survives an OPTIMIZE that rewrites the imported files out
  * of the manifest (a re-run must STILL skip them — "loaded" is a
  * fact about the load, not the current layout), and the MOR refusal
  * is the add_files rule. */
class CopyIntoSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowStore, RowStoreOps}

  test("skip survives OPTIMIZE rewriting the imports") {
    val s = spark
    val t = "graft_dml.spec.cpy1"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    val dir = graft.Scratch.dir(s, "graft_copyinto_spec", "a")
    s.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val (n1, _, _) = RowStoreOps.copyInto(t, dir)
    assert(n1 == 2)
    // a COW DELETE touches both imported files (ids interleave across
    // them) — the rewrite materializes the rows into owned files and
    // drops the absolute references from the manifest
    s.sql(s"DELETE FROM $t WHERE k % 7 = 0")
    val man = RowStore.readManifest(t, RowStore.currentVersion(t))
    assert(!man.exists(_.name.startsWith("/")),
      "fixture must rewrite the imported references")
    // a re-run must STILL skip: the load log, not the manifest, is
    // what remembers
    val (n2, _, sk2) = RowStoreOps.copyInto(t, dir)
    assert(n2 == 0 && sk2 == 2, s"got new=$n2 skipped=$sk2")
    assert(s.table(t).count() == 85)
  }

  test("a crash between manifest commit and log write cannot double-load") {
    val s = spark
    val t = "graft_dml.spec.cpy3"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    val dir = graft.Scratch.dir(s, "graft_copyinto_spec", "c")
    s.range(0, 40).selectExpr("id AS k", "id AS v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    RowStoreOps.copyInto(t, dir)
    // simulate the crash window: the manifest committed but the log
    // write never happened
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      graft.sources.RowStore.dataDir(t)).getParent.resolve("ingest.log"))
    val (n2, _, sk2) = RowStoreOps.copyInto(t, dir)
    assert(n2 == 0 && sk2 == 2,
      s"manifest history must stand in for the lost log: new=$n2")
    assert(s.table(t).count() == 40)
  }

  test("refuses CHECK-constrained targets (imports skip validation)") {
    val s = spark
    val t = "graft_dml.spec.cpy4"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check'='v >= 0')")
    val dir = graft.Scratch.dir(s, "graft_copyinto_spec", "d")
    s.range(0, 10).selectExpr("id AS k", "id AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      RowStoreOps.copyInto(t, dir)
    }
    assert(e.getMessage.contains("CHECK"), e.getMessage)
  }

  test("refuses MOR targets like add_files") {
    val s = spark
    val t = "graft_dml.spec.cpy2"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    val dir = graft.Scratch.dir(s, "graft_copyinto_spec", "b")
    s.range(0, 10).selectExpr("id AS k", "id AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] { RowStoreOps.copyInto(t, dir) }
  }
}
