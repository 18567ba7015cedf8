package graft

import org.scalatest.funsuite.AnyFunSuite

/** add_files (q156) — the file-level contract: imported entries
  * reference the source files' own absolute paths (zero copies),
  * footer-derived row counts keep COUNT(*) metadata-answered, VACUUM
  * never deletes a file it doesn't own, row-level DML works on the
  * imported (negative) spec through the cross-spec path, and a second
  * import lands under its own spec id. */
class AddFilesSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import graft.sources.{RowFiles, RowStore, RowStoreOps}

  private def entries(key: String) =
    RowStore.readManifest(key, RowStore.currentVersion(key))

  test("import registers external parquet without copying or opening data") {
    val s = spark
    import s.implicits._
    val ext = graft.Scratch.dir(s, "graft_addfiles_spec", "a")
    Seq((100L, 1L), (101L, 2L), (102L, 3L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$ext/p1")
    Seq((200L, 4L), (201L, 5L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$ext/p2")

    s.sql("DROP TABLE IF EXISTS graft_dml.spec.af")
    s.sql("CREATE TABLE graft_dml.spec.af (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    s.sql("INSERT INTO graft_dml.spec.af VALUES (1, 10), (2, 20)")
    val key = "graft_dml.spec.af"
    val dataDir = java.nio.file.Paths.get(RowStore.dataDir(key))
    val preLocal = java.nio.file.Files.list(dataDir).count()

    val (nFiles, nRows) = RowStoreOps.addFiles(key, ext)
    assert(nFiles == 2 && nRows == 5)
    assert(java.nio.file.Files.list(dataDir).count() == preLocal,
      "add_files must copy nothing into the table's own data dir")
    val imported = entries(key).filter(_.spec < 0)
    assert(imported.size == 2 && imported.forall(e =>
      e.name.startsWith("/") && e.rows.isDefined))

    // content reads across native + imported specs
    assert(s.table(key).orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 100L, 101L, 102L, 200L, 201L))
    // COUNT(*) still metadata-answered: footer counts rode the import
    val pre = RowFiles.filesOpened.get()
    assert(s.sql(s"SELECT COUNT(*) FROM $key").head().getLong(0) == 7)
    assert(RowFiles.filesOpened.get() == pre,
      "an imported snapshot's COUNT(*) must stay a manifest fold")

    // a SECOND import gets its own (more negative) spec — group
    // numbers never collide across calls
    Seq((300L, 6L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$ext/p3")
    RowStoreOps.addFiles(key, s"$ext/p3")
    val specs = entries(key).map(_.spec).distinct.sorted
    assert(specs.count(_ < 0) == 2, s"expected two import specs: $specs")
    assert(s.table(key).count() == 8, "2 native + 5 imported + 1 new")

    // cross-spec DML reaches imported rows: delete one imported key;
    // the touched import group's survivors rewrite under the ACTIVE
    // spec, and the SOURCE file stays on disk (referenced, not owned)
    val victimFile = imported.find(_.name.contains("/p1/")).get.name
    s.sql(s"DELETE FROM $key WHERE k = 101")
    assert(s.table(key).filter("k = 101").count() == 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(victimFile)),
      "DML must never delete an imported source file")

    // VACUUM reclaims only owned files: expire all history, imported
    // sources survive on disk
    RowStoreOps.vacuum(key, 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(victimFile)),
      "VACUUM must never delete a file it doesn't own")
    s.sql(s"DROP TABLE $key")
  }

  test("refusals: MOR target, bad directory, incompatible types") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.afm")
    s.sql("CREATE TABLE graft_dml.spec.afm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    val ext = graft.Scratch.dir(s, "graft_addfiles_spec", "b")
    Seq((1L, 1L)).toDF("k", "v").write.mode("overwrite").parquet(ext)
    val e1 = intercept[Exception](
      RowStoreOps.addFiles("graft_dml.spec.afm", ext))
    assert(e1.getMessage.contains("copy-on-write"))

    s.sql("DROP TABLE IF EXISTS graft_dml.spec.afd")
    s.sql("CREATE TABLE graft_dml.spec.afd (k BIGINT, v BIGINT)")
    intercept[Exception](
      RowStoreOps.addFiles("graft_dml.spec.afd", s"$ext/nope"))
    // DOUBLE under a declared BIGINT column must refuse at
    // registration, not crash the first scan
    val bad = graft.Scratch.dir(s, "graft_addfiles_spec", "c")
    Seq((1L, 1.5)).toDF("k", "v").write.mode("overwrite").parquet(bad)
    val e2 = intercept[Exception](
      RowStoreOps.addFiles("graft_dml.spec.afd", bad))
    assert(e2.getMessage.contains("incompatible"))
    // a NESTED physical type must hit the same clean refusal, not a
    // raw ClassCastException out of asPrimitiveType
    val nested = graft.Scratch.dir(s, "graft_addfiles_spec", "d")
    Seq((1L, (2L, 3L))).toDF("k", "v")
      .write.mode("overwrite").parquet(nested)
    val e3 = intercept[Exception](
      RowStoreOps.addFiles("graft_dml.spec.afd", nested))
    assert(e3.getMessage.contains("incompatible"),
      s"nested type should refuse cleanly, got: ${e3.getMessage}")
  }

  test("re-importing an already-registered path refuses loudly") {
    val s = spark
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS graft_dml.spec.afdup")
    s.sql("CREATE TABLE graft_dml.spec.afdup (k BIGINT, v BIGINT)")
    val ext = graft.Scratch.dir(s, "graft_addfiles_spec", "e")
    Seq((1L, 1L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(ext)
    RowStoreOps.addFiles("graft_dml.spec.afdup", ext)
    val before = s.table("graft_dml.spec.afdup").count()
    // Iceberg's check_duplicate_files default: a re-import of the same
    // directory must refuse instead of silently doubling rows
    val e = intercept[Exception](
      RowStoreOps.addFiles("graft_dml.spec.afdup", ext))
    assert(e.getMessage.contains("already registered"))
    assert(s.table("graft_dml.spec.afdup").count() == before)
    s.sql("DROP TABLE graft_dml.spec.afdup")
  }
}
