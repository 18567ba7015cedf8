package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RowStore, RowStoreOps}

/** Every single-table version is published by [[RowStore.commit]],
  * and every multi-table one (publish_branches, a transaction commit)
  * by [[RowStore.commitTables]]: statements and procedures outside the
  * SQL write path run the same two commit hooks once per version they
  * publish, a publish that keeps losing gives up after
  * [[RowStore.MaxCommitAttempts]] attempts, and no other source file
  * invokes the hooks or stages and links a manifest itself. Table
  * metadata lives only in the published versions: a CREATE or ALTER
  * whose publish is lost leaves no trace of its metadata. */
class CommitPathSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark

  /** Runs `body` with both hooks counting; returns (preCommit,
    * prePublish) calls. */
  private def counted(body: => Unit): (Int, Int) = {
    val pre = new AtomicInteger(0)
    val pub = new AtomicInteger(0)
    lake.preCommitHook = () => { pre.incrementAndGet(); () }
    lake.prePublishHook = () => { pub.incrementAndGet(); () }
    try body
    finally {
      lake.preCommitHook = () => ()
      lake.prePublishHook = () => ()
    }
    (pre.get(), pub.get())
  }

  test("ALTER, rollback, add_files, eq-delete, truncate and a streaming write each publish once through the hooks") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val t = "graft_dml.spec.cpath"
    val m = "graft_dml.spec.cpath_mor"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"DROP TABLE IF EXISTS $m")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    s.sql(s"CREATE TABLE $m (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $m VALUES (1, 10), (2, 20), (3, 30)")
    val src = Scratch.dir(s, "graft_cpath_src", "a")
    val ext = Scratch.dir(s, "graft_cpath_ext", "a")
    val ckpt = Scratch.dir(s, "graft_cpath_ckpt", "a")
    Scratch.deleteTree(ckpt)
    Seq((5L, 50L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(src)
    Seq((100L, 1L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(ext)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))

    def once(table: String, what: String)(op: => Unit): Unit = {
      val before = lake.currentVersion(table)
      val (pre, pub) = counted(op)
      assert(lake.currentVersion(table) == before + 1,
        s"$what must publish exactly one version")
      assert((pre, pub) == ((1, 1)),
        s"$what: preCommit/prePublish calls = ($pre, $pub), want (1, 1)")
    }
    once(t, "streaming write") {
      s.readStream.schema(sch).parquet(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(t).awaitTermination()
    }
    once(t, "add_files") { RowStoreOps.addFiles(t, ext); () }
    assert(s.table(t).count() == 4)
    once(t, "rollback") { RowStoreOps.rollback(t, 1); () }
    assert(s.table(t).orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))
    once(t, "ALTER") { s.sql(s"ALTER TABLE $t ADD COLUMNS (w BIGINT)"); () }
    once(t, "truncate") { s.sql(s"DELETE FROM $t"); () }
    assert(s.table(t).count() == 0)
    once(m, "equality delete") {
      RowStoreOps.equalityDelete(s, m, Seq(2L).toDF("k")); ()
    }
    assert(s.table(m).orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
    s.sql(s"DROP TABLE $t")
    s.sql(s"DROP TABLE $m")
  }

  test("a publish that always loses gives up after the attempt bound") {
    val s = spark
    val t = "graft_dml.spec.cpath_lose"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val before = lake.versions(t)
    val saved = lake.publisher
    lake.publisher = new RowStore.ManifestPublisher {
      def publishIfAbsent(target: Path, staged: Path): Unit = {
        Files.deleteIfExists(staged)
        throw new java.nio.file.FileAlreadyExistsException(target.toString)
      }
    }
    val (_, pub) =
      try counted {
        intercept[RowStore.CommitConflictException] {
          RowStoreOps.rollback(t, 0)
        }
        ()
      } finally lake.publisher = saved
    assert(pub == RowStore.MaxCommitAttempts,
      s"one prePublish call per attempt, saw $pub")
    assert(lake.versions(t) == before, "nothing may publish")
    s.sql(s"DROP TABLE $t")
  }

  /** A publisher that loses every publish, as if another process
    * always won the version first. */
  private val alwaysLoses = new RowStore.ManifestPublisher {
    def publishIfAbsent(target: Path, staged: Path): Unit = {
      Files.deleteIfExists(staged)
      throw new java.nio.file.FileAlreadyExistsException(target.toString)
    }
  }

  private def losing[T](body: => T): T = {
    val saved = lake.publisher
    lake.publisher = alwaysLoses
    try body finally lake.publisher = saved
  }

  test("a lost CREATE leaves the name free") {
    val s = spark
    val t = "graft_dml.spec.cpath_lost_create"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val ddl = s"CREATE TABLE $t (k BIGINT, v BIGINT)"
    losing { intercept[Exception] { s.sql(ddl) } }
    assert(!lake.exists(t), "a CREATE that never published is no table")
    val shown = s.sql("SHOW TABLES IN graft_dml.spec").collect()
      .map(_.getAs[String]("tableName")).toSeq
    assert(!shown.contains("cpath_lost_create"), s"SHOW TABLES: $shown")
    s.sql(ddl)
    assert(lake.versions(t) == Seq(0))
    assert(s.table(t).schema.fieldNames.toSeq == Seq("k", "v"))
    s.sql(s"DROP TABLE $t")
  }

  test("an ALTER that gives up leaves the metadata at the head version's") {
    val s = spark
    val t = "graft_dml.spec.cpath_lost_alter"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val before = lake.versions(t)
    losing {
      intercept[RowStore.CommitConflictException] {
        s.sql(s"ALTER TABLE $t ADD COLUMNS (w BIGINT)")
      }
    }
    assert(lake.versions(t) == before, "nothing may publish")
    val head = lake.versionMeta(t, lake.currentVersion(t))
    assert(lake.readMeta(t) == head)
    assert(head.schema.fieldNames.toSeq == Seq("k", "v"))
    s.sql(s"DROP TABLE $t")
  }

  test("table metadata round-trips through the manifest header") {
    import org.apache.spark.sql.types._
    val s = spark
    val t = "graft_dml.spec.cpath_meta"
    s.sql(s"DROP TABLE IF EXISTS $t")
    // every field off its default; CHECK and generated text hold '='
    // and a tab, which the line-oriented header must carry verbatim
    val m = RowStore.Meta(
      schema = StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("cents", LongType),
        StructField("s", StructType(Seq(StructField("f", StringType)))),
        StructField("d", DecimalType(12, 2)))),
      numGroups = 8, mor = true, bucketCol = "k",
      dropped = Seq("old", "s.g"), transform = "truncate", tparam = 1000L,
      specId = 3, renames = Map("cents" -> "amount", "s.f" -> "s.h"),
      bloomCols = Seq("k", "s.f"), dv = true, ndvCols = Seq("cents"),
      check = "k = 1\tOR cents >= 0", rowids = true,
      gen = "d: CAST(cents AS DECIMAL(12, 2)) =\t1")
    lake.create(t, m)
    assert(lake.readMeta(t) == m)
    lake.drop(t)
  }

  test("a manifest without a metadata header is refused by name") {
    val s = spark
    val t = "graft_dml.spec.cpath_oldfmt"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT)")
    // a manifest in the earlier layout: metadata lived in a separate
    // file, so the header has no #meta lines
    val v0 = Paths.get(lake.dataDir(t)).getParent.resolve("v0.manifest")
    Files.write(v0, Files.readAllLines(v0).asScala
      .filterNot(_.startsWith("#meta\t")).asJava)
    val e = intercept[IllegalArgumentException](lake.readMeta(t))
    assert(e.getMessage.contains("no #meta header"), e.getMessage)
    assert(e.getMessage.contains("older format"), e.getMessage)
    lake.drop(t)
  }

  test("publish_branches and a transaction commit publish each table once through the hooks") {
    val s = spark
    val (a, b) = ("graft_dml.spec.cpath_ma", "graft_dml.spec.cpath_mb")
    for (t <- Seq(a, b)) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
      s.sql(s"INSERT INTO $t VALUES (1, 10)")
    }
    // each table gains exactly one version, with one preCommit call
    // for the whole publish and one prePublish call per table
    def oncePerTable(what: String, tables: Seq[String])(op: => Unit): Unit = {
      val before = tables.map(lake.currentVersion)
      val (pre, pub) = counted(op)
      assert(tables.map(lake.currentVersion) == before.map(_ + 1),
        s"$what must publish exactly one version per table")
      assert((pre, pub) == ((1, tables.size)),
        s"$what: preCommit/prePublish calls = ($pre, $pub)")
    }
    for (t <- Seq(a, b))
      s.range(2, 3).selectExpr("id AS k", "id * 10 AS v").writeTo(t)
        .option("branch", "audit").append()
    oncePerTable("publish_branches", Seq(a, b)) {
      RowStoreOps.publishBranches(Seq(a -> "audit", b -> "audit")); ()
    }
    val txn = graft.sources.Transact.begin(lake, Seq(a, b))
    for (t <- Seq(a, b))
      s.sql(s"INSERT INTO ${graft.sources.Transact.cloneKey(t, txn.id)} " +
        "VALUES (3, 30)")
    oncePerTable("commit_transaction", Seq(a, b)) {
      graft.sources.Transact.commit(lake, txn.id); ()
    }
    for (t <- Seq(a, b)) {
      assert(s.table(t).orderBy("k").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 3L), s"content of $t")
      s.sql(s"DROP TABLE $t")
    }
  }

  test("a deletion-vector entry without its row count or target is refused") {
    val s = spark
    val t = "graft_dml.spec.cpath_dvline"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT)")
    val v0 = Paths.get(lake.dataDir(t)).getParent.resolve("v0.manifest")
    // a vector entry naming its target but not its popcount
    Files.write(v0, (Files.readAllLines(v0).asScala :+
      "dv\t0\tdv0-x.bin\tDpart-0.parquet").asJava)
    val e = intercept[IllegalArgumentException](lake.readManifest(t, 0))
    assert(e.getMessage.contains("corrupt manifest line"), e.getMessage)
    lake.drop(t)
  }

  test("only RowStore runs the commit hooks") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "RowStore.scala").toSeq
    assert(files.size > 50)
    val hits = for {
      p: Path <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      h <- Seq("preCommitHook()", "prePublishHook()", "stageManifest(",
        "publishStaged(") if line.contains(h)
    } yield s"$p:${i + 1}: $h"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
