package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RowStore

/** The object-store commit seam (r15 verdict item 5): the commit
  * protocol is stage → conditional-publish → read-head, with all
  * storage-specific atomicity confined to
  * [[RowStore.ManifestPublisher]]. This spec proves the seam is real
  * by running the engine's DML lifecycle through a SECOND
  * implementation — [[RowStore.CasPublisher]], the in-memory model of
  * an object store's conditional PUT (S3 `If-None-Match: *`) — and
  * pins the conditional semantics both instances must provide:
  * exactly one winner per version, losers loudly conflicted, staged
  * temps consumed either way. */
class CommitSeamSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  test("full DML lifecycle publishes through the conditional-PUT impl") {
    val s = SparkSuite.spark
    val t = "graft_dml.seam.a"
    s.sql(s"DROP TABLE IF EXISTS $t")
    lake.publisher = new RowStore.CasPublisher
    try {
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('format'='mor','deletes'='dv')")
      s.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)")
      s.sql(s"UPDATE $t SET v = v + 1 WHERE k = 2")
      s.sql(s"DELETE FROM $t WHERE k = 3")
      assert(s.table(t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 10L), (2L, 21L)),
        "every commit of the lifecycle must have published through " +
          "the CAS seam")
      assert(lake.currentVersion(t) == 3)
    } finally {
      lake.publisher = RowStore.HardLinkPublisher
      s.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("exactly one winner per version; losers conflict loudly") {
    val s = SparkSuite.spark
    val t = "graft_dml.seam.b"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 10)")
    val key = t
    val entries = lake.readManifest(key, lake.currentVersion(key))
    val meta = lake.readMeta(key)
    for (publisher <- Seq[RowStore.ManifestPublisher](
        RowStore.HardLinkPublisher, new RowStore.CasPublisher)) {
      lake.publisher = publisher
      try {
        // each round publishes a FRESH version number (no file
        // deletion between rounds — a deleted-then-reread version
        // would serve the first round's manifest CACHE and make the
        // second round's content assertion vacuous)
        val v = lake.currentVersion(key) + 1
        // two writers stage the same next version, then race the
        // publish from two threads: the seam's contract is exactly
        // one success and one CommitConflictException — on EITHER
        // implementation
        val s1 = lake.stageManifest(key, v, meta, entries)
        val s2 = lake.stageManifest(key, v, meta, entries)
        assert(s1 != s2, "staging must be private per writer")
        val outcomes =
          new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val threads = Seq(s1, s2).map(st => new Thread(() =>
          try { lake.publishStaged(key, v, st); outcomes.add("ok") }
          catch {
            case _: RowStore.CommitConflictException =>
              outcomes.add("conflict")
          }))
        threads.foreach(_.start()); threads.foreach(_.join())
        val sorted = {
          import scala.jdk.CollectionConverters._
          outcomes.iterator().asScala.toSeq.sorted
        }
        assert(sorted == Seq("conflict", "ok"),
          s"${publisher.getClass.getSimpleName}: $sorted")
        // both staged temps are consumed, the published head reads
        assert(!java.nio.file.Files.exists(s1) &&
          !java.nio.file.Files.exists(s2),
          "publish must consume the staged temp on both paths")
        assert(lake.readManifest(key, v) == entries,
          s"${publisher.getClass.getSimpleName}: published v$v must " +
            "read back as the staged content")
      } finally lake.publisher = RowStore.HardLinkPublisher
    }
    s.sql(s"DROP TABLE IF EXISTS $t")
  }
}
