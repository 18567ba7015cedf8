package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RowStore

/** Two [[graft.sources.GraftCatalog]]s registered in one session on two
  * `warehouse` directories are two lakes: each catalog's tables live
  * only under its own warehouse, and a commit held inside one lake's
  * publish does not hold up a commit to the other — the commit lock,
  * caches and hooks belong to the lake, not to the JVM. */
class LakeIsolationSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def rows(table: String): Seq[(Long, Long)] =
    spark.table(table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("two catalogs on two warehouses share no directory and no commit lock") {
    val names = Seq("lake_a", "lake_b")
    val dirs = names.map(n =>
      n -> Files.createTempDirectory(s"graft-$n").toString).toMap
    names.foreach { n =>
      spark.conf.set(s"spark.sql.catalog.$n", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$n.warehouse", dirs(n))
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      names.foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n.ns.t")
        spark.sql(s"CREATE TABLE $n.ns.t (k BIGINT, v BIGINT)")
        spark.sql(s"INSERT INTO $n.ns.t VALUES (1, 10), (2, 20)")
      }
      // 1. each catalog's tables exist only under its own warehouse
      val scratch = Scratch.dir(spark, "graft_rowcat", "tables")
      for (n <- names; (m, d) <- dirs + ("default" -> scratch)) {
        val dir = Paths.get(d, s"$n.ns.t")
        assert(Files.isDirectory(dir) == (m == n),
          s"$n.ns.t under $m's root $d: ${Files.isDirectory(dir)}")
      }
      assert(RowStore.of(spark, "lake_a").root == dirs("lake_a"))

      // 2. lake_a's publish is held; lake_b commits meanwhile
      val lakeA = RowStore.of(spark, "lake_a")
      val held = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      lakeA.prePublishHook = () => {
        held.countDown()
        release.await(5, TimeUnit.MINUTES); ()
      }
      try {
        val a = pool.submit(() => spark.sql("INSERT INTO lake_a.ns.t VALUES (3, 30)"))
        assert(held.await(2, TimeUnit.MINUTES),
          "lake_a's commit never reached its publish")
        val b = pool.submit(() => spark.sql("INSERT INTO lake_b.ns.t VALUES (3, 300)"))
        b.get(60, TimeUnit.SECONDS)
        assert(!a.isDone, "lake_a's commit must still be held")
        // 3. release: both commits land, each in its own lake
        release.countDown()
        a.get(2, TimeUnit.MINUTES)
      } finally {
        release.countDown()
        lakeA.prePublishHook = () => ()
      }
      assert(rows("lake_a.ns.t") == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      assert(rows("lake_b.ns.t") == Seq((1L, 10L), (2L, 20L), (3L, 300L)))
      for (n <- names)
        assert(RowStore.of(spark, n).versions(s"$n.ns.t") == Seq(0, 1, 2))
    } finally {
      pool.shutdownNow()
      names.foreach { n =>
        spark.conf.unset(s"spark.sql.catalog.$n")
        spark.conf.unset(s"spark.sql.catalog.$n.warehouse")
        Scratch.deleteTree(dirs(n))
      }
    }
  }
}
