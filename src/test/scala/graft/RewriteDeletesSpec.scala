package graft

import org.scalatest.funsuite.AnyFunSuite

/** rewrite_position_deletes (q165) — the storage half the query row
  * can't see: base files are never opened or renamed, positional
  * DeleteOp records vanish from the head's delta files, each touched
  * target ends with EXACTLY ONE terminal vector (existing vectors
  * union-merged), insert-bearing delta files are left intact (rid
  * minting), eq-delete records survive as records, and every read —
  * head and time travel — is observationally unchanged. */
class RewriteDeletesSpec extends AnyFunSuite {
  private def lake = SparkSuite.lake

  lazy val spark = SparkSuite.spark
  import graft.sources.{RowFiles, RowResolve, RowStore, RowStoreOps}

  private def entries(key: String) =
    lake.readManifest(key, lake.currentVersion(key))

  private def opsOf(key: String, leaf: String): Seq[Int] = {
    val dir = lake.dataDir(key)
    RowFiles.readRows(s"$dir/$leaf", RowResolve.DeltaMetaFields.take(1))
      .map(_(0).asInstanceOf[java.lang.Integer].intValue).toSeq
  }

  test("folds deletes to one terminal DV per file; bases untouched; reads invariant") {
    val s = spark
    val t = "graft_dml.spec.rpd"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 200)")
    s.sql(s"DELETE FROM $t WHERE k % 9 = 0")
    s.sql(s"UPDATE $t SET v = v + 1 WHERE k % 4 = 0")
    s.sql(s"DELETE FROM $t WHERE k % 7 = 0")
    // a MERGE mixing UPDATE and DELETE ops writes BOTH into one delta
    // file per touched group — the shape that exercises the
    // filtered-replacement path (statement-pure files are either
    // dropped whole or left intact). The split is on k % 3, not
    // parity: the bucket hash routes even/odd k to disjoint groups
    // here, and a parity split would keep every file statement-pure
    s.sql(s"""MERGE INTO $t x
      USING (SELECT id AS k FROM range(0, 200) WHERE id % 11 = 0) m
      ON x.k = m.k
      WHEN MATCHED AND x.k % 3 = 0 THEN UPDATE SET v = x.v + 100
      WHEN MATCHED THEN DELETE""")
    val pre = entries(t)
    val preBase = pre.filter(_.kind == "base").map(_.name).toSet
    val preContent = s.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    val (folded, dvsN, dropped) = RowStoreOps.rewritePositionDeletes(s, t)
    assert(folded > 0 && dropped >= 2, s"folded=$folded dropped=$dropped")

    val post = entries(t)
    // base identity preserved
    assert(post.filter(_.kind == "base").map(_.name).toSet == preBase)
    // exactly one vector per target, terminal in the manifest
    val dvs = post.filter(_.kind == "dv")
    assert(dvs.nonEmpty && dvs.size == dvsN)
    assert(dvs.map(_.dvTarget.get).distinct.size == dvs.size)
    assert(post.takeRight(dvs.size).forall(_.kind == "dv"),
      "merged vectors must land terminal")
    // no DeleteOp record survives in any retained delta file; the
    // update records do survive
    val deltaOps = post.filter(_.kind == "delta")
      .flatMap(e => opsOf(t, e.name))
    assert(!deltaOps.contains(RowResolve.DeleteOp), deltaOps.toString)
    assert(deltaOps.contains(RowResolve.UpdateOp))
    // replacement entries record the SURVIVING row count (the .files
    // audit surface — a stale pre-filter count misreports the op)
    post.filter(e => e.kind == "delta" && e.name.contains("-pd-"))
      .foreach { e =>
        assert(e.rows.contains(opsOf(t, e.name).length.toLong),
          s"${e.name}: manifest rows=${e.rows} vs actual " +
            s"${opsOf(t, e.name).length}")
      }
    assert(post.exists(e => e.kind == "delta" && e.name.contains("-pd-")),
      "fixture must produce at least one filtered replacement file")
    // read invariant at the head...
    val postContent = s.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(postContent == preContent)
    // ...and via time travel to the pre-fold version
    val pv = lake.currentVersion(t) - 1
    assert(s.sql(s"SELECT k, v FROM $t VERSION AS OF $pv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == preContent)
    // idempotent: nothing left to fold
    assert(RowStoreOps.rewritePositionDeletes(s, t)._1 == 0L)
    s.sql(s"DROP TABLE $t")
  }

  test("insert-bearing delta files stay intact; eq-deletes survive as records") {
    val s = spark
    val t = "graft_dml.spec.rpdm"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor')")
    s.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 50)")
    // one MERGE that both deletes AND inserts → its delta files mint
    // rids and must be left intact
    s.sql(s"""MERGE INTO $t x USING (
        SELECT id AS k FROM range(0, 60) WHERE id % 5 = 0) m
      ON x.k = m.k
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (m.k, m.k * 100)""")
    // an eq-delete (key-scoped, NOT confluent — must survive)
    RowStoreOps.equalityDelete(s, t, s.range(7, 8).toDF("kv"))
    // and one pure positional delete commit to give the op real work
    s.sql(s"DELETE FROM $t WHERE k % 11 = 3")
    val preContent = s.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val preDeltas = entries(t).filter(_.kind == "delta").map(_.name)

    val (folded, _, _) = RowStoreOps.rewritePositionDeletes(s, t)
    assert(folded > 0)
    val post = entries(t)
    // the merge's insert-bearing files are byte-identical entries
    val postDeltas = post.filter(_.kind == "delta").map(_.name)
    val kept = preDeltas.filter(postDeltas.contains)
    assert(kept.exists(n => opsOf(t, n).contains(RowResolve.InsertOp)),
      "insert-bearing delta file must survive verbatim")
    // eq-delete records survive somewhere in the retained deltas
    assert(postDeltas.flatMap(n => opsOf(t, n))
      .contains(RowResolve.EqDeleteOp))
    assert(s.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == preContent)
    s.sql(s"DROP TABLE $t")
  }

  test("dv-mode table: no records to fold, vectors already one-per-file") {
    val s = spark
    val t = "graft_dml.spec.rpdv"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('format'='mor','deletes'='dv')")
    s.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 40)")
    s.sql(s"DELETE FROM $t WHERE k % 3 = 0")
    s.sql(s"DELETE FROM $t WHERE k % 5 = 0")
    val preDv = entries(t).filter(_.kind == "dv").map(_.name).toSet
    val (folded, dvsN, dropped) = RowStoreOps.rewritePositionDeletes(s, t)
    // deletes already live as (commit-time union-merged) vectors:
    // nothing to fold, the existing vectors stand
    assert(folded == 0L && dropped == 0)
    assert(entries(t).filter(_.kind == "dv").map(_.name).toSet == preDv)
    assert(dvsN == preDv.size)
    s.sql(s"DROP TABLE $t")
  }

  test("COW table and blank sorted-rewrite spec refuse loudly") {
    val s = spark
    val t = "graft_dml.spec.rpdc"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1, 1)")
    val e1 = intercept[Exception] {
      RowStoreOps.rewritePositionDeletes(s, t)
    }
    assert(e1.getMessage.contains("merge-on-read"), e1.getMessage)
    // ADVICE round-13: an empty sort spec must not silently degrade
    // to the plain bin-pack
    val e2 = intercept[Exception] {
      s.sql("CALL graft_dml.system.rewrite_data_files_sorted" +
        "('spec.rpdc', ' ')").collect()
    }
    assert(e2.getMessage.contains("sort_col"), e2.getMessage)
    s.sql(s"DROP TABLE $t")
  }
}
