package graft.sources

import org.apache.spark.sql.SparkSession

/** RANDOMIZED DIFFERENTIAL DML FUZZING (r15 verdict item 2): the
  * read-plan fuzzer ([[graft.operators.Fuzz]]) proves the query
  * engine; the lake layer — MERGE/UPDATE/DELETE/INSERT/OPTIMIZE over
  * the versioned store, COW and MOR × {record, dv} — is the bulk of
  * rounds 6–15's code and was carried by hand-written specs alone.
  *
  * A seeded PRNG draws a SEQUENCE of DML statements against a fresh
  * `graft_dml` table and replays the same semantics through an
  * INDEPENDENT plain-Scala fold (the model: a bag of (k, v) rows —
  * k is NOT a key; inserts append, updates/deletes hit every matching
  * row, MERGE joins on k with a distinct-key source, OPTIMIZE and
  * rewrite_position_deletes are content-identity maintenance). After
  * EVERY statement the table's content must equal the model's; after
  * the sequence, every recorded version must still read back as the
  * state the model had at that commit (time travel over the whole
  * history — the part a per-statement diff can't see).
  *
  * The grammar is total (every seed yields a valid sequence) and
  * integer-exact, so a divergence is a real engine bug, reproducible
  * by seed number. Two pinned seeds ship as dm01/dm02 rows whose
  * DuckDB oracle is the model's final state rendered as a VALUES
  * literal — the cross-engine hash gate over the same fold. */
object DmlFuzz {
  import graft.operators.Fuzz.Rng

  sealed trait Variant { def props: String; def mor: Boolean }
  case object Cow extends Variant {
    val props = ""; val mor = false
  }
  case object MorRecord extends Variant {
    val props = " TBLPROPERTIES ('format'='mor')"; val mor = true
  }
  case object MorDv extends Variant {
    val props = " TBLPROPERTIES ('format'='mor','deletes'='dv')"
    val mor = true
  }
  val Variants: Seq[Variant] = Seq(Cow, MorRecord, MorDv)

  /** One drawn statement: `sql` is what runs against the table (with
    * `%t` as the table placeholder; empty = a maintenance CALL
    * encoded in `maint`), `fold` is the model transition. */
  final case class Stmt(label: String, sql: String,
    maint: Option[String], fold: Vector[(Long, Long)] => Vector[(Long, Long)])

  /** Row bags compare as sorted sequences (duplicates preserved). */
  def canon(rows: Seq[(Long, Long)]): Seq[(Long, Long)] = rows.sorted

  /** Draw `n` statements for `seed`. Keys stay in 0..39 so every
    * bucket group sees traffic; values are small and only ever moved
    * by integer addition, so both engines and the model are exact. */
  def statements(seed: Long, variant: Variant): Seq[Stmt] = {
    val rng = new Rng(seed * 7919 + Variants.indexOf(variant))
    val n = 4 + rng.nextInt(5)
    (0 until n).map { i =>
      def pred(): (String, ((Long, Long)) => Boolean) =
        rng.nextInt(3) match {
          case 0 =>
            val m = 2 + rng.nextInt(4); val r = rng.nextInt(m)
            (s"k % $m = $r", t => Math.floorMod(t._1, m.toLong) == r)
          case 1 =>
            val c = rng.nextInt(40).toLong
            if (rng.chance(50)) (s"k < $c", t => t._1 < c)
            else (s"k >= $c", t => t._1 >= c)
          case _ =>
            val c = rng.nextInt(400).toLong
            (s"v > $c", t => t._2 > c)
        }
      rng.nextInt(10) match {
        case 0 | 1 | 2 =>
          // INSERT: 1-6 rows, keys may duplicate existing ones (k is
          // not a key; the bag grows)
          val rows = (0 until 1 + rng.nextInt(6)).map(_ =>
            (rng.nextInt(40).toLong, rng.nextInt(400).toLong))
          Stmt(s"insert$i",
            s"INSERT INTO %t VALUES " +
              rows.map(r => s"(${r._1}, ${r._2})").mkString(", "),
            None, bag => bag ++ rows)
        case 3 | 4 =>
          val (ps, pf) = pred()
          val c = 1 + rng.nextInt(9)
          Stmt(s"update$i", s"UPDATE %t SET v = v + $c WHERE $ps",
            None, bag => bag.map(t => if (pf(t)) (t._1, t._2 + c) else t))
        case 5 | 6 =>
          val (ps, pf) = pred()
          Stmt(s"delete$i", s"DELETE FROM %t WHERE $ps",
            None, bag => bag.filterNot(pf))
        case 7 | 8 =>
          // MERGE with a distinct-key source (Spark's cardinality
          // check refuses multi-source-row matches): matched + small
          // v → update; matched otherwise → delete; unmatched →
          // insert. Every arm integer-exact.
          val src = (0 until 2 + rng.nextInt(4)).map(_ =>
            (rng.nextInt(40).toLong, rng.nextInt(400).toLong))
            .distinctBy(_._1)
          val cut = rng.nextInt(400).toLong
          val srcSql = src.map(r => s"SELECT ${r._1} AS k, ${r._2} AS v")
            .mkString(" UNION ALL ")
          val bySrc = src.toMap
          Stmt(s"merge$i",
            s"""MERGE INTO %t t USING ($srcSql) s ON t.k = s.k
               |WHEN MATCHED AND t.v < $cut THEN UPDATE SET v = s.v
               |WHEN MATCHED THEN DELETE
               |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
              .stripMargin,
            None, bag => {
              val present = bag.map(_._1).toSet
              val kept = bag.flatMap { t =>
                bySrc.get(t._1) match {
                  case None => Some(t)
                  case Some(sv) =>
                    if (t._2 < cut) Some((t._1, sv)) else None
                }
              }
              kept ++ src.filterNot(r => present(r._1)).sorted
            })
        case _ =>
          // maintenance: content-identity by contract — OPTIMIZE, or
          // (MOR) fold positional deletes into vectors
          if (variant.mor && rng.chance(50))
            Stmt(s"rpd$i", "", Some("rpd"), identity)
          else Stmt(s"optimize$i", "", Some("compact"), identity)
      }
    }
  }

  /** Run seed `seed` on `variant`: execute each statement, diff the
    * table against the model after every one, record the expected
    * state per committed version, then re-read every recorded version
    * (time travel must replay the exact history). Returns the number
    * of statements run. Throws with the seed, statement, and both
    * sides on any divergence. */
  def run(s: SparkSession, seed: Long, variant: Variant,
      table: String, keep: Boolean = false,
      rowids: Boolean = false): Int = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    // ROW-LINEAGE sweep variant: same grammar, same differential —
    // plus the lineage INVARIANTS after every statement (uniqueness,
    // counter-boundedness, per-statement-kind id-set relations,
    // maintenance id invariance). Content semantics are unchanged by
    // the property, so the model fold needs no lineage awareness.
    val props =
      if (!rowids) variant.props
      else if (variant.props.isEmpty) " TBLPROPERTIES ('rowids'='on')"
      else variant.props.stripSuffix(")") + ",'rowids'='on')"
    s.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT) " +
      s"PARTITIONED BY (bucket(4, k))$props")
    var bag = Vector.empty[(Long, Long)]
    val byVersion = scala.collection.mutable.Buffer.empty[
      (Int, Seq[(Long, Long)])]
    def read(extra: String = ""): Seq[(Long, Long)] =
      s.sql(s"SELECT k, v FROM $table$extra").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def idTriples(): Seq[(Long, Long, Long)] =
      s.sql(s"SELECT k, v, _row_id FROM $table").collect().map { r =>
        assert(!r.isNullAt(2), s"seed $seed/$variant: null _row_id " +
          s"on a committed row (${r.getLong(0)}, ${r.getLong(1)})")
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.toSeq
    var liveIds: Set[Long] = Set.empty
    val stmts = statements(seed, variant)
    stmts.zipWithIndex.foreach { case (st, i) =>
      val preMaint =
        if (rowids && st.maint.isDefined) idTriples().sorted else Seq.empty
      st.maint match {
        case None => s.sql(st.sql.replace("%t", table)).collect()
        case Some("compact") => RowStoreOps.compact(s, table)
        case Some("rpd") => RowStoreOps.rewritePositionDeletes(s, table)
        case Some(other) => sys.error(s"unknown maintenance op $other")
      }
      bag = st.fold(bag)
      val got = canon(read())
      val want = canon(bag)
      assert(got == want,
        s"seed $seed/$variant diverged after statement $i " +
          s"(${st.label}: ${st.sql.replace("%t", table)})\n" +
          s"  table: $got\n  model: $want")
      if (rowids) {
        val triples = idTriples()
        val ids = triples.map(_._3).toSet
        assert(ids.size == triples.size,
          s"seed $seed/$variant ${st.label}: duplicate row ids")
        val next = RowStore.nextRowId(table,
          RowStore.currentVersion(table))
        assert(ids.forall(id => id >= 0 && id < next),
          s"seed $seed/$variant ${st.label}: id outside [0, $next)")
        if (st.maint.isDefined)
          assert(triples.sorted == preMaint,
            s"seed $seed/$variant ${st.label}: maintenance changed " +
              "the (k, v, _row_id) content")
        else if (st.label.startsWith("update"))
          assert(ids == liveIds,
            s"seed $seed/$variant ${st.label}: UPDATE changed the " +
              "live id set")
        else if (st.label.startsWith("delete"))
          assert(ids.subsetOf(liveIds),
            s"seed $seed/$variant ${st.label}: DELETE minted an id")
        else if (st.label.startsWith("insert"))
          assert(liveIds.subsetOf(ids),
            s"seed $seed/$variant ${st.label}: INSERT dropped a " +
              "live id")
        liveIds = ids
      }
      byVersion += ((RowStore.currentVersion(table), want))
    }
    // whole-history re-read: every commit's snapshot must still
    // resolve to the state the model had then
    byVersion.foreach { case (v, want) =>
      val got = canon(read(s" VERSION AS OF $v"))
      assert(got == want,
        s"seed $seed/$variant: VERSION AS OF $v drifted\n" +
          s"  table: $got\n  model: $want")
    }
    if (!keep) { s.sql(s"DROP TABLE $table"); () }
    stmts.size
  }

  /** The model's final state for a seed — the pinned rows' oracle
    * source (computed by the plain-Scala fold, no Spark). */
  def finalState(seed: Long, variant: Variant): Seq[(Long, Long)] =
    canon(statements(seed, variant)
      .foldLeft(Vector.empty[(Long, Long)])((bag, st) => st.fold(bag)))

  /** Pinned seeds promoted to first-class rows: the row drives the
    * REAL engine through the seed's whole DML sequence (with the
    * per-statement differential asserts live) and returns the final
    * table; the DuckDB oracle is the INDEPENDENT model fold's final
    * state as a VALUES literal — a full cross-engine hash gate over
    * the lake layer. One COW and one MOR+dv pin, so both write paths
    * sit under the driver's gate. */
  val Pinned: Seq[(String, Long, Variant)] = Seq(
    ("dm01_dml_fuzz_cow", 11L, Cow),
    ("dm02_dml_fuzz_mordv", 17L, MorDv))

  private def valuesSql(rows: Seq[(Long, Long)]): String = {
    // an empty final state would render the unparseable "(VALUES )" —
    // and an always-empty hash gate checks nothing anyway: refuse at
    // generation so a re-pin to a bag-draining seed fails loudly here
    // instead of as a DuckDB parse error in the driver
    require(rows.nonEmpty,
      "pinned DML-fuzz oracle: the model's final state is empty — " +
        "pick a seed whose sequence leaves rows behind")
    "SELECT CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v FROM " +
      "(VALUES " + rows.map(r => s"(${r._1}, ${r._2})").mkString(", ") +
      ") AS t(k, v)"
  }

  val queries: Map[String, (SparkSession, String)
      => org.apache.spark.sql.DataFrame] =
    graft.GraftSession.prepared(Pinned.map { case (name, seed, variant) =>
      name -> ((s: SparkSession, _: String) => {
        val t = s"graft_dml.fz.$name"
        run(s, seed, variant, t, keep = true)
        s.sql(s"SELECT k, v FROM $t")
      })
    }.toMap)

  val oracles: Map[String, String] =
    Pinned.map { case (name, seed, variant) =>
      name -> valuesSql(finalState(seed, variant))
    }.toMap
}
