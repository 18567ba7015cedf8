package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-operator smoke + semantic checks over sf0.001 (SURVEY.md §5
  * item 2). Value-level correctness is owned by the DuckDB oracle gate
  * (Verify + oracleSql); these pin the semantics the oracle can't see
  * and that every query at least executes. */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = SparkSuite.sf

  test("every declared query runs and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k),
      s"oracleSql['$k'] has no matching query"))
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedup sketch paths track the exact-jaccard anchor") {
    import org.apache.spark.sql.functions.col
    val exact = SparkEntry.queries("d04_dedup_ngram_jaccard")(spark, sf)
      .filter(col("jac") >= 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // LSH is probabilistic; demand ≥80% recall on this fixture and no
    // false positives below the rescore threshold (rescore is exact).
    assert((exact & minhash).size >= (exact.size * 0.8).toInt)
    assert(minhash.subsetOf(exact))
  }

  test("q113 grid decomposition matches the brute-force radius join") {
    // the 3×3 neighbor-cell equi-join claims completeness: with cell
    // size = radius, NO within-radius pair can escape the
    // neighborhood. Pin it against the O(n²) restatement the operator
    // exists to avoid (cheap at sf0.001's 1500 points).
    import org.apache.spark.sql.functions._
    val grid = SparkEntry.queries("q113_geo_radius_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pts = graft.operators.Geo.pointsForSpec(spark, sf)
    val n = pts.count()
    val c = 25000L / (math.floor(math.sqrt(n.toDouble)).toLong + 1)
    val a = pts.select(col("id").as("a_id"), col("latu").as("la"),
      col("lonu").as("lo"))
    val b = pts.select(col("id").as("b_id"), col("latu").as("lb"),
      col("lonu").as("lob"))
    val brute = a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
      .withColumn("d2", (col("la") - col("lb")) * (col("la") - col("lb")) +
        (col("lo") - col("lob")) * (col("lo") - col("lob")))
      .filter(col("d2") <= c * c)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_within"), min(col("d2")).as("min_d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(grid.nonEmpty && grid == brute)
  }

  test("q48 fixture guard: no per-user gap of exactly 30 minutes at any SF") {
    // q24's lag oracle splits sessions on gap > 30 min; Spark's
    // half-open session_window (q48 shares that oracle) splits at
    // gap >= 30 min. Parity rests on the fixture never hitting the
    // boundary exactly — pin that here so a future fixture change fails
    // loudly as a FIXTURE property, not as a confusing q48 hash
    // mismatch (round-3 advisor).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map("/root/testdata/" + _)
      .filter(new java.io.File(_).exists())
    assert(dirs.nonEmpty, "no fixture dirs found — the pin would be vacuous")
    for (dir <- dirs) {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val boundaryGaps = Tables(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap_us") === 1800000000L)
        .count()
      assert(boundaryGaps == 0L,
        s"$dir has $boundaryGaps exact-30-min per-user gaps: q48's " +
          "session_window (>= boundary) and q24's lag oracle (> boundary) " +
          "would diverge — regenerate or re-verify the fixture")
    }
  }

  test("st28 fixture guard: the MIN watermark policy actually binds") {
    // st28 unions a 10-min-watermarked click stream with a
    // 2-hour-watermarked purchase stream; its value is that the
    // laggard branch HOLDS BACK click windows. Pin the two fixture
    // properties that make that real: (a) the global watermark is the
    // purchase branch's (LEAST binds), and (b) at least one click
    // window sits between the two watermarks — i.e., was genuinely
    // withheld by the union that a click-only query would have emitted.
    import org.apache.spark.sql.functions._
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map("/root/testdata/" + _)
      .filter(new java.io.File(_).exists())
    assert(dirs.nonEmpty, "no fixture dirs found — the pin would be vacuous")
    for (dir <- dirs) {
      val ev = Tables(spark, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val Array(clickMax, purchMax) = Seq("click", "purchase").map { t =>
        ev.filter(col("event_type") === t).agg(max(col("us"))).head().getLong(0)
      }.toArray
      val clickWm = clickMax - 10L * 60 * 1000000
      val purchWm = purchMax - 2L * 3600 * 1000000
      // whichever branch lags binds; the OTHER branch's windows between
      // the two watermarks are the ones the union genuinely withholds
      // (which side binds varies by SF — at sf0.001 the purchase max ts
      // runs >2h past the click max, so the CLICK branch binds)
      assert(clickWm != purchWm,
        s"$dir: branch watermarks coincide — LEAST is vacuous")
      val (heldType, loWm, hiWm) =
        if (purchWm < clickWm) ("click", purchWm, clickWm)
        else ("purchase", clickWm, purchWm)
      val held = ev.filter(col("event_type") === heldType)
        .select((floor(col("us") / 3600000000L) * 3600000000L + 3600000000L)
          .as("wend"))
        .filter(col("wend") > loWm && col("wend") <= hiWm)
        .count()
      // sf0.001's event tail is too sparse to populate the held band
      // (measured: 0 rows) — the coupling contract is pinned at the
      // SFs the driver actually grades (sf0.01 correctness, sf0.1
      // bench)
      if (dir != "/root/testdata/sf0.001") {
        assert(held > 0,
          s"$dir: no $heldType window is held back by the union watermark — " +
            "st28 degenerates to st03")
      }
    }
  }

  test("ANN brute force is the exact top-k baseline") {
    val bf = SparkEntry.queries("s01_ann_bruteforce")(spark, sf).collect()
    assert(bf.length == 15) // 5 queries × k=3
    val byQ = bf.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.sameElements(sims.sortBy(-(_: Double))), "ranks follow cosine desc")
    }
  }

  test("s08 corpus-wide self-join: exact census + recall gate green") {
    val row = SparkEntry.queries("s08_ann_selfjoin")(spark, sf).collect()
    assert(row.length == 1)
    val r = row.head
    // 500 docs × top-3 each: the exact restatement's census is fully
    // determined by the corpus size
    assert(r.getAs[Long]("n_docs") == 500L)
    assert(r.getAs[Long]("n_pairs") == 1500L)
    assert(r.getAs[Boolean]("self_recall_ok"),
      "LSH-routed self-join mean per-doc recall@3 fell below 0.7")
  }

  test("st32 streaming incremental dedup equals batch d15 and really multi-batches") {
    val st = SparkEntry.queries("st32_stream_dedup")(spark, sf).collect()
    assert(st.nonEmpty)
    assert(st.forall(_.getAs[Boolean]("multi_batch")),
      "stream drained in one batch — the incremental path was not exercised")
    val streamed = st.map(_.getAs[Long]("doc_id")).toSet
    val batch = SparkEntry.queries("d15_bloom_membership")(spark, sf)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamed == batch,
      s"stream/batch survivor sets differ: only-stream=${(streamed -- batch).toSeq.sorted.take(5)} " +
        s"only-batch=${(batch -- streamed).toSeq.sorted.take(5)}")
  }

  test("st13 run twice equals st07 both times and keeps one checkpoint tree") {
    def rows(n: String) = SparkEntry.queries(n)(spark, sf).collect().toSeq
    val st07 = rows("st07_rocksdb_dedup")
    assert(st07.nonEmpty)
    assert(rows("st13_changelog_ckpt") == st07)
    assert(rows("st13_changelog_ckpt") == st07)
    val trees = java.nio.file.Paths.get(
      Scratch.dir(spark, "graft_st13_ckpt", "_")).getParent.toFile.list()
    assert(trees.length == 1, trees.mkString(", "))
  }

  test("streaming hourly agg equals its batch equivalent") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("st01_stream_hourly")(spark, sf)
    val batch = Tables(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    assert(streamed.count() == batch.count())
  }

  test("t19 scrub redacts every injected identifier and nothing survives") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("t19_pii_scrub")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the composed enrichment guarantees ≥1 name and ≥1 phone per doc
    // (non-vacuity), and the scrub must leave no match behind
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_names")) >= 1L, r.toString)
      assert(r.getLong(r.fieldIndex("n_phones")) >= 1L, r.toString)
      val clean = r.getString(r.fieldIndex("clean"))
      assert(!clean.matches(".*Customer#[0-9]+.*"), clean.takeRight(80))
      assert(!clean.matches(".*[0-9]{3}-[0-9]{3}-[0-9]{4}.*"),
        clean.takeRight(80))
      assert(clean.contains("<NAME>") && clean.contains("<PHONE>"))
    }
  }
}
