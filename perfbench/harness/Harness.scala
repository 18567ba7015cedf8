package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{operators => op, plans => pl, sources => so, streaming => st}

/** JVM side of the repo benchmark (`perfbench/run.py` launches it).
  *
  * One JVM, one client thread, calls run back to back (a closed loop).
  * It calls only public entry points — the per-module `queries`
  * registries, `sources.CrimeIngest` and the `functions.FunctionCatalog`
  * SQL functions — and times them from outside. Every timed call
  * materializes the full result through Spark's `noop` sink, never
  * `count()`, so Catalyst cannot prune the row's work. Results are
  * checked outside the timed region: a suite row's cold-pass result is
  * written as Parquet for the DuckDB oracle check (done by run.py) and
  * its hash is compared on every timed pass; a crime ETL day is compared
  * with the DuckDB aggregate of its CSV.
  *
  * Writes `<out>/result.json`; run.py turns it into the metrics. */
object Harness {
  type Fn = (SparkSession, String) => DataFrame

  /** The query_rows workload draws from three suites of registries: the
    * read-only rows, the LLM-corpus rows (kernels, session-cached
    * indexes, checkpoints, pair joins) and the lake and streaming rows
    * (commits, deletion vectors, micro-batches, state). Each suite keeps
    * every k-th of its rows in name-hash order (`orderKey`) — a fixed
    * rule that never looks at timings — with k sized so one run fits the
    * benchmark's time budget. */
  val suites: Seq[(String, Seq[Map[String, Fn]], Int)] = Seq(
    ("sql_analytics", Seq(op.Relational.queries, op.TimeSeries.queries,
      op.Behavioral.queries, op.HigherOrder.queries, op.ChangeCapture.queries,
      op.Geo.queries, op.Graph.queries, op.Fuzz.queries, op.FuzzExt.queries,
      so.Bucketing.queries, so.Formats.queries, so.Partitioned.queries,
      so.Compaction.queries, so.SeqSourceQueries.queries,
      so.AggSinkQueries.queries, so.AvroQueries.queries, so.SpjQueries.queries,
      pl.Adaptive.queries, pl.RuntimeFilter.queries), 32),
    ("llm_corpus", Seq(op.Dedup.queries, op.Similarity.queries,
      op.SimilarityGraph.queries, op.TextOps.queries, op.Multimodal.queries), 12),
    ("lake_stream", Seq(so.RowCatalogQueries.queries, so.DmlFuzz.queries,
      st.StreamingOps.queries), 32))

  /** `graft.Bench`'s shared-fixture pre-warm list. */
  val prewarm = Seq("d04_dedup_ngram_jaccard", "d09_semantic_clusters",
    "d10_tfidf_cosine", "s03_ann_ivf", "s06_ann_persisted", "s09_ann_pq",
    "s08_ann_selfjoin", "q106_merge_into", "q108_merge_mor")

  /** `graft.Bench`'s deterministic name hash (31-poly mod 1e9+7). */
  def orderKey(name: String): (Long, String) = {
    var acc = 0L
    name.getBytes(UTF_8).foreach(b => acc = (acc * 31 + (b & 0xffL)) % 1000000007L)
    (acc, name)
  }

  /** (suite, row, query function) of the workload's rows; `only`, a regex on
    * row names, instead picks matching rows from the unthinned suites
    * (for tracing chosen rows, e.g. across commits). */
  def suiteRows(only: Option[String]): Seq[(String, String, Fn)] =
    suites.flatMap { case (suite, regs, k) =>
      val sorted = regs.flatten.sortBy(p => orderKey(p._1))
      val kept = only match {
        case Some(re) => sorted.filter(p => re.r.findFirstIn(p._1).isDefined)
        case None => sorted.zipWithIndex.collect { case (p, i) if i % k == 0 => p }
      }
      kept.map { case (n, f) => (suite, n, f) }
    }

  // ---- result hashing (order-insensitive, exact values) ----
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case x => x.toString
  }
  def hashRows(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map(x => f"$x%02x").mkString
  }

  // ---- minimal JSON writer ----
  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case x => js(x.toString)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  /** (stolen, total) CPU ticks of the machine so far, from /proc/stat. */
  def ticks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally f.close()
  }

  /** One timed call's record. */
  final case class Call(row: String, pass: Int, traced: Boolean,
      buildS: Double, execS: Double, cpuS: Double, ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    val warehouse = Paths.get(a("work")).resolve("warehouse")
    val data = a("data")
    Files.createDirectories(out)

    val spans = new Spans
    val runId = s"$workload-s$seed-t${a("trace")}-${ProcessHandle.current.pid}"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val runSpan = spans.open("run", 0, jvmStart)
    val setupSpan = spans.open("setup", runSpan, jvmStart)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", Paths.get(a("work")).resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val setup = mutable.LinkedHashMap("session_s" -> (Clock.now() - jvmStart),
      "warmup_s" -> 0.0, "fixtures_s" -> 0.0, "cold_pass_s" -> 0.0)
    spans.add("session", setupSpan, jvmStart, Clock.now())
    def setupPhase(name: String)(body: => Unit): Unit = {
      val t0 = Clock.now()
      body
      val t1 = Clock.now()
      setup(s"${name}_s") = t1 - t0
      spans.add(name, setupSpan, t0, t1)
    }

    val tracer = new Tracer(spark, cores)
    val roots = Seq(Paths.get(System.getProperty("java.io.tmpdir")), warehouse)
    val calls = mutable.ArrayBuffer.empty[Call]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perRow = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    val layerTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var firstCall = 0.0

    /** Runs `body`, the timed region of one call. When `on`, the
      * listeners attribute its Spark work to `key`, and the files it
      * left under the scratch roots are counted. */
    def traced[T](key: String, on: Boolean)(body: => T): (T, Option[Layer]) =
      if (!on) (body, None)
      else {
        val before = DiskWalk.snapshot(roots)
        val layer = tracer.begin(key)
        val t0 = Clock.now()
        val r = body
        val t1 = Clock.now()
        tracer.end()
        val after = DiskWalk.snapshot(roots)
        val created = after.keySet -- before.keySet
        layer.add("disk.files_created", created.size)
        layer.add("disk.bytes_created", created.toSeq.map(after).sum.toDouble)
        val jw = layer.jobWallS
        layer.add("spark.job_wall_s", jw)
        layer.add("spark.driver_gap_s", math.max(0.0, t1 - t0 - jw))
        (r, Some(layer))
      }
    /** A pass's wall and CPU seconds, and the share of the machine's
      * CPU time the hypervisor stole while it ran. */
    def passRecord(pass: Int, tr: Boolean, wall: Double, cpu: Double,
        k0: (Long, Long)): Map[String, Any] = {
      val k1 = ticks()
      Map("pass" -> pass, "traced" -> tr, "wall_s" -> wall, "cpu_s" -> cpu,
        "steal" -> (k1._1 - k0._1).toDouble / math.max(1L, k1._2 - k0._2))
    }
    def record(row: String, layer: Layer): Unit = {
      val m = perRow.getOrElseUpdate(row, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      layer.c.foreach { case (k, v) => m(k) += v; layerTotals(k) += v }
    }

    if (workload == "crime_etl") {
      // ---- the reference's daily job: ingest -> process -> read ----
      val csv = a("crime-csv")
      val expected: Map[Option[String], Long] = scala.io.Source
        .fromFile(a("crime-expected"), "UTF-8").getLines().map { l =>
          val Array(t, isNull, c) = l.split("\t", -1)
          (if (isNull == "True") None else Some(t)) -> c.toLong
        }.toMap
      val db = "bench"
      val wh = warehouse.toString
      def location(table: String): String =
        spark.sql(s"DESCRIBE TABLE EXTENDED $db.$table").collect()
          .find(_.getString(0) == "Location").map(_.getString(1)).getOrElse("")
          .stripPrefix("file:")
      var day = 0
      var timed = 0.0
      // day 0 runs cold and is not counted in `seconds`; a traced run
      // alternates untraced and traced days
      while (day < 3 || timed < seconds) {
        val date = LocalDate.of(2024, 3, 1).plusDays(day)
        val tr = trace && day % 2 == 1
        val d0 = Clock.now()
        if (day == 0) { firstCall = d0; spans.close(setupSpan, d0) }
        val daySpan = spans.open("day", runSpan, d0)
        if (tr) tracer.attach()
        var err: String = null
        val cpu = mutable.Map.empty[String, Double]
        val k0 = ticks()
        def step(name: String)(body: => Unit): Double = {
          val (t0, u0) = (Clock.now(), cpuS())
          try body catch { case NonFatal(e) => if (err == null) err = s"$name: $e" }
          val t1 = Clock.now()
          cpu(name) = cpuS() - u0
          spans.add(name, daySpan, t0, t1)
          t1 - t0
        }
        val ((ingestS, processS, readS), layer) = traced(s"$day:etl", tr) {
          (step("ingest")(so.CrimeIngest.ingest(spark, csv, db, wh, date)),
            step("process")(so.CrimeIngest.process(spark, db, wh, date)),
            step("read")(spark.table(s"$db.crime_type_details_latest")
              .write.format("noop").mode("overwrite").save()))
        }
        val d1 = Clock.now()
        if (tr) tracer.detach()
        if (day > 0) timed += d1 - d0
        layer.foreach { l =>
          l.add("etl.ingest_s", ingestS); l.add("etl.process_s", processS)
          l.add("etl.read_s", readS); record("etl", l)
        }
        // check (untimed): content, non-zero-padded layout, latest pointers
        val c0 = Clock.now()
        if (err == null) try {
          val (y, m, d) = so.CrimeIngest.datePartitions(date)
          Seq("crimes_2001_to_present", "crime_type_details").foreach { t =>
            val dir = Paths.get(wh, t, s"y=$y", s"m=$m", s"d=$d")
            require(Files.isDirectory(dir), s"missing partition directory $dir")
            val loc = location(s"${t}_latest")
            require(Paths.get(loc) == dir, s"${t}_latest points at $loc, not $dir")
          }
          val got = spark.table(s"$db.crime_type_details_latest").collect()
            .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
          require(got == expected, "crime_type_details differs from the DuckDB aggregate: " +
            s"${(got.toSet diff expected.toSet).take(3)} vs ${(expected.toSet diff got.toSet).take(3)}")
        } catch { case NonFatal(e) => err = s"check: ${e.getMessage}" }
        spans.add("check", daySpan, c0, Clock.now())
        spans.close(daySpan)
        if (err != null) System.err.println(s"[perfbench] day $day FAILED: $err")
        // one call per entry point; a failed day counts once, on its read
        calls += Call("ingest", day, tr, 0.0, ingestS, cpu("ingest"), true, null)
        calls += Call("process", day, tr, 0.0, processS, cpu("process"), true, null)
        calls += Call("read", day, tr, 0.0, readS, cpu("read"), err == null, err)
        passes += passRecord(day, tr, d1 - d0, cpu.values.sum, k0)
        day += 1
      }
      val stored = Seq("crimes_2001_to_present", "crime_type_details")
        .map(t => dirBytes(Paths.get(wh, t))).sum
      extra("etl") = Map("days" -> day, "rows" -> a("crime-rows").toLong,
        "csv_bytes" -> Files.size(Paths.get(csv)), "stored_bytes" -> stored)
    } else {
      // ---- a suite of registry rows against one resident session ----
      val picked = suiteRows(a.get("only"))
      val rows = picked.map { case (_, n, f) => (n, f) }
      extra("suite_of") = picked.map { case (s, n, _) => n -> s }.toMap
      val registry = rows.toMap
      val rnd = new scala.util.Random(seed)
      setupPhase("warmup") {
        spark.range(1000000).selectExpr("sum(id)").collect()
        graft.Tables.names.foreach(n => graft.Tables(spark, data, n).count())
        val wdir = graft.Scratch.dir(spark, "graftbench_warm", "w")
        spark.range(1000).write.mode("overwrite").parquet(wdir)
        spark.read.parquet(wdir).count()
      }
      val fixtures = mutable.LinkedHashMap.empty[String, Double]
      setupPhase("fixtures") {
        prewarm.filter(registry.contains).foreach { n =>
          val t0 = Clock.now()
          try registry(n)(spark, data)
          catch { case NonFatal(e) => System.err.println(s"[perfbench] pre-warm $n: $e") }
          fixtures(n) = Clock.now() - t0
        }
      }
      extra("fixtures") = fixtures
      // cold pass: every row once; its result goes to Parquet for the
      // DuckDB oracle and its hash is what the timed passes must match
      val coldHash = mutable.Map.empty[String, String]
      val cold = mutable.ArrayBuffer.empty[Map[String, Any]]
      setupPhase("cold_pass") {
        rnd.shuffle(rows).foreach { case (name, fn) =>
          val t0 = Clock.now()
          try {
            val df = fn(spark, data)
            val res = df.collect()
            coldHash(name) = hashRows(res)
            spark.createDataFrame(java.util.Arrays.asList(res: _*), df.schema)
              .coalesce(1).write.mode("overwrite")
              .parquet(out.resolve("cold").resolve(name).toString)
            cold += Map("row" -> name, "ok" -> true, "rows" -> res.length,
              "s" -> (Clock.now() - t0))
          } catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] cold $name FAILED: $e")
            cold += Map("row" -> name, "ok" -> false, "error" -> e.toString)
          }
        }
      }
      extra("cold") = cold
      extra("oracles") = graft.SparkEntry.oracleSql.filter(kv => coldHash.contains(kv._1))
      // timed passes; a traced run alternates untraced and traced passes,
      // starting and ending untraced so both sides see a warmed session
      var pass = 0
      var timed = 0.0
      while (pass < (if (trace) 3 else 1) || timed < seconds) {
        val tr = trace && pass % 2 == 1
        val p0 = Clock.now()
        if (pass == 0) { firstCall = p0; spans.close(setupSpan, p0) }
        val passSpan = spans.open("pass", runSpan, p0)
        if (tr) tracer.attach()
        var passTimed = 0.0
        var passCpu = 0.0
        val k0 = ticks()
        rnd.shuffle(rows).foreach { case (name, fn) =>
          val rowSpan = spans.open("row", passSpan)
          val u0 = cpuS()
          val r0 = Clock.now()
          var t1 = r0
          var err: String = null
          var df: DataFrame = null
          val (t2, layer) = traced(s"$pass:$name", tr) {
            try {
              df = fn(spark, data)
              t1 = Clock.now()
              df.write.format("noop").mode("overwrite").save()
            } catch { case NonFatal(e) => err = e.toString }
            Clock.now()
          }
          val u = cpuS() - u0
          passTimed += t2 - r0
          passCpu += u
          spans.add("build", rowSpan, r0, t1)
          val pe = layer.flatMap(l => planEnd(l, t1, t2)).getOrElse(t1)
          if (tr) spans.add("plan", rowSpan, t1, pe)
          spans.add("exec", rowSpan, pe, t2)
          layer.foreach { l =>
            l.add("row.build_s", t1 - r0); l.add("row.plan_s", pe - t1)
            l.add("row.exec_s", t2 - pe); record(name, l)
          }
          // check (untimed): same result as the oracle-checked cold pass
          val c0 = Clock.now()
          if (err == null) try {
            val h = hashRows(df.collect())
            if (!coldHash.get(name).contains(h)) err = s"result hash $h differs from the cold pass"
          } catch { case NonFatal(e) => err = s"check: $e" }
          spans.add("check", rowSpan, c0, Clock.now())
          spans.close(rowSpan)
          if (err != null) System.err.println(s"[perfbench] $name pass $pass FAILED: $err")
          calls += Call(name, pass, tr, t1 - r0, t2 - t1, u, err == null, err)
        }
        if (tr) tracer.detach()
        spans.close(passSpan)
        timed += passTimed
        passes += passRecord(pass, tr, passTimed, passCpu, k0)
        pass += 1
      }
      if (trace) extra("kernels") = Kernels.time(spark, data)
    }
    if (trace) extra("disk_bytes_live") = DiskWalk.snapshot(roots).values.sum
    extra("peak_rss_mb") = peakRssMb()
    spark.stop()
    spans.close(runSpan)
    val json = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "jvm_start" -> jvmStart, "first_call" -> firstCall, "setup" -> setup,
      "calls" -> calls.map(c => Map("row" -> c.row, "pass" -> c.pass,
        "traced" -> c.traced, "build_s" -> c.buildS, "exec_s" -> c.execS, "cpu_s" -> c.cpuS,
        "ok" -> c.ok, "error" -> Option(c.error))),
      "passes" -> passes, "layers" -> layerTotals, "per_row" -> perRow,
      "spans" -> spans.all.map(s => Map("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end))) ++ extra
    Files.write(out.resolve("result.json"), js(json).getBytes(UTF_8))
  }

  /** End of Catalyst planning for the noop write: the latest phase end
    * of the first query that started inside [t0, t1]. */
  def planEnd(layer: Layer, t0: Double, t1: Double): Option[Double] =
    layer.synchronized(layer.plans.toSeq)
      .map(ph => (ph.values.map(_._1).minOption, ph.values.map(_._2).maxOption))
      .collect { case (Some(s), Some(e)) => (s / 1e3, e / 1e3) }
      .filter { case (s, _) => s >= t0 - 0.002 && s <= t1 }
      .sortBy(_._1).headOption
      .map { case (_, e) => math.min(math.max(e, t0), t1) }
}
