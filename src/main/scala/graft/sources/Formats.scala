package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Alternate columnar format coverage: the engine's sink/source surface
  * is not parquet-only. q40 pushes a fact slice through a PARTITIONED
  * ORC round trip — write with `partitionBy`, read the directory tree
  * back, aggregate — and the oracle states the same aggregate over the
  * original parquet, so the check covers type fidelity (doubles,
  * strings, partition-column recovery) across the format boundary.
  * ORC ships with Spark; the same `.format(...)` swap is all a user
  * changes at 100 TB.
  */
object Formats {

  /** Catalog table over a Scratch-located parquet copy of `nation`,
    * ANALYZEd once per (app, dataset) — table metadata lives in this
    * JVM's in-memory catalog, files under the app-keyed scratch dir,
    * so concurrent JVMs never collide and nothing leaks into a shared
    * warehouse. */
  private[graft] def ensureStatsTable(s: SparkSession, d: String): String = {
    val tag = graft.Scratch.tag(d)
    val tbl = s"graft_stats_nation_$tag"
    if (!s.catalog.tableExists(tbl)) {
      val loc = graft.Scratch.dir(s, "graft_cbo", tag)
      graft.Tables(s, d, "nation").write.mode("overwrite").parquet(loc)
      s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$loc'")
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS " +
        "n_nationkey, n_name")
    }
    tbl
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // The write halves of the round trips below run ONCE per (app,
    // dataset) behind Scratch.materializeOnce: the fidelity statement
    // (write → read → aggregate == parquet original) is pinned equally
    // well by a once-per-session write, and re-serializing the slice on
    // every invocation made q65 the bench's single most expensive query
    // (~7% of suite wall time) for no additional coverage. The read
    // side — the half whose plan shape matters at 100 TB — still runs
    // on every invocation.
    "q40_orc_roundtrip" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_orc", d)
      graft.Scratch.materializeOnce(out) {
        graft.Tables(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"))
          .write.mode("overwrite")
          .partitionBy("l_returnflag")
          .orc(out)
      }
      s.read.orc(out)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // q41: JSON-lines round trip — schema-on-read with an EXPLICIT
    // schema (no inference job), and the text column pinned through the
    // portable hash: a single mis-escaped quote or lost codepoint in
    // the write→read cycle breaks the hash match against the parquet
    // original.
    "q41_json_roundtrip" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_json", d)
      graft.Scratch.materializeOnce(out) {
        graft.Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
          .write.mode("overwrite").json(out)
      }
      val schema = "doc_id LONG, lang STRING, text STRING"
      s.read.schema(schema).json(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.PortableHashFunctions.polyHash(col("text")))
            .as("text_hash_sum"),
          sum(length(col("text")).cast(LongType)).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // ── q44: CSV round trip — the treacherous format: the props column
    // is JSON text holding the CSV quote, delimiter-adjacent braces,
    // and colons, so correct quoting/escaping on write AND quote-aware
    // parsing on read are both load-bearing. Fidelity is pinned the
    // q41 way: a portable per-row hash of props summed per group over
    // the round-tripped data must equal the same sum over the original
    // parquet — one mis-escaped quote anywhere shifts the sum.
    "q44_csv_roundtrip" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_csv", d)
      graft.Scratch.materializeOnce(out) {
        graft.Tables(s, d, "events")
          .select(col("event_id"), col("event_type"), col("props"))
          .write.mode("overwrite").option("header", "true")
          .option("quoteAll", "true").csv(out)
      }
      val schema = "event_id LONG, event_type STRING, props STRING"
      s.read.schema(schema).option("header", "true").csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.PortableHashFunctions.polyHash(col("props")))
            .as("props_hash_sum"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // ── q56: MALFORMED-RECORD tolerance — the ops contract that keeps
    // a 100 TB ingest alive: a CSV feed where every 37th record is
    // corrupted (a non-numeric id field) must parse the good rows,
    // quarantine EXACTLY the bad ones into the corrupt-record column,
    // and never fail the job. PERMISSIVE mode + columnNameOfCorruptRecord
    // is the quarantine mechanism (DROPMALFORMED would silently lose
    // data — unacceptable in a pipeline that must account for every
    // input record; FAILFAST turns one bad upstream row into a dead
    // daily run). The oracle derives the expected good/bad split and
    // the parsed sums ARITHMETICALLY from the clean table — so the row
    // checks quarantine precision, not just "it didn't crash".
    //
    // The parsed split is PERSISTED to parquet before any aggregation:
    // Spark refuses raw-file queries whose pruned scan schema is only
    // the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN —
    // e.g. a downstream `.count()` prunes the payload columns away and
    // leaves just `_bad` as the group key), and the documented contract
    // is "save the parsed results, then query". That materialization is
    // also what a real quarantine pipeline does anyway: the split is
    // the audit artifact, not a throwaway intermediate.
    "q56_corrupt_tolerant" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_badcsv", d)
      graft.Scratch.materializeOnce(out) {
        graft.Tables(s, d, "events")
          .select(when(pmod(col("event_id"), lit(37)) === 0,
              concat_ws(",", col("event_id"), col("event_type"), lit("oops")))
            .otherwise(
              concat_ws(",", col("event_id"), col("event_type"), col("user_id")))
            .as("value"))
          .write.mode("overwrite").text(out)
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType), StructField("_bad", StringType)))
      val parsed = graft.Scratch.dir(s, "graft_badcsv_parsed", d)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
        .write.mode("overwrite").parquet(parsed)
      s.read.parquet(parsed)
        .groupBy(col("_bad").isNotNull.as("is_corrupt"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("user_sum"),
          count(col("user_id")).as("n_parsed_ids"))
        .orderBy(col("is_corrupt"))
    }),

    // ── q65: XML round trip — Spark 4 ships the XML source natively
    // (the spark-xml package folded into core), which matters for the
    // long tail of enterprise feeds that still move as XML. Same
    // fidelity statement as q40/q41/q44: write a typed slice as
    // row-tagged XML, read it back with an EXPLICIT schema (no
    // inference job over the corpus), aggregate, and pin against the
    // parquet original — type fidelity through the text format (long,
    // double round-trip via shortest-repr printing, string escaping of
    // `<`/`&`) is what the hash match proves.
    "q65_xml_roundtrip" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_xml", d)
      graft.Scratch.materializeOnce(out) {
        graft.Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite")
          .option("rowTag", "order").option("rootTag", "orders")
          .xml(out)
      }
      val schema = "o_orderkey LONG, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderpriority STRING"
      s.read.schema(schema).option("rowTag", "order").xml(out)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // ── q69: JDBC SINK → SOURCE round trip — the write side the
    // reference never had (its pipeline only EXTRACTED over JDBC;
    // publishing results back to an operational database is the other
    // half of that contract). A typed orders slice is written through
    // Spark's JDBC writer into embedded Derby (ships in Spark's jars;
    // the CrimeIngestSpec engine) with batched inserts, then read back
    // through the PARTITIONED range reader (CrimeIngest's
    // scale-correct form — the bounds come from a one-row min/max
    // aggregate, the standard slice-discovery query, not a data
    // collect) and re-aggregated against the parquet original: type
    // fidelity (BIGINT/DOUBLE/VARCHAR) through a real SQL engine's
    // storage and back is what the hash match proves. Scratch keys the
    // db dir by applicationId, so concurrent JVMs never contend for
    // Derby's single-JVM embedded lock.
    "q69_jdbc_roundtrip" -> ((s, d) => {
      val dbDir = graft.Scratch.dir(s, "graft_derby", d)
      // keep derby.log (and any other engine artifact) inside the
      // app-scoped scratch dir instead of the launch CWD; first boot of
      // the embedded engine in this JVM reads the property
      System.setProperty("derby.system.home", dbDir)
      val url = s"jdbc:derby:$dbDir/rt;create=true"
      val props = new java.util.Properties()
      val slice = graft.Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
      graft.Scratch.materializeOnce(dbDir) {
        slice.write.mode("overwrite")
          .option("batchsize", "1000")
          .jdbc(url, "orders_rt", props)
      }
      val bounds = slice
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      CrimeIngest.readJdbcPartitioned(s, url, "orders_rt", "o_orderkey",
          bounds.getLong(0), bounds.getLong(1), numPartitions = 3,
          user = "", password = "")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("o_orderstatus"))
    }),

    // ── q99: STATISTICS-DRIVEN PLANNING — ANALYZE TABLE feeds the
    // cost-based optimizer: after COMPUTE STATISTICS the catalog
    // relation carries an exact rowCount (and column NDVs/min/max)
    // that Catalyst's CBO uses for join ordering and build-side
    // choice; without it the planner falls back to file sizes. The
    // CORRECTNESS row proves stats change plans, never answers;
    // ScalePlanSpec pins the plumbing non-vacuously (analyzed table
    // reports rowCount == exact count, un-analyzed reports none). At
    // 100 TB, ANALYZE after each load is what keeps a 12-way join
    // from picking a fact table as a build side.
    "q99_cbo_stats" -> ((s, d) => {
      val tbl = ensureStatsTable(s, d)
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.table(tbl)
        .join(graft.Tables(s, d, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
        .orderBy(col("n_name"))
    }),

    // ── q93: FILE PROVENANCE via the `_metadata` hidden columns —
    // every parquet row carries which physical file it came from
    // (`file_name`) and where in that file it sits (`row_index`),
    // surfaced by the scan with NO extra I/O. This is the lineage
    // primitive a lake pipeline leans on daily: attribute bad rows to
    // the ingest file that delivered them, re-process one file, audit
    // per-file completeness. Here: customer hash-relaid into 4 files
    // (one per pmod bucket), read back, grouped BY ORIGIN FILE. File
    // names are engine-generated so the output keeps only the group
    // stats — the 4 groups must be exactly the 4 hash buckets
    // (restated arithmetically by the oracle), and `contiguous` pins
    // row_index semantics: 0..n-1 within each file.
    "q93_file_provenance" -> ((s, d) => {
      val out = graft.Scratch.dir(s, "graft_prov", d)
      graft.Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), pmod(col("k"), lit(4)).as("b"))
        .repartition(col("b")) // one task per bucket's rows (collisions
        // only merge tasks; partitionBy still splits files per b value)
        .write.mode("overwrite").partitionBy("b").parquet(out)
      s.read.parquet(out)
        .select(col("k"), col("_metadata.file_path").as("fname"),
          col("_metadata.row_index").as("ridx"))
        .groupBy(col("fname"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          (min(col("ridx")) === 0L &&
            max(col("ridx")) === count(lit(1)) - 1L).as("contiguous"))
        .select(col("n"), col("key_sum"), col("min_k"), col("max_k"),
          col("contiguous"))
        .orderBy(col("key_sum"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // per-doc char-fold hash summed per language over the ORIGINAL
    // parquet — any JSON escaping loss surfaces as a sum mismatch
    "q41_json_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007)) AS BIGINT) AS text_hash_sum,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // same fidelity statement over events: any CSV quoting loss in
    // props shifts the per-type hash sum
    "q44_csv_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(props, ''), ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007)) AS BIGINT) AS props_hash_sum,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the good/bad split restated arithmetically over the clean table:
    // quarantine must hit exactly the event_id % 37 rows, parse the
    // rest, and surface NULL user_id (excluded from both aggregates)
    // for the quarantined ones
    "q56_corrupt_tolerant" ->
      """SELECT event_id % 37 = 0 AS is_corrupt, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN event_id % 37 = 0 THEN NULL ELSE user_id END)
        |    AS BIGINT) AS user_sum,
        |  COUNT(CASE WHEN event_id % 37 = 0 THEN NULL ELSE user_id END)
        |    AS n_parsed_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // stated over the ORIGINAL parquet table: the Derby round trip must
    // be lossless for the aggregate to hash-match
    "q69_jdbc_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // stated over the ORIGINAL parquet table: the XML round trip must
    // be lossless for the aggregate to hash-match
    "q65_xml_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // stated over the ORIGINAL parquet table: the ORC round trip must
    // be lossless for the aggregate to hash-match
    "q40_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // stats must never change answers: the plain join restated
    "q99_cbo_stats" ->
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM nation JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the per-file groups restated as the hash buckets the relayout
    // wrote: one file per pmod-4 bucket, contiguous row_index by
    // construction
    "q93_file_provenance" ->
      """SELECT COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |  MIN(c_custkey) AS min_k, MAX(c_custkey) AS max_k,
        |  TRUE AS contiguous
        |FROM customer GROUP BY c_custkey % 4 ORDER BY key_sum""".stripMargin
  )
}
