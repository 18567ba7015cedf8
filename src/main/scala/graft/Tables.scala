package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * Scale notes: `spark.read.parquet` produces a columnar, splittable scan;
  * Catalyst pushes filters/column pruning into it. At 100 TB the same call
  * works unchanged — partition parallelism comes from
  * `spark.sql.files.maxPartitionBytes`, not from anything here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") eventsImpl(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.ts has shipped in two physical forms across harness testdata
    * generations, so the loader normalizes BY TYPE instead of assuming
    * one:
    *  - TIMESTAMP(NANOS) int64 — Spark 4 refuses to map it to
    *    TimestampType (PARQUET_TYPE_ILLEGAL); read as raw long via
    *    `nanosAsLong` and truncate ns→µs with INTEGER division (a double
    *    division would silently lose precision: ns epochs ≈1.7e18 exceed
    *    a double's 53-bit mantissa). This is exactly how DuckDB coerces
    *    nanos, so oracle parity holds.
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=false — reads as
    *    TIMESTAMP_NTZ; cast to TimestampType (the session timezone is
    *    pinned UTC everywhere, so the wall clock IS the instant and the
    *    cast is value-preserving).
    * Either way every consumer sees the same `ts: TimestampType` (µs)
    * column.
    *
    * `nanosAsLong` is session-global, so it is set ONLY when the footer
    * probe finds the nanos generation (probing = schema inference with
    * the flag untouched: the nanos footer throws, the micros footer
    * yields NTZ). On a micros fixture the flag is never touched, so an
    * unrelated TIMESTAMP(NANOS) read elsewhere in the session still
    * fails loudly instead of silently decoding as long. When the
    * fixture IS nanos the flag must stay set for the session — the
    * parquet reader re-checks it at execution, after this function
    * returns. */
  private val nanosGen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def eventsImpl(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val path = s"$sfDir/events.parquet"
    val isNanos = nanosGen.computeIfAbsent(path, _ =>
      try { // probe: succeeds-as-long ⇒ flag already on; throws ⇒ nanos
        spark.read.parquet(path).schema("ts").dataType == LongType
      } catch { case scala.util.control.NonFatal(_) => true })
    if (isNanos) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long generation
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already TimestampType
    }
  }

  /** Spread a scan to session parallelism when it arrives in fewer
    * splits than half the session's (optimization guide §2.5 input
    * skew): the harness tables are ONE parquet split at small SFs, so
    * CPU-heavy per-row derivation fused after the scan (JSON
    * build/parse at ingest, hash placement + explode) otherwise runs
    * in a single task. Parallelism is the smaller of the shuffle
    * partition count and the cores: a session configured with far more
    * shuffle partitions than cores gains nothing from spreading a scan
    * that already covers them. Hash-of-key repartition — deterministic
    * under retry (the §2.5 rule) and exempt from sortBeforeRepartition's
    * local sort — and USER-specified, so AQE never coalesces it. At
    * 100 TB the scan already has more splits than the session has
    * cores and no exchange is added at all. */
  def spreadNarrowScan(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    val parts = math.min(s.sessionState.conf.numShufflePartitions,
      s.sparkContext.defaultParallelism)
    if (df.queryExecution.toRdd.getNumPartitions * 2 < parts)
      df.repartition(parts, org.apache.spark.sql.functions.col(key))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
