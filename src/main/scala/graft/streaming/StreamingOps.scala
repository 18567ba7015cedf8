package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference approximates a stream with scheduled full-snapshot
  * batches (Airflow `@daily`, `da-capstone-emr-airflow.py:94`); the
  * Spark-native equivalent is a file-source stream with
  * `Trigger.AvailableNow` — process everything that has arrived, then
  * stop — which is exactly the daily-batch topology, minus the cluster
  * lifecycle. At scale the same query runs continuously with a real
  * trigger and checkpointing; nothing in the plan changes.
  *
  * st01 runs a tumbling-window aggregation as a genuine streaming query
  * (memory sink, drained synchronously so the driver contract can treat
  * it like any batch query) and is oracle-checked against the batch
  * equivalent — the streaming/batch unification Spark promises.
  */
object StreamingOps {

  // events.ts ships as parquet TIMESTAMP(MICROS) isAdjustedToUTC=false
  // in the current testdata generation → TIMESTAMP_NTZ here; every read
  // normalizes it to TimestampType via cast (session tz is pinned UTC,
  // so the cast is value-preserving). readStream needs this schema
  // declared up front; the batch loader (graft.Tables.eventsImpl)
  // additionally supports the older TIMESTAMP(NANOS)-as-long generation
  // by probing the footer — if the fixture ever reverts, these streams
  // fail loudly at read/execution time (the parquet reader rejects the
  // NANOS footer against this declared NTZ schema; it is not an
  // analysis-time failure) rather than silently misscaling.
  private[streaming] val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Typed event for the stateful path (µs timestamp). */
  case class Ev(event_id: Long, user_id: Long, ts_us: Long)

  /** State-partition count: sized to KEY VOLUME, not core count —
    * 8 suits the harness's 10³–10⁴ key cardinality. Every state
    * partition carries a fixed per-batch cost (delta + snapshot files,
    * store maintenance) regardless of how many keys it holds —
    * measured on the stream-stream join: 32 partitions 16.2s vs 8
    * partitions 4.0s for ~1500 keys at sf0.1. A production deployment
    * sizes this once at first start (the partitioning is frozen into
    * the checkpoint thereafter). */
  private[graft] val StateParts = 8

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to
    * [[StateParts]] — stateful streaming queries size their STATE
    * partitioning here — plus `more`, a row's own state-store confs. */
  private[graft] def withStatePartitions[T](s: SparkSession,
      more: Map[String, String] = Map.empty)(body: => T): T =
    graft.GraftSession.withConfs(s,
      more + ("spark.sql.shuffle.partitions" -> StateParts.toString))(body)

  /** Per-user session summary emitted by the stateful operator. */
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** A closed session emitted by st15's timer path (µs bounds). */
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long)

  /** Typed event with a real timestamp column for watermarking. */
  case class EvT(event_id: Long, user_id: Long, ts: java.sql.Timestamp)

  /** st12's persisted per-user state: event count + the sorted disjoint
    * session intervals as columnar arrays (product-encodable). */
  case class SessionIvState(n_events: Long, starts: Array[Long], ends: Array[Long])

  /** Incremental interval-merge sessionization store: consumes event
    * timestamps in ANY order, maintaining sorted, disjoint,
    * gap-separated (start, end) session intervals in a TreeMap keyed by
    * interval start — each timestamp joins an interval (possibly
    * bridging two) or starts its own, in O(log sessions). Memory is
    * O(sessions), not O(events); the result equals sorted
    * gap-sessionization (the intervals are the connected components of
    * the "within gapUs" adjacency — property-tested in
    * StreamingKernelSpec against the ArrayBuffer reference kernel,
    * including adverse newest-first arrival).
    *
    * The TreeMap replaces the round-3 ArrayBuffer store, whose
    * insert/remove shifting cost O(sessions) per event — O(n²/gap)
    * per hot key when events arrive newest-first. Gap-separation means
    * one event reaches at most two intervals (its floor neighbor at
    * t+gap and that neighbor's predecessor), so `add` touches ≤ 2
    * entries. */
  private[graft] final class IntervalStore {
    private val m = new java.util.TreeMap[Long, Long]()

    /** Fold one timestamp in, preserving the invariant. */
    def add(t: Long, gapUs: Long): Unit = {
      var start = t
      var end = t
      // walk left from the largest start ≤ t+gap, absorbing every
      // reachable interval (≤ 2 under the invariant); ends are ordered
      // with starts for disjoint intervals, so the first unreachable
      // floor proves everything further left is unreachable too
      var probe = t + gapUs
      var done = false
      while (!done) {
        val e = m.floorEntry(probe)
        if (e == null || e.getValue < t - gapUs) done = true
        else {
          start = math.min(start, e.getKey)
          end = math.max(end, e.getValue)
          probe = e.getKey - 1
          m.remove(e.getKey)
        }
      }
      m.put(start, end)
    }

    /** Fold a whole iterator; returns the event count consumed. */
    def addAll(ts: Iterator[Long], gapUs: Long): Long = {
      var n = 0L
      ts.foreach { t => n += 1; add(t, gapUs) }
      n
    }

    def size: Int = m.size

    /** Persistence form: parallel (starts, ends) arrays in start order
      * (st12's product-encodable state cell). */
    def toArrays: (Array[Long], Array[Long]) = {
      val starts = new Array[Long](m.size)
      val ends = new Array[Long](m.size)
      var i = 0
      m.entrySet().forEach { e =>
        starts(i) = e.getKey; ends(i) = e.getValue; i += 1
      }
      (starts, ends)
    }
  }

  private[graft] object IntervalStore {
    /** Seed from persisted state (assumed sorted, disjoint,
      * gap-separated — exactly what toArrays emitted). */
    def from(starts: Array[Long], ends: Array[Long]): IntervalStore = {
      val s = new IntervalStore
      var i = 0
      while (i < starts.length) { s.m.put(starts(i), ends(i)); i += 1 }
      s
    }
  }

  private[graft] def mergeSessions(ts: Iterator[Long], gapUs: Long): (Long, Long) = {
    val store = new IntervalStore
    val nEvents = store.addAll(ts, gapUs)
    (nEvents, store.size.toLong)
  }

  /** REFERENCE kernel (ArrayBuffer store): same semantics as
    * [[IntervalStore]], kept as the independent property-test oracle in
    * StreamingKernelSpec — the two implementations must agree on every
    * arrival order. Production paths (st02/st12) use the TreeMap
    * store. */
  private[graft] def mergeInto(iv: scala.collection.mutable.ArrayBuffer[(Long, Long)],
      ts: Iterator[Long], gapUs: Long): Long = {
    var nEvents = 0L
    ts.foreach { t =>
      nEvents += 1
      // first interval whose end is within reach of t (end ≥ t−gap)
      var lo = 0
      var hi = iv.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (iv(m)._2 < t - gapUs) lo = m + 1 else hi = m
      }
      if (lo == iv.length || iv(lo)._1 > t + gapUs) {
        iv.insert(lo, (t, t)) // out of reach of every interval
      } else {
        // absorb t; gap-separation means t bridges at most 2 intervals,
        // but sweep generally
        val start = math.min(iv(lo)._1, t)
        var end = math.max(iv(lo)._2, t)
        var j = lo + 1
        while (j < iv.length && iv(j)._1 <= t + gapUs) {
          end = math.max(end, iv(j)._2)
          j += 1
        }
        iv.remove(lo + 1, j - lo - 1)
        iv(lo) = (start, end)
      }
    }
    nEvents
  }

  /** The clicks/purchases stream pair every stream-stream join variant
    * (st06 inner / st14 left-outer / st26 right-outer / st21
    * full-outer / st22 left-semi) builds on: ns→µs conversion,
    * per-side rename, 1-hour watermark on each side. ONE definition,
    * so the five join types can never drift apart on the delay, the
    * time bound, or the timestamp conversion. */
  private[streaming] def clickPurchaseStreams(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    def src(tpe: String) = s.readStream
      .schema(eventsSchema)
      .parquet(s"$d/events.parque[t]")
      .withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("event_type") === tpe)
    val clicks = src("click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src("purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    (clicks, purchases)
  }

  /** The 30-minute conversion-window condition the four variants share. */
  private[streaming] def conversionWindow =
    expr("""c_user = p_user AND
            p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes""")

  /** The doubled, watermarked, watermark-bounded-deduped event stream
    * st11 (dedup → plain agg) and st23 (dedup → windowed agg) both
    * consume — one definition of the at-least-once upstream and its
    * dedup horizon, so the two contracts can't drift. */
  private[streaming] def dedupedEventStream(s: SparkSession, d: String): DataFrame = {
    def src() = s.readStream
      .schema(eventsSchema)
      .parquet(s"$d/events.parque[t]")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_id"), col("event_type"), col("ts"))
    src().union(src())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** A GENUINELY multi-batch event stream: the single-file fixture is
    * re-laid-out once per (app, dataset) as 8 parquet files and
    * streamed 2 per trigger → ~4 micro-batches. st17 (update mode) and
    * st18 (complete-mode re-emission) both need real batch boundaries,
    * or the output-mode semantics they claim to exercise degenerate to
    * a single batch query. */
  private[streaming] def multiBatchEventStream(s: SparkSession, d: String): DataFrame = {
    val src = graft.Scratch.dir(s, "graft_st17_src", d)
    graft.Scratch.materializeOnce(src) {
      // go through the batch loader so the re-layout inherits its
      // dual-generation ts normalization, then cast back to the NTZ
      // type the declared stream schema expects (session tz is UTC, so
      // the cast is value-preserving)
      graft.Tables.events(s, d)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .select(eventsSchema.fieldNames.map(col).toIndexedSeq: _*)
        .repartition(8).write.mode("overwrite").parquet(src)
    }
    s.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(src)
  }

  /** st25/st30's keyed-upsert merge: per-user event count + latest
    * event under the unique 128-bit (µs·10¹², event_id) fold (int64
    * overflows). Associative with a total order key, so any batch split
    * folds to the same table — the property both the multi-batch upsert
    * (st25) and the time-travel prefix read (st30) rest on. */
  private[streaming] def upsertMerge(df: DataFrame): DataFrame = {
    def fold(tsUs: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
      (tsUs.cast(DecimalType(38, 0)) * lit(1000000000000L) + id)
        .cast(DecimalType(38, 0))
    df.groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        max_by(col("last_event_id"), fold(col("last_ts_us"), col("last_event_id")))
          .as("last_event_id"),
        max(col("last_ts_us")).as("last_ts_us"))
  }

  /** Drain a streaming frame through one AvailableNow run into a named
    * memory sink and return the sink table — every stXX query's last
    * mile (complete vs append follows the aggregation's output
    * semantics). */
  private[streaming] def runToMemory(spark: SparkSession, frame: DataFrame,
      sinkName: String, mode: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val q = frame.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode(mode)
      .options(options)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }

  /** Full §2.9 surface: the three subsystem files' maps, concatenated.
    * Names are disjoint by construction (each query lives in exactly
    * one file); SparkEntry consumes these unchanged. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(
      StreamCoreQueries.queries ++ StreamJoinQueries.queries ++
        StreamDmlQueries.queries ++
        StreamFuzz.Pinned.map { case (name, seed) =>
          name -> ((s: SparkSession, d: String) =>
            StreamFuzz.pinnedResult(s, seed, d))
        }.toMap)

  val oracles: Map[String, String] =
    StreamCoreQueries.oracles ++ StreamJoinQueries.oracles ++
      StreamDmlQueries.oracles ++
      StreamFuzz.Pinned.map { case (name, seed) =>
        name -> StreamFuzz.pinnedOracle(seed)
      }.toMap
}
