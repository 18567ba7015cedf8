package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import StreamingOps._

/** Core single-stream queries (SURVEY.md §2.9): windowed and
  * sliding aggregations, watermarking, drop-duplicates state,
  * stateful sessionization (`transformWithState` value state + timer
  * paths), checkpoint recovery and changelog checkpointing, RocksDB
  * state store, update/complete output modes, top-k, chained
  * aggregations, union watermark semantics, custom sinks, listener
  * metrics, file-source time travel, and streaming incremental
  * dedup. Shared fixtures and the memory-sink drain live in
  * [[StreamingOps]].
  */
private[streaming] object StreamCoreQueries {
  /** The RocksDB state store (transformWithState requires it). */
  private val RocksDb = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── st01: tumbling 1-hour window aggregation over the event stream.
    "st01_stream_hourly" -> ((s, d) => withStatePartitions(s) {
      // file-source streams want a directory basePath; a glob that
      // matches exactly events.parquet keeps the source scoped to the
      // one table while satisfying that contract.
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
      runToMemory(s, agg, "st01_out", "complete")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── st02: custom stateful operator — gap-based sessionization
    // (30-min inactivity) via flatMapGroupsWithState over a
    // KeyValueGroupedDataset. Same semantics as the batch window
    // version (q24_sessionize) and checked against the same oracle.
    //
    // The round-1 version buffered + sorted ALL of a user's events in
    // executor memory (a hot key OOMs at scale). This one streams the
    // iterator through incremental INTERVAL MERGING: disjoint
    // gap-separated session intervals, each new event either joins an
    // interval (possibly bridging two) or starts its own. Memory is
    // O(sessions-per-user), not O(events-per-user), and the result is
    // order-insensitive — provably the connected components of the
    // "within 30 min" adjacency, i.e. exactly sorted-gap sessions.
    // With a continuous trigger the interval list is what you'd persist
    // in GroupState (+ watermark timeout to emit and evict).
    "st02_stream_sessionize" -> ((s, d) => withStatePartitions(s) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .as[Ev]
      def sessionize(userId: Long, evs: Iterator[Ev],
          state: GroupState[Long]): Iterator[UserSessions] = {
        val (nEvents, nSessions) =
          StreamingOps.mergeSessions(evs.map(_.ts_us), 1800L * 1000000L)
        Iterator.single(UserSessions(userId, nEvents, nSessions))
      }
      runToMemory(s,
        stream
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionize)
        .toDF()
        ,
        "st02_out", "append").orderBy(col("user_id"))
    }),

    // ── st03: watermarked append-mode window aggregation — the
    // late-data contract of §2.9. With a 10-minute watermark, append
    // mode emits only FINALIZED windows (window_end ≤ max event time −
    // delay; AvailableNow runs the closing no-data batch). The oracle
    // states exactly that closed-window semantics in batch SQL.
    "st03_stream_watermark" -> ((s, d) => withStatePartitions(s) {
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      runToMemory(s, agg, "st03_out", "append")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── st05: streaming → PARTITIONED BATCH SINK parity via
    // foreachBatch — the reference's partitioned-snapshot sink
    // (CrimeIngest.writeSnapshot's layout) fed by a stream instead of a
    // scheduled batch. foreachBatch hands each micro-batch to the batch
    // writer, so the sink keeps the partition layout, overwrite
    // atomicity, and catalog story of the batch path — the
    // streaming/batch sink unification §2.9 promises. The query's
    // RESULT is the sink read back from disk, so the oracle checks the
    // whole write-read round trip, partition-column typing included.
    "st05_stream_sink_parity" -> ((s, d) => withStatePartitions(s) {
      val outDir = graft.Scratch.dir(s, "graft_st05", d)
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      val q = agg.writeStream
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").partitionBy("event_type").parquet(outDir)
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(col("window_start"), col("event_type"), col("n"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── st04: streaming deduplication — the stream unioned with itself
    // (every event arrives twice) through stateful dropDuplicates on
    // the event key, then aggregated. The oracle is the batch distinct
    // count: dedup state must collapse the doubled input exactly. At
    // scale the same plan runs with dropDuplicatesWithinWatermark so
    // the key state is evicted instead of growing unboundedly.
    "st04_stream_dedup" -> ((s, d) => withStatePartitions(s) {
      def src() = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("event_id"), col("event_type"))
      val doubled = src().union(src())
      val agg = doubled
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(s, agg, "st04_out", "complete").orderBy(col("event_type"))
    }),

    // ── st11: WATERMARK-BOUNDED stateful dedup —
    // dropDuplicatesWithinWatermark. st04's dropDuplicates keeps every
    // key seen FOREVER (unbounded state: the demo is AvailableNow, but
    // a real 100 TB/day stream would grow state without limit); the
    // watermarked variant evicts dedup state once the watermark passes
    // a key's event time, bounding state to the late-data horizon.
    // The fixture's duplicates (the doubled union) arrive at identical
    // event times, so they always fall inside the 1-hour horizon and
    // the result still equals batch-distinct.
    "st11_dedup_bounded_state" -> ((s, d) => withStatePartitions(s) {
      val agg = dedupedEventStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(s, agg, "st11_out", "complete").orderBy(col("event_type"))
    }),

    // ── st12: the transformWithState API — Spark 4's arbitrary-state
    // processor, the successor to flatMapGroupsWithState: typed,
    // composable per-key state cells (ValueState/ListState/MapState
    // with optional TTL) behind a StatefulProcessor. The processor
    // persists the interval store through the kernel's mergeable form,
    // so sessionization is incremental ACROSS micro-batches — a
    // session split over two batches merges when its second half
    // arrives (exactly what st02's within-batch demo could not do).
    // transformWithState requires the RocksDB state store. Same
    // semantics and oracle as st02/q24.
    "st12_transform_with_state" -> ((s, d) => withStatePartitions(s, RocksDb) {
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .as[Ev]
      class SessionProcessor extends StatefulProcessor[Long, Ev, UserSessions] {
        @transient private var state: ValueState[SessionIvState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          state = getHandle.getValueState[SessionIvState]("sessions",
            Encoders.product[SessionIvState], TTLConfig.NONE)
        override def handleInputRows(userId: Long, rows: Iterator[Ev],
            tv: TimerValues): Iterator[UserSessions] = {
          val prev = if (state.exists()) Option(state.get()) else None
          val store = prev.fold(new StreamingOps.IntervalStore)(p =>
            StreamingOps.IntervalStore.from(p.starts, p.ends))
          val n = store.addAll(rows.map(_.ts_us), 1800L * 1000000L)
          val total = prev.map(_.n_events).getOrElse(0L) + n
          val (starts, ends) = store.toArrays
          state.update(SessionIvState(total, starts, ends))
          Iterator.single(UserSessions(userId, total, store.size.toLong))
        }
      }
      val out = stream.groupByKey(_.user_id)
        .transformWithState(new SessionProcessor, TimeMode.None(), OutputMode.Append())
      // the processor emits a CUMULATIVE row per key per micro-batch;
      // an AvailableNow run over one fixture file happens to be a
      // single batch, but if the source ever splits (maxFilesPerTrigger,
      // multi-file fixtures) the append sink holds stale totals too —
      // keep only each user's final row (n_events strictly grows per
      // emitted row) instead of relying on the single-batch accident
      // (round-3 advisor).
      runToMemory(s, out.toDF(), "st12_out", "append")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("n_sessions"))).as("last"))
        .select(col("user_id"), col("last.n_events").as("n_events"),
          col("last.n_sessions").as("n_sessions"))
        .orderBy(col("user_id"))
    }),

    // ── st15: EVENT-TIME TIMERS in transformWithState — the capstone of
    // the arbitrary-state API: the processor maintains the per-user
    // interval store (as st12) AND registers one event-time timer per
    // open session at (session end + gap). When the WATERMARK passes a
    // timer, handleExpiredTimer fires: every interval whose close point
    // (end + gap) the watermark has passed is emitted as a CLOSED
    // session and evicted — emission driven by time, not by data
    // arrival, which is what flatMapGroupsWithState timeouts and plain
    // aggregation cannot express per-session. AvailableNow's closing
    // no-data batch advances the watermark to max(ts) − 1h, so exactly
    // the sessions closed by THAT watermark emit; still-open sessions
    // are discarded with the query — and the oracle restates precisely
    // that subset (end + gap ≤ final watermark).
    "st15_timer_sessions" -> ((s, d) => withStatePartitions(s, RocksDb) {
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
      val gapUs = 1800L * 1000000L
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").as("ts"))
        .withWatermark("ts", "1 hour")
        .as[EvT]
      class TimerSessions extends StatefulProcessor[Long, EvT, ClosedSession] {
        @transient private var state: ValueState[SessionIvState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          state = getHandle.getValueState[SessionIvState]("iv",
            Encoders.product[SessionIvState], TTLConfig.NONE)
        private def micros(t: java.sql.Timestamp): Long =
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        override def handleInputRows(userId: Long, rows: Iterator[EvT],
            tv: TimerValues): Iterator[ClosedSession] = {
          val prev = if (state.exists()) Option(state.get()) else None
          val store = prev.fold(new StreamingOps.IntervalStore)(p =>
            StreamingOps.IntervalStore.from(p.starts, p.ends))
          val n = store.addAll(rows.map(e => micros(e.ts)), gapUs)
          val (starts, ends) = store.toArrays
          state.update(SessionIvState(
            prev.map(_.n_events).getOrElse(0L) + n, starts, ends))
          // one timer per open session at its close point; intervals
          // merge as events arrive, so re-derive the timer set from
          // the current store (stale timers fire harmlessly: expiry
          // emits only what the watermark really closed)
          getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
          ends.foreach(e => getHandle.registerTimer((e + gapUs) / 1000L + 1))
          Iterator.empty
        }
        override def handleExpiredTimer(userId: Long, tv: TimerValues,
            info: ExpiredTimerInfo): Iterator[ClosedSession] = {
          if (!state.exists()) return Iterator.empty
          val p = state.get()
          // timers live in MILLISECOND granularity; compare close
          // points at that granularity too, or a sub-ms close/watermark
          // skew strands a session whose only timer already fired
          val wmMs = tv.getCurrentWatermarkInMs
          val (closed, open) = p.starts.zip(p.ends)
            .partition { case (_, e) => (e + gapUs) / 1000L < wmMs }
          if (open.isEmpty) state.clear()
          else state.update(
            SessionIvState(p.n_events, open.map(_._1), open.map(_._2)))
          closed.iterator.map { case (st, en) => ClosedSession(userId, st, en) }
        }
      }
      val out = stream.groupByKey(_.user_id)
        .transformWithState(new TimerSessions, TimeMode.EventTime(),
          OutputMode.Append())
      runToMemory(s, out.toDF(), "st15_out", "append")
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ── st10: SLIDING (hopping) windows — 1-hour windows every 15
    // minutes, so each event lands in exactly 4 overlapping windows.
    // The window() expression expands rows map-side (a 4× fan-out
    // BEFORE the shuffle, but post partial-agg the shuffle carries one
    // row per (window, type) — the fan-out never crosses the wire
    // materialized). Epoch-aligned starts make the DuckDB restatement
    // a generate_series(0,3) cross join.
    "st10_stream_sliding" -> ((s, d) => withStatePartitions(s) {
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
      val agg = stream
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      runToMemory(s, agg, "st10_out", "complete").orderBy(col("window_start"), col("event_type"))
    }),

    // ── st09: CHECKPOINT RECOVERY — the property that makes streaming
    // restartable at all: source offsets are committed to the
    // checkpoint, so a NEW query started on the same checkpoint resumes
    // after what was already processed instead of replaying it. The
    // query runs the same AvailableNow pass TWICE into an append-mode
    // parquet sink; if restart semantics were broken the second pass
    // would double every row and the count oracle would fail. (This is
    // restart-level exactly-once — the per-batch idempotence of a
    // foreachBatch retry is the sink's job, e.g. overwrite-by-batch-id;
    // here each source file is exactly one committed batch.)
    "st09_checkpoint_recovery" -> ((s, d) => withStatePartitions(s) {
      val outDir = graft.Scratch.dir(s, "graft_st09", d)
      val ckpt = graft.Scratch.dir(s, "graft_st09_ckpt", d)
      def runOnce(): Unit = {
        val stream = s.readStream
          .schema(eventsSchema)
          .parquet(s"$d/events.parque[t]")
          .select(col("event_id"), col("event_type"))
        val q = stream.writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(outDir)
          }
          .start()
        q.awaitTermination()
      }
      runOnce()
      runOnce() // restart from the same checkpoint: nothing to replay
      s.read.parquet(outDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // ── st13: RocksDB CHANGELOG CHECKPOINTING — the production knob on
    // top of st07: instead of uploading full RocksDB snapshots to the
    // checkpoint per batch, only the batch's state CHANGELOG is
    // persisted (snapshots upload in the background, decoupled from the
    // commit path). At 100 TB stream scale this is the difference
    // between per-batch checkpoint cost tracking STATE SIZE vs tracking
    // BATCH SIZE. The swap must be result-invariant, so st13 runs the
    // st04/st07 dedup semantics against the same oracle, with a real
    // checkpoint dir since changelogs need one.
    "st13_changelog_ckpt" -> ((s, d) => withStatePartitions(s,
        RocksDb + ("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled" -> "true")) {
      def src() = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("event_id"), col("event_type"))
      val agg = src().union(src())
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      // cleared fixed checkpoint per invocation: reusing one would make
      // the second run (bench's min-of-2) a no-op against an already-
      // committed offset log and drain an empty memory table
      val ckpt = graft.Scratch.dir(s, "graft_st13_ckpt", d)
      graft.Scratch.deleteTree(ckpt)
      runToMemory(s, agg, "st13_out", "complete",
        Map("checkpointLocation" -> ckpt))
        .orderBy(col("event_type"))
    }),

    // ── st07: the st04 stateful dedup on the RocksDB state store. The
    // default (HDFS-backed) provider keeps every live key's state as
    // JVM objects on the executor heap — at 100 TB stream scale
    // (billions of in-watermark keys) that is an OOM/GC wall. RocksDB
    // moves state off-heap onto local disk with changelog-style
    // incremental snapshots; the heap holds only block cache. The swap
    // must be RESULT-INVARIANT, so st07 runs the same dedup semantics
    // as st04 against the same oracle — a differential gate over the
    // state backend itself.
    "st07_rocksdb_dedup" -> ((s, d) => withStatePartitions(s, RocksDb) {
      def src() = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("event_id"), col("event_type"))
      val agg = src().union(src())
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(s, agg, "st07_out", "complete").orderBy(col("event_type"))
    }),

    // ── st17: UPDATE output mode over a genuinely MULTI-BATCH run —
    // the third output contract (complete: whole result each batch;
    // append: finalized rows only; update: rows whose value CHANGED
    // this batch). The fixture is re-laid-out as 8 files and streamed
    // 2 per micro-batch, so the aggregation really does update the same
    // keys across ~4 batches and the sink accumulates one row per
    // (key, updating batch) — update mode's sink contract is upsert,
    // which the memory sink doesn't implement, so the drain applies the
    // upsert itself by keeping each key's LAST emitted row (counts grow
    // monotonically per key, making "last" = max(n)). Update is what a
    // real dashboard sink wants: per-batch deltas without append's
    // wait-for-watermark latency or complete's full-result rewrite.
    "st17_update_mode" -> ((s, d) => withStatePartitions(s) {
      val agg = multiBatchEventStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
      runToMemory(s, agg, "st17_out", "update")
        .groupBy(col("event_type"))
        .agg(max(struct(col("n"), col("user_sum"))).as("last"))
        .select(col("event_type"), col("last.n").as("n"),
          col("last.user_sum").as("user_sum"))
        .orderBy(col("event_type"))
    }),

    // ── st18: streaming TOP-K leaderboard — global ORDER BY + LIMIT
    // inside the streaming query itself, legal ONLY in complete mode
    // (append/update cannot sort an unbounded result; Spark rejects
    // them at analysis). Each micro-batch recomputes the full top-5
    // from the running aggregate — the live-leaderboard shape. The
    // orderBy carries the unique user_id tie-break, so the emitted
    // top-5 is deterministic and the oracle can restate it exactly.
    // Runs on the 8-file relayout (2 files/trigger) so the full top-5
    // really is recomputed and re-emitted across ~4 micro-batches —
    // over the single-file fixture the "per-batch recompute" would be
    // one batch, i.e. a batch query in disguise.
    "st18_stream_topk" -> ((s, d) => withStatePartitions(s) {
      val top = multiBatchEventStream(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id").asc)
        .limit(5)
      runToMemory(s, top, "st18_out", "complete")
        .orderBy(col("n").desc, col("user_id").asc)
    }),

    // ── st19: NATIVE session_window under streaming — q48's dynamic-gap
    // operator with a watermark in append mode. Unlike st02/st12 (custom
    // state processors), the session merge runs inside Spark's windowing
    // aggregation itself: the state store keeps open sessions per key,
    // arriving events extend/merge them, and a session only EMITS once
    // the watermark passes its end (last event + gap) — closed means
    // closed, no retraction. Sessions still open when the stream ends
    // are never emitted, so the oracle restates exactly the
    // watermark-closed subset at the watermark's MILLISECOND granularity
    // (event-time stats are tracked in ms; the fixture's µs components
    // make that truncation visible, st15's lesson).
    "st19_stream_session_window" -> ((s, d) => withStatePartitions(s) {
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
      val agg = stream
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n"))
      runToMemory(s, agg, "st19_out", "append")
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ── st20: CHAINED STREAMING AGGREGATIONS — two stateful aggregates
    // in ONE streaming query (Spark 3.4+ allows multiple stateful
    // operators in append mode when each re-windows the previous
    // window column): per-15-minute counts roll up into hourly
    // peak-quarter + total. Before this was supported the second
    // aggregation forced a second query over an intermediate sink —
    // double checkpointing, double latency; here the engine derives the
    // second operator's event time from the first's window column and
    // propagates the watermark through. An emitted hour closed under
    // the watermark, which closes all four of its quarters too, so the
    // batch restatement needs no per-quarter emission modeling.
    "st20_chained_stream_aggs" -> ((s, d) => withStatePartitions(s) {
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
      val perQuarter = stream
        .groupBy(window(col("ts"), "15 minutes").as("w15"), col("event_type"))
        .agg(count(lit(1)).as("n15"))
      val hourly = perQuarter
        .groupBy(window(col("w15"), "1 hour").as("w60"), col("event_type"))
        .agg(max(col("n15")).as("max_quarter"), sum(col("n15")).as("n_hour"))
        .select(col("w60.start").as("window_start"), col("event_type"),
          col("max_quarter"), col("n_hour"))
      runToMemory(s, hourly, "st20_out", "append")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── st23: DEDUP → WINDOWED AGG chained in one query — the other
    // multi-stateful-operator pairing next to st20's agg→agg: the
    // at-least-once upstream (the doubled union) is first collapsed by
    // watermark-bounded dedup state, and the SAME query then windows
    // and aggregates the deduplicated stream, emitting each hour once
    // the watermark closes it. One checkpoint, one watermark
    // propagated through both state stores — before multi-stateful
    // support this took an intermediate sink and a second query, which
    // doubled latency and made the dedup horizon and the window
    // closure drift independently.
    "st23_dedup_then_window" -> ((s, d) => withStatePartitions(s) {
      val agg = dedupedEventStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"))
      runToMemory(s, agg, "st23_out", "append")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── st24: OPERATIONAL OBSERVABILITY — a `StreamingQueryListener`
    // accumulates per-batch progress (input rows, non-empty batch
    // count) while a genuinely multi-batch run (8 files, 2 per
    // trigger) drains to the sink. The hashed contract: the listener's
    // input-row total equals the sink's row count equals the table
    // count (no rows lost between source, engine, and metrics
    // pipeline), and the run really took ≥2 batches — the listener is
    // how production monitors lag/throughput without touching the
    // query itself. Listener events ride an async bus: the
    // terminated-event latch (matched by query id captured at start)
    // is the only correct wait; sleeping after awaitTermination races.
    "st24_listener_metrics" -> ((s, d) => withStatePartitions(s) {
      import s.implicits._
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import java.util.concurrent.{CountDownLatch, TimeUnit}
      val rows = new java.util.concurrent.atomic.AtomicLong(0)
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      val qid = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
      val done = new CountDownLatch(1)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          if (e.name == "st24_out") qid.set(e.id)
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.name == "st24_out") {
            rows.addAndGet(e.progress.numInputRows)
            if (e.progress.numInputRows > 0) batches.incrementAndGet()
          }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == qid.get()) done.countDown()
      }
      s.streams.addListener(listener)
      try {
        val sink = runToMemory(s,
          multiBatchEventStream(s, d).select(col("event_id")),
          "st24_out", "append")
        val nSink = sink.count()
        require(done.await(60, TimeUnit.SECONDS),
          "listener terminated event not delivered")
        Seq((rows.get(), nSink, batches.get() >= 2))
          .toDF("n_input_rows", "n_sink_rows", "multi_batch")
      } finally s.streams.removeListener(listener)
    }),

    // ── st28: UNION OF INDEPENDENTLY-WATERMARKED STREAMS — a pipeline
    // fed by several upstreams (two topics, two landing dirs) rarely
    // sees them equally fresh. Each branch declares its OWN lateness
    // horizon (clicks 10 min, purchases 2 h); after the union, Spark's
    // multipleWatermarkPolicy (default MIN) advances the query's
    // global watermark only as far as the SLOWEST branch allows, so
    // append-mode windows — including click-only ones — are held until
    // the laggard source can no longer contribute late rows. That
    // cross-source coupling is the whole point: emitting click windows
    // on the click watermark alone would silently drop late purchases.
    // The oracle restates exactly this LEAST() policy.
    "st28_union_watermarks" -> ((s, d) => withStatePartitions(s) {
      def src(tpe: String, delay: String) = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .withColumn("ts", col("ts").cast("timestamp"))
        .filter(col("event_type") === tpe)
        .select(col("event_type"), col("ts"))
        .withWatermark("ts", delay)
      val agg = src("click", "10 minutes")
        .union(src("purchase", "2 hours"))
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n"))
      runToMemory(s, agg, "st28_out", "append")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── st29: STREAM → CUSTOM DSv2 SINK — the connector matrix's last
    // cell (batch read q83, batch write q87, stream read st27; this is
    // stream write). The multi-batch relayout (2 files/trigger → ≥4
    // epochs) drains through `StreamingWrite`: per-task folds ship as
    // commit messages, each epoch merges into the tag's cumulative
    // state exactly once (the committed-epoch-id guard makes retried
    // epoch deliveries no-ops — the protocol-native form of st25's
    // hand-rolled idempotency). multi_batch pins that ≥2 epochs really
    // committed; totals must equal DuckDB aggregating the table
    // directly, so a lost or double-merged epoch fails the hash.
    "st29_stream_custom_sink" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val tag = "st29_" + graft.Scratch.tag(d) + "_" +
        s.sparkContext.applicationId
      val ckpt = graft.Scratch.dir(s, "graft_st29_ckpt", d)
      val q = multiBatchEventStream(s, d)
        .select(col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .writeStream.format("graft.sources.AggSinkProvider")
        .option("tag", tag)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val (epochs, (n, sum, mn, mx)) =
        graft.sources.AggSink.streamState.getOrElse(tag,
          sys.error("streaming sink did not publish"))
      Seq((n, sum, mn, mx, epochs.size >= 2))
        .toDF("n_rows", "sum_cents", "min_event_id", "max_event_id",
          "multi_batch")
    }),

    // ── st30: TIME TRAVEL over versioned snapshots — the lake-format
    // read the CDC family (q47/q51/q92/q100) and st25 stop just short
    // of: every batch of an upsert stream commits a full snapshot
    // directory v0,v1,…, and a reader can open the table AS OF any
    // committed version. st25's snapshot dirs can't be oracle-read at
    // a mid version (its file→batch split is engine-internal); here
    // the change feed is made DETERMINISTIC — events laid out as 8
    // chunk dirs keyed by event_id % 8, each file's modTime forced
    // into chunk order, streamed 2 files per trigger — so batch k is
    // exactly chunks {2k, 2k+1} and the v1 snapshot is the fold of
    // chunks 0–3. The query reads v1 (never the final version) and
    // the oracle re-folds the same prefix (event_id % 8 IN (0..3))
    // from the raw table: "as of batch 1" must EQUAL the prefix-fold
    // of changes, which is the whole time-travel contract.
    // four_versions pins that the drain really committed 4 snapshots
    // (otherwise "v1" could be the final table and the check vacuous).
    "st30_time_travel" -> ((s, d) => withStatePartitions(s) {
      val src = graft.Scratch.dir(s, "graft_st30_src", d)
      val stateDir = graft.Scratch.dir(s, "graft_st30_state", d)
      graft.Scratch.materializeOnce(src) {
        val ev = graft.Tables.events(s, d)
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
          .select(eventsSchema.fieldNames.map(col).toIndexedSeq: _*)
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 7) {
          val dir = s"$src/c$c"
          ev.filter(pmod(col("event_id"), lit(8)) === c)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          // modTime strictly increasing with chunk id: the file source
          // orders by (modTime, path), so either key yields c0..c7.
          // setLastModified may silently no-op on some filesystems —
          // fail loudly instead of letting the batch split (and the
          // time-travel oracle) go nondeterministic.
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st30's deterministic file->batch " +
                "mapping does not hold")
          }
        }
      }
      graft.Scratch.materializeOnce(stateDir) {
        val cur = new java.util.concurrent.atomic.AtomicReference[String](null)
        val q = s.readStream.schema(eventsSchema)
          .option("maxFilesPerTrigger", "2")
          .parquet(s"$src/c*")
          .withColumn("ts", col("ts").cast("timestamp"))
          .writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val next = s"$stateDir/v$batchId"
            if (cur.get != next) { // st25's retry guard
              val delta = batch.select(col("user_id"),
                unix_micros(col("ts")).as("last_ts_us"),
                col("event_id").as("last_event_id"), lit(1L).as("n_events"))
              val merged = Option(cur.get) match {
                case None    => upsertMerge(delta)
                case Some(p) => upsertMerge(s.read.parquet(p).unionByName(delta))
              }
              merged.write.mode("overwrite").parquet(next)
              cur.set(next)
            }
          }
          .start()
        q.awaitTermination()
      }
      val nVersions = Option(new java.io.File(stateDir).listFiles())
        .map(_.count(f => f.isDirectory && f.getName.startsWith("v")))
        .getOrElse(0)
      s.read.parquet(s"$stateDir/v1") // time travel: AS OF batch 1
        .withColumn("four_versions", lit(nVersions == 4))
        .orderBy(col("user_id"))
    }),

    // ── st32: STREAMING INCREMENTAL DEDUP — d15's bloom-gated
    // membership at the cadence it exists for: NEW documents arrive as
    // a multi-batch stream and each micro-batch dedups against the
    // ACCUMULATED digest store, which then absorbs the batch's
    // survivors. Per batch, d15's exact two-phase shape runs verbatim:
    // the store's digests fold into a BloomFilterAggregate scalar
    // subquery; bloom-NEGATIVES are definite survivors with zero join
    // work (no false negatives); only the positive minority pays the
    // exact (len, dg) confirm anti-join — so per-batch join cost
    // tracks the duplicate rate, not the corpus size, which is the
    // 100 TB daily-crawl economics. The store is an APPEND-ONLY digest
    // segment directory (12-byte rows, never text — d01's narrow-key
    // discipline), initialized from the old corpus and gaining one
    // survivor segment per batch; storing survivors-only is
    // result-identical to storing all (a non-survivor's digest is
    // already present — that is why it did not survive).
    //
    // Determinism is st30's machinery: the new side (top-20% ids) laid
    // out as 4 chunk dirs keyed by doc_id % 4, mtime-forced into chunk
    // order, 2 files per trigger → batch b = chunks {2b, 2b+1}, so the
    // oracle can restate "earlier batch" as (doc_id % 4) // 2 < b.
    // Equal to the batch d15 answer whenever no duplicate digest pair
    // spans two new batches (within-batch new×new dups survive in
    // both, exactly d15's new-vs-old contract); the oracle states the
    // stream's own contract — old ∪ earlier-batch — which the doubled
    // corpus makes coincide. multi_batch pins the drain really split
    // (≥2 batches), else the incremental path degenerates to d15.
    "st32_stream_dedup" -> ((s, d) => withStatePartitions(s) {
      val src = graft.Scratch.dir(s, "graft_st32_src", d)
      val storeDir = graft.Scratch.dir(s, "graft_st32_store", d)
      val outDir = graft.Scratch.dir(s, "graft_st32_out", d)
      val all = graft.Tables.documents(s, d)
      val cut = all.agg(expr("(max(doc_id) + 1) * 4 div 5").as("c"))
      graft.Scratch.materializeOnce(src) {
        val nw = all.crossJoin(broadcast(cut))
          .filter(col("doc_id") >= col("c")).drop("c")
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 3) {
          val dir = s"$src/c$c"
          nw.filter(pmod(col("doc_id"), lit(4)) === c)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st32's deterministic file->batch " +
                "mapping does not hold")
          }
        }
      }
      // the store (and the survivor sink) reset per INVOCATION — the
      // overwrite clears any prior run's appended segments, so bench's
      // min-of-2 and Verify see identical state
      all.crossJoin(broadcast(cut)).filter(col("doc_id") < col("c"))
        .select(length(col("text")).as("len"), xxhash64(col("text")).as("dg"))
        .write.mode("overwrite").parquet(storeDir)
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val q = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$src/c*")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          nBatches.incrementAndGet()
          val store = ss.read.parquet(storeDir)
          batch.select(col("doc_id"), length(col("text")).as("len"),
              xxhash64(col("text")).as("dg"))
            .createOrReplaceTempView("st32_batch")
          store.createOrReplaceTempView("st32_store")
          val gated = ss.sql("""SELECT doc_id, len, dg,
            bloom_might_contain(
              (SELECT bloom_agg(dg, 10000L, 80000L) FROM st32_store), dg)
              AS maybe_dup
            FROM st32_batch""")
          // materialized once: the survivor set feeds BOTH the sink
          // append and the store segment; recomputing it after the
          // store append would read the segment being written
          val survivors = gated.filter(!col("maybe_dup"))
            .select(col("doc_id"), col("len"), col("dg"))
            .unionByName(gated.filter(col("maybe_dup"))
              .join(store, Seq("len", "dg"), "left_anti")
              .select(col("doc_id"), col("len"), col("dg")))
            .localCheckpoint()
          val mode = if (batchId == 0L) "overwrite" else "append"
          survivors.select(col("doc_id")).write.mode(mode).parquet(outDir)
          survivors.select(col("len"), col("dg"))
            .write.mode("append").parquet(storeDir)
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .withColumn("multi_batch", lit(nBatches.get >= 2))
        .orderBy(col("doc_id"))
    }),

  )

  val oracles: Map[String, String] = Map(
    "st01_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same oracle as the batch window sessionization (q24)
    "st02_stream_sessionize" ->
      """SELECT user_id, COUNT(*) AS n_events, CAST(SUM(is_new) AS BIGINT) AS n_sessions FROM (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL THEN 1
        |    WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000 THEN 1
        |    ELSE 0 END AS is_new
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // append mode emits only windows closed by the watermark:
    // window_end ≤ max(ts) − 10 minutes
    "st03_stream_watermark" ->
      """WITH mx AS (SELECT max(ts) AS mts FROM events)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events, mx
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mts - INTERVAL 10 MINUTE
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the partitioned-sink round trip must preserve the hourly agg
    // exactly (same statement as st01's, minus the value sum)
    "st05_stream_sink_parity" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // stateful dedup must collapse the doubled stream to batch-distinct
    "st04_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the new-API processor must agree with the old-API one (st02) and
    // the batch window formulation (q24)
    "st12_transform_with_state" ->
      """SELECT user_id, COUNT(*) AS n_events, CAST(SUM(is_new) AS BIGINT) AS n_sessions FROM (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL THEN 1
        |    WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000 THEN 1
        |    ELSE 0 END AS is_new
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // bounded or not, dedup must collapse the doubled stream
    "st11_dedup_bounded_state" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the closed-by-final-watermark subset of batch gap-sessions, at
    // the timers' millisecond granularity: a session emits iff its
    // close point (end + gap, in ms) precedes the final watermark
    // (max event time − 1 h, in ms)
    "st15_timer_sessions" ->
      """WITH mx AS (
        |  SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM events),
        |sess AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |           THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |g AS (SELECT user_id, us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sess),
        |iv AS (SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us
        |       FROM g GROUP BY 1, 2)
        |SELECT user_id, start_us, end_us FROM iv, mx
        |WHERE (end_us + 1800000000) // 1000 < wm_ms
        |ORDER BY user_id, start_us""".stripMargin,

    // each event belongs to the 4 slide-aligned windows covering it
    "st10_stream_sliding" ->
      """WITH w AS (
        |  SELECT event_type,
        |    make_timestamp((epoch_us(ts) // 900000000 - j) * 900000000)
        |      AS window_start
        |  FROM events, generate_series(0, 3) AS t(j))
        |SELECT window_start, event_type, COUNT(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // a broken restart would double every count
    "st09_checkpoint_recovery" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // checkpoint mechanics must never change the answer: st13 shares
    // st04/st07's oracle
    "st13_changelog_ckpt" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the state-backend swap must not change the answer: st07 shares
    // st04's oracle
    "st07_rocksdb_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // after the drain's upsert, update mode must land on the full-input
    // aggregate — batching must not lose or double any delta
    "st17_update_mode" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS user_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the final complete-mode emission is exactly the batch top-5
    // (unique user_id tie-break makes the cut deterministic)
    "st18_stream_topk" ->
      """SELECT user_id, COUNT(*) AS n FROM events
        |GROUP BY user_id ORDER BY n DESC, user_id ASC LIMIT 5""".stripMargin,

    // the watermark-closed subset of batch gap-sessions: session end =
    // last event + 30 min gap (µs), emitted iff end ≤ final watermark
    // (max event time truncated to ms, minus 1 h, back in µs — the
    // engine tracks event-time stats in ms)
    "st19_stream_session_window" ->
      """WITH mx AS (
        |  SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events),
        |sess AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |           THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |g AS (SELECT user_id, us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sess),
        |iv AS (SELECT user_id, min(us) AS start_us,
        |         max(us) + 1800000000 AS end_us, COUNT(*) AS n
        |       FROM g GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n FROM iv, mx
        |WHERE end_us <= wm_us
        |ORDER BY user_id, start_us""".stripMargin,

    // hours closed by the final watermark (ms-truncated event-time
    // stats), each restated as max/sum over its 15-minute quarters
    "st20_chained_stream_aggs" ->
      """WITH mx AS (
        |  SELECT (max(epoch_us(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events),
        |qc AS (SELECT event_type, epoch_us(ts) // 900000000 AS qidx,
        |         COUNT(*) AS n15
        |       FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, qidx // 4 AS hidx,
        |        MAX(n15) AS max_quarter, CAST(SUM(n15) AS BIGINT) AS n_hour
        |      FROM qc GROUP BY 1, 2)
        |SELECT make_timestamp(hidx * 3600000000) AS window_start,
        |  event_type, max_quarter, n_hour
        |FROM h, mx
        |WHERE (hidx + 1) * 3600000000 <= wm_us
        |ORDER BY window_start, event_type""".stripMargin,

    // distinct events per watermark-closed hour: the dedup must collapse
    // the doubled stream BEFORE the window counts it, and only hours
    // the final watermark closed emit (st03's closure rule, ms-safe
    // because hour bounds are whole seconds)
    "st23_dedup_then_window" ->
      """WITH mx AS (
        |  SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events),
        |h AS (
        |  SELECT DISTINCT event_id, event_type,
        |    epoch_us(ts) // 3600000000 AS hidx
        |  FROM events)
        |SELECT make_timestamp(hidx * 3600000000) AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM h, mx
        |WHERE (hidx + 1) * 3600000000 <= wm_us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // conservation of rows: listener total = sink total = table count;
    // the multi-batch boolean restates as TRUE (8 files / 2 per trigger)
    "st24_listener_metrics" ->
      """SELECT COUNT(*) AS n_input_rows, COUNT(*) AS n_sink_rows,
        |  TRUE AS multi_batch
        |FROM events""".stripMargin,

    // the MIN-across-sources watermark policy restated: a window (of
    // either branch) is emitted iff its end clears BOTH branches'
    // final watermarks
    "st28_union_watermarks" ->
      """WITH gw AS (SELECT LEAST(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click')
        |      - INTERVAL 10 MINUTE,
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
        |      - INTERVAL 2 HOUR) AS wm)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events, gw
        |WHERE event_type IN ('click', 'purchase')
        |  AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // time travel: the v1 snapshot must equal the prefix-fold of the
    // deterministic change feed — batches 0–1 are exactly the
    // event_id % 8 ∈ {0,1,2,3} chunks (st25's fold, filtered to them)
    "st30_time_travel" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  max_by(event_id,
        |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id)
        |    AS last_event_id,
        |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_ts_us,
        |  TRUE AS four_versions
        |FROM events WHERE event_id % 8 IN (0, 1, 2, 3)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q87's aggregate plus the ≥2-epoch pin: the cumulative published
    // state after the drain must equal aggregating the table directly
    "st29_stream_custom_sink" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  MIN(event_id) AS min_event_id,
        |  MAX(event_id) AS max_event_id,
        |  TRUE AS multi_batch
        |FROM events""".stripMargin,

    // the stream's own contract restated over text (digest assumed
    // collision-free, d01's contract): a new doc survives iff no OLD
    // doc nor any EARLIER-BATCH new doc duplicates it, where batch
    // membership is the deterministic chunk split (doc_id % 4) // 2
    "st32_stream_dedup" ->
      """WITH cut AS (SELECT (MAX(doc_id) + 1) * 4 // 5 AS c
        |             FROM documents),
        |nw AS (SELECT doc_id, text, (doc_id % 4) // 2 AS b
        |       FROM documents, cut WHERE doc_id >= c),
        |old AS (SELECT text FROM documents, cut WHERE doc_id < c),
        |dup AS (SELECT DISTINCT n.doc_id FROM nw n
        |        WHERE EXISTS (SELECT 1 FROM old o WHERE o.text = n.text)
        |           OR EXISTS (SELECT 1 FROM nw p
        |                      WHERE p.text = n.text AND p.b < n.b))
        |SELECT n.doc_id, TRUE AS multi_batch FROM nw n
        |WHERE n.doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY n.doc_id""".stripMargin,

  )
}
