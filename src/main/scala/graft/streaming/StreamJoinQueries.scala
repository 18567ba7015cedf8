package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import StreamingOps._

/** Stream-stream and stream-static join queries (SURVEY.md §2.9):
  * the inner/left/right/full/semi/anti conversion-window family over
  * the clicks/purchases stream pair, the broadcast stream-static
  * enrichment, and the keyed foreachBatch upsert merge. Shared
  * fixtures live in [[StreamingOps]].
  */
private[streaming] object StreamJoinQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── st06: STREAM-STREAM inner join — clicks joined to the same
    // user's purchases within 30 minutes. Both sides are unbounded, so
    // the join is stateful: each side buffers rows until the other
    // side's watermark passes the time-range bound, then evicts — the
    // state-cleanup contract the time constraint exists for. Inner
    // join emits matches as they meet; the oracle is the batch
    // self-join restatement.
    "st06_stream_join" -> ((s, d) => withStatePartitions(s) {
      val (clicks, purchases) = clickPurchaseStreams(s, d)
      val joined = clicks.join(purchases, conversionWindow)
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
      runToMemory(s, joined, "st06_out", "append").orderBy(col("click_id"), col("purchase_id"))
    }),

    // ── st14: LEFT-OUTER stream-stream join — st06's inner join only
    // emits matches; the outer variant must ALSO emit unmatched clicks
    // with nulls, and may only do so once the watermark proves no
    // matching purchase can still arrive (the null row would otherwise
    // be retractable). State rows whose join window the watermark has
    // closed emit null-extended and evict; clicks still inside the
    // horizon when the query ends are discarded unemitted — so the
    // oracle restates exactly the watermark-closed subset: unmatched
    // clicks qualify iff c_ts + 30 min < min(max c_ts, max p_ts) − 1 h
    // (the final global watermark; AvailableNow's closing no-data batch
    // advances it).
    "st14_stream_left_join" -> ((s, d) => withStatePartitions(s) {
      val (clicks, purchases) = clickPurchaseStreams(s, d)
      val joined = clicks.join(purchases, conversionWindow, "left_outer")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
      runToMemory(s, joined, "st14_out", "append")
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // ── st08: STREAM-STATIC enrichment join — the standard streaming
    // shape: an unbounded fact stream joined against a bounded
    // dimension snapshot (customer). The static side is broadcast, so
    // enrichment is STATELESS — no watermark, no join state, each
    // micro-batch hash-probes the dim — which is what makes it cheap at
    // 100 TB/day ingest; only the downstream aggregation keeps state.
    // (The dim snapshot is read once per (re)start; a slowly-changing
    // dim is a restart or a foreachBatch re-read away.)
    "st08_stream_static_join" -> ((s, d) => withStatePartitions(s) {
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("user_id"), col("value"))
      val dim = graft.Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = stream
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
      runToMemory(s, agg, "st08_out", "complete").orderBy(col("c_mktsegment"))
    }),

    // ── st16: stream-static ANTI join — the streaming BLOCKLIST
    // filter (drop events from suppressed users: opt-outs, bots,
    // abuse) that runs in front of every production event pipeline.
    // The static side is read fresh per micro-batch, so a blocklist
    // update applies from the next batch without a restart; as with
    // st08, the small static side broadcasts and the stream never
    // shuffles for the join. Left-anti is one of the four supported
    // stream-static shapes (inner/left-outer/semi/anti with the
    // static side on the right) — this pins the anti contract:
    // unmatched-only, stream rows never duplicated or buffered.
    "st16_stream_anti_join" -> ((s, d) => withStatePartitions(s) {
      val stream = s.readStream
        .schema(eventsSchema)
        .parquet(s"$d/events.parque[t]")
        .select(col("user_id"), col("event_type"), col("value"))
      val blocklist = graft.Tables(s, d, "customer")
        .filter(col("c_acctbal") < 0)
        .select(col("c_custkey"))
      val agg = stream
        .join(broadcast(blocklist), col("user_id") === col("c_custkey"),
          "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
      runToMemory(s, agg, "st16_out", "complete").orderBy(col("event_type"))
    }),

    // ── st21: FULL-OUTER stream-stream join — both unmatched sides
    // emit null-extended rows, each gated by its OWN watermark-derived
    // close point: an unmatched click emits when no purchase can still
    // arrive in (c_ts, c_ts+30min] — watermark past c_ts + 30 min
    // (st14's rule) — while an unmatched purchase emits when no click
    // can still arrive with c_ts ∈ [p_ts−30min, p_ts] — watermark past
    // p_ts itself. The asymmetry falls straight out of the join
    // condition's time bounds, and rows still inside their horizon at
    // stream end are discarded unemitted; the oracle restates both
    // closed subsets explicitly.
    "st21_stream_full_join" -> ((s, d) => withStatePartitions(s) {
      val (clicks, purchases) = clickPurchaseStreams(s, d)
      val joined = clicks.join(purchases, conversionWindow, "full_outer")
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          col("click_id"), col("purchase_id"))
      runToMemory(s, joined, "st21_out", "append")
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // ── st22: LEFT-SEMI stream-stream join — "clicks that converted":
    // each click emits AT MOST ONCE, as soon as any in-window purchase
    // matches, and carries no purchase columns — the streaming EXISTS.
    // Matched clicks emit on match (no watermark wait, unlike st14's
    // null rows); unmatched clicks just age out of state. With st26's
    // right-outer this completes all five stream-stream join types
    // Spark supports (inner st06 / left-outer st14 / right-outer st26 /
    // full-outer st21 / left-semi).
    "st22_stream_semi_join" -> ((s, d) => withStatePartitions(s) {
      val (clicks, purchases) = clickPurchaseStreams(s, d)
      val converted = clicks.join(purchases, conversionWindow, "left_semi")
        .select(col("c_user").as("user_id"), col("click_id"))
      runToMemory(s, converted, "st22_out", "append").orderBy(col("click_id"))
    }),

    // ── st26: RIGHT-OUTER stream-stream join — st14's mirror: every
    // match emits as it meets; an UNMATCHED PURCHASE emits
    // null-extended once no eligible click can still arrive, i.e. when
    // the watermark passes p_ts itself (a click matches with c_ts ∈
    // [p_ts − 30min, p_ts], so the last eligible click's event time IS
    // p_ts — st21's asymmetry, isolated on the right side). Completes
    // the five supported stream-stream join types.
    "st26_stream_right_join" -> ((s, d) => withStatePartitions(s) {
      val (clicks, purchases) = clickPurchaseStreams(s, d)
      val joined = clicks.join(purchases, conversionWindow, "right_outer")
        .select(col("p_user").as("user_id"), col("click_id"), col("purchase_id"))
      runToMemory(s, joined, "st26_out", "append")
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // ── st25: STREAMING KEYED UPSERT SINK — foreachBatch maintains a
    // materialized per-user table (event count + latest event by the
    // unique (ts, event_id) order) across a genuinely multi-batch run:
    // each micro-batch pre-aggregates to one row per key, then merges
    // associatively into the previous version and writes a NEW
    // versioned directory (read-then-overwrite of the same path would
    // re-read files the overwrite just deleted — versioned snapshots
    // with a pointer are the lake-format pattern, minus the format).
    // Because the merge is associative and the order key total, the
    // final table is independent of how the source split into batches.
    // q51 is this operator's batch half; st05 is the append-only sink
    // half. The argmax fold is 128-bit (decimal / HUGEINT): µs·10¹² +
    // event_id overflows int64.
    "st25_stream_upsert" -> ((s, d) => withStatePartitions(s) {
      val stateDir = graft.Scratch.dir(s, "graft_st25", d)
      // AtomicReference (not a captured var): written on the stream
      // execution thread, read on the caller thread after termination.
      // The pointer advances only AFTER a version commits, which makes
      // retries idempotent: a re-delivered batchId finds cur already at
      // its own version and no-ops (without the guard, the retry would
      // merge the delta into its own snapshot — double-counting — while
      // overwriting the very directory it is reading); a retry after a
      // PARTIAL write finds cur still at the previous version and
      // cleanly rebuilds v$batchId from it.
      val cur = new java.util.concurrent.atomic.AtomicReference[String](null)
      val q = multiBatchEventStream(s, d).writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val next = s"$stateDir/v$batchId"
          if (cur.get != next) {
            val delta = batch
              .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("last_ts_us"),
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
      s.read.parquet(Option(cur.get).getOrElse(sys.error("no batch ran")))
        .orderBy(col("user_id"))
    }),

  )

  val oracles: Map[String, String] = Map(
    // batch restatement of the windowed stream-stream join; epoch_us
    // mirrors the engine's ns→µs truncation
    "st06_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin,

    // matches as in st06, PLUS null rows for clicks whose join window
    // the final watermark closed without a match; NULLS FIRST mirrors
    // Spark's asc ordering. The watermark is ms-truncated (the engine
    // tracks event-time stats in ms) — at µs precision the oracle's
    // watermark would run up to 999 µs AHEAD of Spark's and could claim
    // null rows the engine never emits (st19/st20's lesson)
    "st14_stream_left_join" ->
      """WITH wm AS (
        |  SELECT (least(
        |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase'))
        |    // 1000 - 3600000) * 1000 AS w),
        |m AS (
        |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |    epoch_us(c.ts) AS c_us
        |  FROM events c LEFT JOIN events p
        |    ON p.event_type = 'purchase' AND p.user_id = c.user_id
        |   AND epoch_us(p.ts) >= epoch_us(c.ts)
        |   AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |  WHERE c.event_type = 'click')
        |SELECT user_id, click_id, purchase_id FROM m, wm
        |WHERE purchase_id IS NOT NULL OR c_us + 1800000000 < w
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,

    // stream-static enrichment equals the batch join
    "st08_stream_static_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the streaming blocklist equals the batch NOT-IN (c_custkey is
    // never null, so NOT IN == anti join)
    "st16_stream_anti_join" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // st14's click-side rows PLUS unmatched purchases whose click
    // horizon ([p_ts − 30 min, p_ts]) the final ms-truncated watermark
    // closed
    "st21_stream_full_join" ->
      """WITH wm AS (
        |  SELECT (least(
        |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase'))
        |    // 1000 - 3600000) * 1000 AS w),
        |m AS (
        |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |    epoch_us(c.ts) AS c_us
        |  FROM events c LEFT JOIN events p
        |    ON p.event_type = 'purchase' AND p.user_id = c.user_id
        |   AND epoch_us(p.ts) >= epoch_us(c.ts)
        |   AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |  WHERE c.event_type = 'click'),
        |pu AS (
        |  SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
        |    p.event_id AS purchase_id
        |  FROM events p, wm
        |  WHERE p.event_type = 'purchase'
        |    AND epoch_us(p.ts) < w
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events c
        |      WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |        AND epoch_us(p.ts) >= epoch_us(c.ts)
        |        AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000))
        |SELECT user_id, click_id, purchase_id FROM (
        |  SELECT user_id, click_id, purchase_id FROM m, wm
        |  WHERE purchase_id IS NOT NULL OR c_us + 1800000000 < w
        |  UNION ALL
        |  SELECT user_id, click_id, purchase_id FROM pu)
        |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    // the streaming EXISTS: clicks with at least one in-window purchase,
    // emitted once each — the batch semi join restates it exactly
    "st22_stream_semi_join" ->
      """SELECT c.user_id, c.event_id AS click_id
        |FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |    AND epoch_us(p.ts) >= epoch_us(c.ts)
        |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000)
        |ORDER BY click_id""".stripMargin,

    // st06's inner matches + purchases whose click horizon the final
    // (ms-truncated) watermark closed without a match — st21's
    // purchase-side subset, isolated
    "st26_stream_right_join" ->
      """WITH wm AS (
        |  SELECT (least(
        |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase'))
        |    // 1000 - 3600000) * 1000 AS w),
        |m AS (
        |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |  FROM events c JOIN events p
        |    ON c.event_type = 'click' AND p.event_type = 'purchase'
        |   AND p.user_id = c.user_id
        |   AND epoch_us(p.ts) >= epoch_us(c.ts)
        |   AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000),
        |pu AS (
        |  SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
        |    p.event_id AS purchase_id
        |  FROM events p, wm
        |  WHERE p.event_type = 'purchase'
        |    AND epoch_us(p.ts) < w
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events c
        |      WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |        AND epoch_us(p.ts) >= epoch_us(c.ts)
        |        AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000))
        |SELECT user_id, click_id, purchase_id FROM (
        |  SELECT * FROM m UNION ALL SELECT * FROM pu)
        |ORDER BY click_id NULLS FIRST, purchase_id""".stripMargin,

    // batch-split-independent final state: total count + argmax by the
    // same 128-bit (µs, event_id) fold
    "st25_stream_upsert" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  max_by(event_id,
        |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id)
        |    AS last_event_id,
        |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_ts_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

  )
}
