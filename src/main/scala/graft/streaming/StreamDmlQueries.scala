package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.RowStore
import StreamingOps._

/** DML-catalog streaming queries (SURVEY.md §2.9): streaming MERGE
  * into MOR tables, change-data-feed reads, streaming reads of and
  * exactly-once writes to catalog tables (manifest version as the
  * transaction counter), the streaming ANN upsert against cached IVF
  * centroids, and the bronze→silver→gold medallion chain. Shared
  * fixtures live in [[StreamingOps]].
  */
private[streaming] object StreamDmlQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── st31: STREAMING MERGE — st25's keyed upsert re-expressed the
    // way a lake-format pipeline actually writes it: each micro-batch
    // pre-aggregates to one row per key, then a real SQL MERGE INTO
    // folds it into the DML-catalog table (WHEN MATCHED updates the
    // count and takes the later (ts, event_id) event under standard
    // evaluate-against-the-old-row assignment semantics; WHEN NOT
    // MATCHED inserts). The engine's group-based rewrite does the
    // join+replace st25 hand-rolls with versioned directories — same
    // associative fold, same oracle, so the two implementations gate
    // each other. (Production adds a batchId guard for retry
    // idempotence, st25's pointer pattern; AvailableNow drains don't
    // retry.)
    "st31_stream_merge" -> ((s, d) => withStatePartitions(s) {
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.user_state")
      s.sql("CREATE TABLE graft_dml.ns.user_state (user_id BIGINT, " +
        "n_events BIGINT, last_event_id BIGINT, last_ts_us BIGINT)")
      val q = multiBatchEventStream(s, d).writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val delta = batch.select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("last_ts_us"),
            col("event_id").as("last_event_id"), lit(1L).as("n_events"))
          // one row per key: MERGE rejects multi-matching sources
          upsertMerge(delta).createOrReplaceTempView("st31_delta")
          batch.sparkSession.sql("""MERGE INTO graft_dml.ns.user_state t
            USING st31_delta s
            ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET
              n_events = t.n_events + s.n_events,
              last_event_id = CASE
                WHEN s.last_ts_us > t.last_ts_us OR
                  (s.last_ts_us = t.last_ts_us AND
                   s.last_event_id > t.last_event_id)
                THEN s.last_event_id ELSE t.last_event_id END,
              last_ts_us = CASE WHEN s.last_ts_us > t.last_ts_us
                THEN s.last_ts_us ELSE t.last_ts_us END
            WHEN NOT MATCHED THEN INSERT
              (user_id, n_events, last_event_id, last_ts_us)
              VALUES (s.user_id, s.n_events, s.last_event_id, s.last_ts_us)""")
          ()
        }
        .start()
      q.awaitTermination()
      s.table("graft_dml.ns.user_state").orderBy(col("user_id"))
    }),

    // ── st39: STREAMING CDC APPLY UNDER DELETION VECTORS — the
    // high-churn cadence q154's feature exists for, driven for real:
    // a MOR table with 'deletes'='dv' receives one CDC micro-batch
    // per trigger (upserts + deletes via a tri-clause MERGE), and the
    // delete halves of SUCCESSIVE batches hit the SAME base files —
    // the fixture routes deletes k ≡ 0 (mod 12) into batch 1 and
    // k ≡ 6 (mod 12) into batch 2, both even keys, both bucket 0, so
    // the second batch must UNION-REPLACE the first batch's vector
    // rather than stack a second entry. In-plan pins: `multi_batch`
    // (the churn really was incremental) and `dv_bounded` (after the
    // drain, every data file carries AT MOST ONE vector — the
    // replay-cost invariant; entry count tracks touched files, never
    // batches × deletes). The final state is a pure relational fold
    // the oracle restates from raw orders.
    "st39_stream_merge_dv" -> ((s, d) => withStatePartitions(s) {
      val src = graft.Scratch.dir(s, "graft_st39_src", d)
      graft.Scratch.materializeOnce(src) {
        // the CDC stream: every seeded key (k%6=0) plus new keys
        // (k%6=3); op D for k%12 in (0,6) — one batch's worth each
        val slice = graft.Tables(s, d, "orders")
          .filter(expr("o_orderkey % 6 IN (0, 3)"))
          .selectExpr("CAST(o_orderkey AS BIGINT) AS k",
            "CAST(round(o_totalprice * 100) AS BIGINT) + 7 AS cents",
            "CASE WHEN o_orderkey % 12 IN (0, 6) THEN 'D' ELSE 'U' END " +
              "AS op")
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 3) {
          val dir = s"$src/c$c"
          slice.filter(pmod(col("k"), lit(4)) === c)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st39's deterministic file->batch " +
                "mapping does not hold")
          }
        }
      }
      graft.Tables(s, d, "orders").createOrReplaceTempView("st39_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cdcdv")
      s.sql("CREATE TABLE graft_dml.ns.cdcdv (k BIGINT, cents BIGINT) " +
        "PARTITIONED BY (bucket(2, k)) " +
        "TBLPROPERTIES ('format'='mor','deletes'='dv')")
      s.sql("""INSERT INTO graft_dml.ns.cdcdv
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM st39_orders WHERE o_orderkey % 6 = 0""")
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType)))
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$src/c*")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          nBatches.incrementAndGet()
          batch.createOrReplaceTempView("st39_delta")
          batch.sparkSession.sql("""MERGE INTO graft_dml.ns.cdcdv t
            USING st39_delta s ON t.k = s.k
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET cents = s.cents
            WHEN NOT MATCHED AND s.op <> 'D' THEN
              INSERT (k, cents) VALUES (s.k, s.cents)""")
          ()
        }
        .start()
      q.awaitTermination()
      val key = "graft_dml.ns.cdcdv"
      val lake = RowStore.of(s)
      val es = lake.readManifest(key, lake.currentVersion(key))
      val dvEntries = es.filter(_.kind == "dv")
      val dvBounded = dvEntries.nonEmpty &&
        dvEntries.flatMap(_.dvTarget).distinct.size == dvEntries.size
      s.table(key)
        .withColumn("multi_batch", lit(nBatches.get >= 2))
        .withColumn("dv_bounded", lit(dvBounded))
        .orderBy(col("k"))
    }),

    // ── st33: STREAMING CHANGE-FEED READ — `readStream.table(
    // "<t>.changes")` follows the DML table's commit history, ONE
    // VERSION PER MICRO-BATCH (the connector's admission control pins
    // offset = committed version), which is how Delta/Iceberg CDF
    // streams feed downstream CDC consumers. The q106 lifecycle
    // commits v1 (seed INSERT), v2 (MERGE), v3 (DELETE); the drain
    // must therefore produce exactly three batches whose contents are
    // the three per-commit diffs — the oracle restates each from raw
    // orders and tags it with its version, so a batch boundary drift
    // (two commits folded into one batch, or a diff attributed to the
    // wrong version) breaks the hash, not just a count. multi_batch
    // pins the per-version stepping really happened.
    // ── st41: STREAMING INCREMENTAL VIEW MAINTENANCE — q171's batch
    // fold run CONTINUOUSLY: the aggregate view table starts EMPTY and
    // is built entirely by streaming the base table's change feed from
    // version 0 — the view never reads the base table at all. Each
    // micro-batch (= one commit's diff, the st33 batch contract) folds
    // its per-category delta (±rows, ±cents; updates arrive as
    // delete+insert and cancel to the value diff) into the view with a
    // MERGE, so after the drain the view has replayed INSERT → MERGE →
    // DELETE commit by commit. At 100 TB this is the always-fresh
    // dashboard pattern: per-trigger work is the CHANGED groups' diff
    // plus a category-cardinality MERGE, never a corpus scan. Pinned
    // in-plan: the streamed view equals a full recompute (mismatch
    // count 0) and the per-commit stepping really happened
    // (multi_batch, ≥3 batches). The oracle restates the final view
    // from raw orders with the lifecycle applied relationally.
    "st41_stream_ivm" -> ((s, d) => withStatePartitions(s) {
      val lifecycleTable =
        graft.sources.RowCatalogQueries.sharedLifecycle(s, d, mor = false)
      val preV = RowStore.of(s).currentVersion(lifecycleTable)
      require(preV == 3, s"st41 expects the lifecycle at version 3, " +
        s"found $preV — a statement's write was elided at this scale")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.sivmv")
      s.sql("CREATE TABLE graft_dml.ns.sivmv " +
        "(cat STRING, n BIGINT, sum_cents BIGINT)")
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.option("from", "0")
        .table(s"$lifecycleTable.changes")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          nBatches.incrementAndGet()
          batch.createOrReplaceTempView("st41_batch")
          // the SHARED q171 fold — one contract, two cadences
          graft.sources.RowCatalogMaintQueries.foldCdfIntoView(
            batch.sparkSession, "st41_batch", "status", "cents",
            "graft_dml.ns.sivmv")
          ()
        }
        .start()
      q.awaitTermination()
      val mismatches = s.sql(s"""
        SELECT COUNT(*) FROM (SELECT cat, n, sum_cents
            FROM graft_dml.ns.sivmv) i
          FULL OUTER JOIN (SELECT status AS cat, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM $lifecycleTable GROUP BY status) f
          ON i.cat = f.cat AND i.n = f.n AND i.sum_cents = f.sum_cents
        WHERE i.cat IS NULL OR f.cat IS NULL""").head().getLong(0)
      s.table("graft_dml.ns.sivmv")
        .withColumn("matches_recompute", lit(mismatches == 0L))
        .withColumn("multi_batch", lit(nBatches.get >= 3))
        .orderBy(col("cat"))
    }),

    "st33_stream_changes" -> ((s, d) => withStatePartitions(s) {
      val lifecycleTable =
        graft.sources.RowCatalogQueries.sharedLifecycle(s, d, mor = false)
      // batch k is attributed to version k+1 below, and the oracle
      // expects EXACTLY versions 1..3 — so every lifecycle statement
      // (including the DELETE, which a fixture scale could starve of
      // matches) must have committed a version. Fail here with a
      // clear message rather than downstream with a confusing hash
      // diff.
      val preV = RowStore.of(s).currentVersion(lifecycleTable)
      require(preV == 3, s"st33 expects the lifecycle at version 3 " +
        s"(CREATE + INSERT/MERGE/DELETE commits), found $preV — a " +
        "statement's write was elided at this fixture scale")
      val outDir = graft.Scratch.dir(s, "graft_st33_out", d)
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.option("from", "0")
        .table(s"$lifecycleTable.changes")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nBatches.incrementAndGet()
          // batch k = the single diff v{k} → v{k+1}
          batch.withColumn("version", lit(batchId.toInt + 1))
            .write.mode(if (batchId == 0L) "overwrite" else "append")
            .parquet(outDir)
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .withColumn("multi_batch", lit(nBatches.get >= 3))
        .orderBy(col("version"), col("k"), col("_change"))
    }),

    // ── st38: STREAMING CDC CHANGE FEED — st33's per-commit stream
    // under `mode=cdc` (q152's update-pair re-tagging): a downstream
    // CDC consumer subscribes to the table's history and receives each
    // commit's diff with MERGE-driven updates surfaced as
    // update_preimage/update_postimage pairs instead of delete+insert.
    // The private lifecycle commits v1 (seed), v2 (the q152-shaped
    // MERGE — pairs + deletes + inserts in ONE batch), v3 (a DELETE —
    // single-sided rows keep the plain tag even in cdc mode); reading
    // from version 1 yields exactly two batches, version-tagged, each
    // restated from raw orders by the oracle. multi_batch pins the
    // per-version stepping really happened.
    "st38_stream_cdc" -> ((s, d) => withStatePartitions(s) {
      graft.Tables(s, d, "orders").createOrReplaceTempView("st38_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.scdc")
      s.sql("CREATE TABLE graft_dml.ns.scdc " +
        "(k BIGINT, cents BIGINT, status STRING)")
      s.sql("""INSERT INTO graft_dml.ns.scdc
        SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
               o_orderstatus
        FROM st38_orders WHERE o_orderkey % 7 = 0""")
      s.sql("""MERGE INTO graft_dml.ns.scdc t
        USING (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      o_orderstatus AS status
               FROM st38_orders WHERE o_orderkey % 5 = 0) s
        ON t.k = s.k
        WHEN MATCHED AND t.status = 'F' THEN
          UPDATE SET cents = t.cents + s.cents
        WHEN MATCHED AND t.status <> 'F' THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, cents, status)
          VALUES (s.k, s.cents, s.status)""")
      s.sql("DELETE FROM graft_dml.ns.scdc WHERE k % 97 = 0")
      val preV = RowStore.of(s).currentVersion("graft_dml.ns.scdc")
      require(preV == 3, s"st38 expects the lifecycle at version 3, " +
        s"found $preV — a statement's write was elided at this scale")
      val outDir = graft.Scratch.dir(s, "graft_st38_out", d)
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.option("from", "1").option("mode", "cdc")
        .table("graft_dml.ns.scdc.changes")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nBatches.incrementAndGet()
          // batch k = the single cdc diff v{k+1} → v{k+2}
          batch.withColumn("version", lit(batchId.toInt + 2))
            .write.mode(if (batchId == 0L) "overwrite" else "append")
            .parquet(outDir)
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .withColumn("multi_batch", lit(nBatches.get >= 2))
        .orderBy(col("version"), col("k"), col("_change"))
    }),

    // ── st34: STREAMING TABLE READ (append-only) — the other half of
    // the streaming×DML matrix next to st33's change feed: Delta's
    // `readStream.table(t)` contract, where each commit's APPENDED
    // files become one micro-batch (offset = version, admission
    // control pins one commit per batch). Append-only is enforced at
    // plan time — a rewriting commit fails the stream loudly rather
    // than re-emitting rewritten rows (the connector points DML
    // histories at the .changes feed instead). Three epoch INSERTs
    // land disjoint key bands; the drain must produce exactly three
    // batches whose contents are each commit's rows, version-tagged,
    // which the oracle restates from raw orders (epoch = key band =
    // batch — any boundary drift breaks the hash).
    "st34_stream_table" -> ((s, d) => withStatePartitions(s) {
      graft.Tables(s, d, "orders").createOrReplaceTempView("st34_orders")
      // the oracle restates k with the LITERAL 1e7 epoch offset, so
      // unlike q115 the offset cannot be derived at run time; assert
      // the band-disjointness ceiling (orderkey reaches 6M·SF ⇒
      // holds to SF ≈ 1.7) instead of silently overlapping past it
      val mxK = s.sql("SELECT CAST(max(o_orderkey) AS BIGINT) " +
        "FROM st34_orders").head().getLong(0)
      require(mxK < 10000000L, s"st34's fixed 1e7 epoch offset needs " +
        s"max(o_orderkey) < 1e7 for disjoint key bands, found $mxK — " +
        "regenerate with a larger offset AND update the oracle's " +
        "literal to match")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.ledger_s")
      s.sql("CREATE TABLE graft_dml.ns.ledger_s " +
        "(k BIGINT, cents BIGINT, status STRING)")
      for (e <- 0 until 3)
        s.sql(s"""INSERT INTO graft_dml.ns.ledger_s
          SELECT CAST(o_orderkey AS BIGINT) + ${e}0000000,
                 CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus
          FROM st34_orders WHERE o_orderkey % 3 = $e""")
      val outDir = graft.Scratch.dir(s, "graft_st34_out", d)
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.option("from", "0")
        .table("graft_dml.ns.ledger_s")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nBatches.incrementAndGet()
          batch.withColumn("version", lit(batchId.toInt + 1))
            .write.mode(if (batchId == 0L) "overwrite" else "append")
            .parquet(outDir)
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .withColumn("multi_batch", lit(nBatches.get >= 3))
        .orderBy(col("version"), col("k"))
    }),

    // ── st35: STREAMING EMBEDDING UPSERT into the persisted ANN index
    // — the serving-side cadence the s-family's batch builds stop
    // short of: an index is fit and persisted over the BASE corpus
    // (oldest 80%, s06's cell-partitioned layout), then new
    // embeddings arrive as a file stream and each micro-batch (a)
    // assigns its vectors to the CACHED centroids by the same
    // Euclidean rule the builder used and (b) appends them
    // cell-partitioned next to the base segment — centroids are never
    // refit, exactly a production vector store between reindex
    // cycles. Post-drain, queries route through the centroid table
    // and rescore ONLY the probed cells of base + streamed segments,
    // and must meet s06's recall gate against the exact top-K over
    // the FULL grown corpus computed in-plan (a streamed vector lost
    // by the upsert would break recall, not just a count).
    // multi_batch pins that the growth really happened incrementally.
    "st35_stream_ann_upsert" -> ((s, d) => withStatePartitions(s) {
      import graft.operators.Similarity
      val src = graft.Scratch.dir(s, "graft_st35_src", d)
      val idxDir = graft.Scratch.dir(s, "graft_st35_idx", d)
      val e = graft.Tables(s, d, "embeddings")
      // base/new split at 80% of the id space (1-row planning fetch)
      val cut = e.agg(expr("(max(vec_id) + 1) * 4 div 5")).head().getLong(0)
      graft.Scratch.materializeOnce(src) {
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 3) {
          val dir = s"$src/c$c"
          e.filter(col("vec_id") >= cut &&
              pmod(col("vec_id"), lit(4)) === c)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st35's deterministic file->batch " +
                "mapping does not hold")
          }
        }
      }
      // base index: fit once per app (KMeans cost), persist s06's
      // layout once (cells + cell-partitioned vectors)
      graft.Scratch.materializeOnce(s"$idxDir/base") {
        val (assigned, cents) = Similarity.ivfIndexFor(s, s"$d#st35",
          e.filter(col("vec_id") < cut))
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$idxDir/base/assigned")
        cents.write.mode("overwrite").parquet(s"$idxDir/base/cents")
      }
      val cents = s.read.parquet(s"$idxDir/base/cents")
      // streamed segment resets per invocation: bench min-of-2 and
      // Verify must see identical post-drain state
      val streamedDir = s"$idxDir/streamed"
      val sp = java.nio.file.Paths.get(streamedDir)
      if (java.nio.file.Files.exists(sp)) {
        val walk = java.nio.file.Files.walk(sp)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      }
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$src/c*")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          nBatches.incrementAndGet()
          Similarity.assignToCells(batch, cents)
            .write.mode("append").partitionBy("cell")
            .parquet(streamedDir)
          ()
        }
        .start()
      q.awaitTermination()
      val queries = e.filter(col("vec_id") < Similarity.NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      // Euclidean router + nProbe 5: route in the index's OWN metric
      // (the builder assigned residency by Euclidean argmin — the
      // cosine router left true neighbors in cells ranked 7–12 and
      // capped recall at the gate), widened because the quantizer was
      // fit on the base 80% only. Measured recall 11/15 = 0.73 at all
      // three SFs against the 0.3 gate.
      val approx = Similarity.probePersistedDirs(s, cents, queries,
        Seq(s"$idxDir/base/assigned", streamedDir), nProbe = 5,
        euclidRouter = true)
      val exact = Similarity.exactTopK(
        e.select(col("vec_id"), col("embedding")))
      Similarity.recallGate(exact, approx, 0.3, "stream_recall_ok")
        .withColumn("multi_batch", lit(nBatches.get >= 2))
    }),

    // ── st40: STREAMING EMBEDDINGS INTO THE LAKE TABLE + catalog-
    // served ANN — the streaming side of round-14's bridge between
    // the catalog and the embedding operators: st35 upserts into a
    // bespoke parquet layout BESIDE the catalog; here the embeddings
    // stream lands in the versioned DML table ITSELF — ARRAY<FLOAT>
    // rows through the native engine-driven StreamingWrite (st36's
    // epoch-per-manifest exactly-once; the blob codec on the
    // streaming writer's path), four mtime-ordered chunks at 2
    // files/trigger forcing a genuinely multi-epoch drain — and the
    // integer IVF index is then fit FROM the drained catalog table.
    // The result must be BIT-IDENTICAL to s03 over plain parquet
    // (shared oracle): a float-lossy blob round trip, a dropped or
    // double-committed epoch, or a catalog-read drift all break the
    // hash. The multi-epoch contract is a loud require (the output
    // shape is pinned to the oracle's four columns).
    "st40_stream_embedding_table" -> ((s, d) => withStatePartitions(s) {
      import graft.operators.Similarity
      val src = graft.Scratch.dir(s, "graft_st40_src", d)
      val e = graft.Tables(s, d, "embeddings")
      graft.Scratch.materializeOnce(src) {
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 3) {
          val dir = s"$src/c$c"
          e.filter(pmod(col("vec_id"), lit(4)) === c)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st40's deterministic file->batch " +
                "mapping does not hold")
          }
        }
      }
      // fresh table + cleared fixed checkpoint per invocation (the
      // st36 discipline: DROP clears the epoch high-water mark with
      // the table dir; a UUID-fresh checkpoint would accumulate
      // orphan trees across bench min-of-2 + verify runs)
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.semb")
      s.sql("CREATE TABLE graft_dml.ns.semb (vec_id BIGINT, " +
        "embedding ARRAY<FLOAT>, label INT) " +
        "PARTITIONED BY (bucket(4, vec_id))")
      val ckpt = graft.Scratch.dir(s, "graft_st40_ckpt", d)
      graft.Scratch.deleteTree(ckpt)
      val q = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$src/c*")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft_dml.ns.semb")
      q.awaitTermination()
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      require(lastBatch >= 1L,
        s"st40 must drain in >= 2 epochs, saw last batch $lastBatch")
      val (assigned, cents) = Similarity.ivfIntIndexFor(s,
        s"$d#dml-stream", s.table("graft_dml.ns.semb")
          .select(col("vec_id"), col("embedding")))
      Similarity.ivfIntProbe(assigned, cents)
    }),

    // ── st36: NATIVE STREAMING WRITE into the DML catalog —
    // `writeStream.toTable` (Delta's shape), the missing quadrant of
    // the streaming×DML matrix next to st34's table read, st33's CDF
    // read, and st31's foreachBatch MERGE: the ENGINE drives the
    // connector's StreamingWrite, each epoch commits one manifest
    // version, and a re-delivered epoch is recognized from the
    // recorded high-water mark and skipped (manifest-based
    // exactly-once; RowCatalogSpec pins the replayed-commit no-op).
    // Four mtime-ordered chunks at 2 files/trigger force a genuinely
    // multi-epoch drain; the oracle restates the full slice.
    "st36_stream_table_write" -> ((s, d) => withStatePartitions(s) {
      val src = graft.Scratch.dir(s, "graft_st36_src", d)
      graft.Scratch.materializeOnce(src) {
        val slice = graft.Tables(s, d, "orders")
          .filter(pmod(col("o_orderkey"), lit(6)) === 0)
          .select(col("o_orderkey").cast("long").as("k"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
            col("o_orderstatus").as("status"))
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 3) {
          val dir = s"$src/c$c"
          slice.filter(pmod(col("k"), lit(4)) === c)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st36's deterministic file->batch " +
                "mapping does not hold")
          }
        }
      }
      // fresh table per invocation (DROP clears the epoch high-water
      // mark with the table dir); the temp checkpoint is fresh per
      // start, so the drain re-ingests everything deterministically
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.stream_sink")
      s.sql("CREATE TABLE graft_dml.ns.stream_sink " +
        "(k BIGINT, cents BIGINT, status STRING)")
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType)))
      // table sinks demand an explicit checkpoint; FIXED dir cleared
      // at the start of each invocation (not UUID-fresh, which would
      // accumulate orphan checkpoint trees across bench min-of-2 plus
      // verify runs for the whole session lifetime)
      val ckpt = graft.Scratch.dir(s, "graft_st36_ckpt", d)
      graft.Scratch.deleteTree(ckpt)
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$src/c*")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft_dml.ns.stream_sink")
      q.awaitTermination()
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      s.table("graft_dml.ns.stream_sink")
        .withColumn("multi_batch", lit(lastBatch >= 1L))
        .orderBy(col("k"))
    }),

    // ── st37: MEDALLION COMPOSITION — the end-to-end lake pipeline
    // the pieces support but nothing composed until now: (1) BRONZE —
    // raw events stream into a DML table via the native streaming
    // write (st36's engine-driven epoch commits, exactly-once via the
    // atomic per-query manifest mark); (2) SILVER — a second streaming
    // query follows bronze's CHANGE FEED (st33's one-version-per-
    // micro-batch admission) and MERGEs per-user aggregates into a
    // silver DML table (st31's upsert shape). Silver's exactly-once
    // rides the catalog itself — Delta's txnVersion pattern with the
    // MANIFEST VERSION as the transaction counter: batch k applies
    // only when silver sits at version k, and the MERGE's commit IS
    // the mark advance (atomic — no side state, no crash window).
    // After the drain the LAST batch is deliberately REPLAYED through
    // the same guard; `replay_noop` pins that it changed nothing.
    // Both legs' multi-batch stepping is pinned in-plan; the oracle
    // restates silver straight from raw events — any loss, duplicate,
    // or double-application anywhere in the two-hop chain shifts a
    // per-user count the hash will catch.
    "st37_medallion" -> ((s, d) => withStatePartitions(s) {
      import graft.sources.RowStore
      // deterministic multi-epoch source: 4 mtime-ordered chunks of
      // the events slice, 2 files per trigger → 2 bronze epochs
      val src = graft.Scratch.dir(s, "graft_st37_src", d)
      graft.Scratch.materializeOnce(src) {
        val slice = graft.Tables.events(s, d)
          .filter(pmod(col("event_id"), lit(5)) === 0)
          .select(col("user_id").cast("long").as("user_id"),
            col("event_id").cast("long").as("event_id"))
        val t0 = System.currentTimeMillis() - 3600000L
        for (c <- 0 to 3) {
          val dir = s"$src/c$c"
          slice.filter(pmod(col("event_id"), lit(20)) === c * 5)
            .coalesce(1).write.mode("overwrite").parquet(dir)
          new java.io.File(dir).listFiles().foreach { f =>
            require(f.setLastModified(t0 + c * 60000L),
              s"setLastModified failed for $f: this filesystem cannot " +
                "set mtimes, so st37's multi-epoch drain is not " +
                "deterministic")
          }
        }
      }
      // fresh tables per invocation (DROP clears manifest chains and
      // epoch marks); fixed checkpoint cleared at start (st36's rule)
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.bronze")
      s.sql("CREATE TABLE graft_dml.ns.bronze " +
        "(user_id BIGINT, event_id BIGINT)")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.silver")
      s.sql("CREATE TABLE graft_dml.ns.silver " +
        "(user_id BIGINT, n_events BIGINT, max_event_id BIGINT)")
      val ckptB = graft.Scratch.dir(s, "graft_st37_ckptb", d)
      graft.Scratch.deleteTree(ckptB)
      val srcSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType)))
      val qb = s.readStream.schema(srcSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$src/c*")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptB)
        .trigger(Trigger.AvailableNow())
        .toTable("graft_dml.ns.bronze")
      qb.awaitTermination()
      val bronzeLast = Option(qb.lastProgress).map(_.batchId).getOrElse(-1L)

      // silver leg: one bronze COMMIT per micro-batch; the version
      // guard makes application idempotent (replay ⇒ no-op)
      val silverKey = "graft_dml.ns.silver"
      val lake = RowStore.of(s)
      def applyBatch(batch: DataFrame, batchId: Long): Unit =
        if (lake.currentVersion(silverKey) == batchId) {
          batch.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              max(col("event_id")).as("max_event_id"))
            .createOrReplaceTempView("st37_delta")
          batch.sparkSession.sql("""MERGE INTO graft_dml.ns.silver t
            USING st37_delta s ON t.user_id = s.user_id
            WHEN MATCHED THEN UPDATE SET
              n_events = t.n_events + s.n_events,
              max_event_id = greatest(t.max_event_id, s.max_event_id)
            WHEN NOT MATCHED THEN INSERT (user_id, n_events, max_event_id)
              VALUES (s.user_id, s.n_events, s.max_event_id)""")
          ()
        }
      val nSilver = new java.util.concurrent.atomic.AtomicInteger(0)
      val qs = s.readStream.option("from", "0")
        .table("graft_dml.ns.bronze.changes")
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nSilver.incrementAndGet()
          applyBatch(batch, batchId)
        }
        .start()
      qs.awaitTermination()

      // exactly-once pin: replay the LAST batch through the same path
      // — the version guard must reject it without committing
      val lastV = lake.currentVersion(silverKey)
      val lastDiff = s.read
        .option("from", (lake.currentVersion("graft_dml.ns.bronze") - 1)
          .toString)
        .option("to", lake.currentVersion("graft_dml.ns.bronze").toString)
        .table("graft_dml.ns.bronze.changes")
      applyBatch(lastDiff, lastV - 1) // the batch id it was applied as
      val replayNoop = lake.currentVersion(silverKey) == lastV

      s.table("graft_dml.ns.silver")
        .withColumn("bronze_multi_batch", lit(bronzeLast >= 1L))
        .withColumn("silver_multi_batch", lit(nSilver.get >= 2))
        .withColumn("replay_noop", lit(replayNoop))
        .orderBy(col("user_id"))
    }),

  )

  val oracles: Map[String, String] = Map(
    // the CDC fold restated: seeded keys (k%6=0) survive unless their
    // delete batch hit them (k%12 in (0,6)), matched survivors carry
    // the stream's +7 cents, new keys (k%6=3) insert with +7 — the
    // dv pins are TRUE by the one-vector-per-file contract
    "st39_stream_merge_dv" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) + 7 AS cents,
        |  TRUE AS multi_batch, TRUE AS dv_bounded
        |FROM orders
        |WHERE (o_orderkey % 6 = 0 AND o_orderkey % 12 NOT IN (0, 6))
        |   OR o_orderkey % 6 = 3
        |ORDER BY k""".stripMargin,

    // st25's exact contract: the streaming MERGE must converge to the
    // same batch-split-independent fold
    "st31_stream_merge" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  max_by(event_id,
        |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id)
        |    AS last_event_id,
        |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_ts_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the streamed view restated from raw orders at the lifecycle's
    // final state (post-merge content minus the deleted slice); the
    // equality/stepping pins are TRUE by the maintenance contract
    "st41_stream_ivm" ->
      s"""${graft.sources.RowCatalogOracles.lifecycleCtes}
        |SELECT status AS cat, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  TRUE AS matches_recompute, TRUE AS multi_batch
        |FROM merged WHERE k % 97 <> 0
        |GROUP BY status ORDER BY cat""".stripMargin,

    // the three per-commit diffs restated from raw orders, each tagged
    // with its version: v1 = the seed (all inserts), v2 = the MERGE's
    // value diff, v3 = the DELETE's removals
    "st33_stream_changes" ->
      s"""${graft.sources.RowCatalogOracles.lifecycleCtes},
        |v2i AS (SELECT k, cents, status FROM merged
        |        EXCEPT ALL SELECT k, cents, status FROM t0),
        |v2d AS (SELECT k, cents, status FROM t0
        |        EXCEPT ALL SELECT k, cents, status FROM merged)
        |SELECT 1 AS version, k, cents, status, 'insert' AS _change,
        |       TRUE AS multi_batch FROM t0
        |UNION ALL SELECT 2, k, cents, status, 'insert', TRUE FROM v2i
        |UNION ALL SELECT 2, k, cents, status, 'delete', TRUE FROM v2d
        |UNION ALL SELECT 3, k, cents, status, 'delete', TRUE
        |  FROM merged WHERE k % 97 = 0
        |ORDER BY version, k, _change""".stripMargin,

    // the two cdc batches restated from raw orders: the MERGE's diff
    // (matched 'F' keys as pre/post pairs, matched non-'F' as deletes,
    // source-only as inserts) tagged version 2, the DELETE's removals
    // of the post-merge state tagged version 3
    "st38_stream_cdc" ->
      """WITH t0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |merged AS (
        |  SELECT k, cents * 2 AS cents, status FROM t0
        |    WHERE k % 5 = 0 AND status = 'F'
        |  UNION ALL SELECT k, cents, status FROM t0 WHERE k % 5 <> 0
        |  UNION ALL SELECT k, cents, status FROM src WHERE k % 7 <> 0)
        |SELECT k, cents, status, 'update_preimage' AS _change,
        |       2 AS version, TRUE AS multi_batch
        |  FROM t0 WHERE k % 5 = 0 AND status = 'F'
        |UNION ALL SELECT k, cents * 2, status, 'update_postimage', 2, TRUE
        |  FROM t0 WHERE k % 5 = 0 AND status = 'F'
        |UNION ALL SELECT k, cents, status, 'delete', 2, TRUE
        |  FROM t0 WHERE k % 5 = 0 AND status <> 'F'
        |UNION ALL SELECT k, cents, status, 'insert', 2, TRUE
        |  FROM src WHERE k % 7 <> 0
        |UNION ALL SELECT k, cents, status, 'delete', 3, TRUE
        |  FROM merged WHERE k % 97 = 0
        |ORDER BY version, k, _change""".stripMargin,

    // epoch = key band = batch, restated directly from raw orders
    "st34_stream_table" ->
      """SELECT CAST(o_orderkey AS BIGINT)
        |    + (o_orderkey % 3) * 10000000 AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_orderstatus AS status,
        |  CAST(o_orderkey % 3 + 1 AS INTEGER) AS version,
        |  TRUE AS multi_batch
        |FROM orders ORDER BY version, k""".stripMargin,

    // the upsert gate: pair census restated over the FULL corpus (the
    // grown index must answer for streamed vectors too); the booleans
    // are the in-plan recall and incremental-growth contracts
    "st35_stream_ann_upsert" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(q.v, c.v) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |topk AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY cos DESC, n_id ASC) AS rank
        |    FROM scored) WHERE rank <= 3)
        |SELECT COUNT(*) AS n_pairs, TRUE AS stream_recall_ok,
        |  TRUE AS multi_batch FROM topk""".stripMargin,

    // the streamed slice restated whole: epoch-batched appends must
    // reassemble exactly the source selection
    "st36_stream_table_write" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_orderstatus AS status, TRUE AS multi_batch
        |FROM orders WHERE o_orderkey % 6 = 0 ORDER BY k""".stripMargin,

    // the catalog-served probe over the fully-drained stream must be
    // BIT-IDENTICAL to s03 over plain parquet — the oracle is s03's,
    // verbatim (the streamed table IS the fixture when every epoch
    // lands exactly once and every float round-trips the blob codec)
    "st40_stream_embedding_table" ->
      graft.operators.SimilarityOracles.oracles("s03_ann_ivf"),

    // silver restated straight from raw events: the two-hop chain
    // (stream→bronze commits→change feed→MERGE) must be lossless and
    // exactly-once end to end
    "st37_medallion" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS n_events,
        |  CAST(MAX(event_id) AS BIGINT) AS max_event_id,
        |  TRUE AS bronze_multi_batch, TRUE AS silver_multi_batch,
        |  TRUE AS replay_noop
        |FROM events WHERE event_id % 5 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

  )
}
