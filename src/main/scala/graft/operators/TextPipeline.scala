package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import TextOps.{DE, EN, ES, FR, docTokens, docs, withCumBefore, withLangPred, withQualityCols}

/** The PIPELINE (p-op) family, split out of [[TextOps]] (which keeps
  * the shared language/quality/token helpers): corpus selection (p01),
  * deterministic sampling and splits (p02/p05/p09/p10), token-budget
  * sharding and sequence packing (p03/p08), epoch shuffle (p07),
  * mixture balancing (p04), the data card (p11), and chunk windows
  * (p12). Query semantics, oracles, and plan shapes are byte-identical
  * to their pre-split form. (p06, the leakage-safe split, lives with
  * the dedup cluster family it is built from.) */
object TextPipeline {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── p01: the CORPUS-SELECTION PIPELINE — what the operator family
    // exists for, composed as ONE declarative plan: language gate →
    // quality gate → exact dedup (canonical min doc_id per text, keyed
    // on the narrow (length, xxhash64) digest as in d01) → token
    // stats for the survivors. Catalyst fuses the scalar stages into a
    // single codegen'd pass; the only shuffle is the dedup window on
    // the 12-byte digest over the ALREADY-FILTERED rows — gate early,
    // shuffle late, which is the 100 TB ordering.
    "p01_corpus_select" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val gated = withQualityCols(withLangPred(docs(s, d)))
        .filter(col("pred_lang") === "en" && col("quality") >= 0.7)
      val w = Window.partitionBy(length(col("text")), xxhash64(col("text")))
      gated
        .withColumn("canon_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canon_id"))
        .select(col("doc_id"), col("quality"), col("n_words"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast(IntegerType)
            .as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ── p02: deterministic stratified sampling + train/val/test split.
    // A training-data pipeline's sampling must be REPRODUCIBLE — across
    // reruns, engines, and repartitions — so membership is a pure
    // function of the row key, not of an RNG whose stream depends on
    // partition layout (Spark's `sample()` does, and is irreproducible
    // after a repartition). Two independent portable-hash buckets:
    // `samp` gates per-language keep-rates (downsample over-represented
    // en, lightly trim zh), `split` assigns 80/10/10 train/val/test.
    // Both are narrow codegen'd scalar passes; the only shuffle is the
    // final tiny (lang, split) rollup with map-side partial agg — at
    // 100 TB this is one corpus scan. Domain-prefixed keys ("samp:",
    // "split:") decorrelate the two decisions; the portable 31-poly
    // hash lets DuckDB replay membership bit-identically.
    "p02_sample_split" -> ((s, d) => {
      import graft.functions.PortableHashFunctions.{splitBucket, splitLabel}
      val keepRate = when(col("lang") === "en", 50)
        .when(col("lang") === "zh", 80).otherwise(100)
      docs(s, d)
        .withColumn("samp_b", splitBucket("samp:", col("doc_id")))
        .filter(col("samp_b") < keepRate)
        .withColumn("split_b", splitBucket("split:", col("doc_id")))
        .withColumn("split", splitLabel(col("split_b")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"), col("split"))
    }),

    // ── p03: TOKEN-BUDGET SHARD PACKING — assign documents (in stable
    // doc_id order) to contiguous training shards of ~5000 tokens via a
    // running token total. The naive formulation is a GLOBAL cumulative
    // window — ONE task owns the whole corpus, a scale-killer — so the
    // prefix sum is decomposed the textbook way: docs bucket by id
    // range; per-bucket subtotals roll up in a bucket-level window
    // (corpus/64 rows, and the same two-level trick recurses if even
    // that is large); offsets broadcast back; the intra-bucket
    // cumulative window runs PARTITIONED by bucket, fully parallel.
    // The oracle states the same contract as one SUM() OVER (ORDER BY
    // doc_id) — the decomposition must be bit-exact against it.
    "p03_token_shards" -> ((s, d) => {
      withCumBefore(docTokens(s, d))
        .withColumn("shard_id", expr("cum_before div 5000"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard_id"))
    }),

    // ── p08: SEQUENCE PACKING — the step between p03's shard budgeting
    // and the trainer: every document's token interval
    // [cum_before, cum_before + n_tok) is mapped onto fixed 512-token
    // TRAINING WINDOWS, with documents split across window boundaries
    // accounted exactly (each doc emits one row per window it
    // overlaps; its contribution is the interval intersection). Output
    // row count is ≈ total_tokens/512 + n_docs — linear, no
    // per-token explosion — and every window's contributions sum to
    // exactly 512 except the final partial one, an invariant the
    // oracle's identical restatement enforces. Built on the SAME
    // decomposed prefix sum as p03 (one definition, [[withCumBefore]]),
    // so the two contracts cannot drift.
    "p08_sequence_pack" -> ((s, d) => {
      withCumBefore(docTokens(s, d))
        .withColumn("seq_id", explode(sequence(
          expr("cum_before div 512"),
          expr("(cum_before + n_tok - 1) div 512"))))
        .withColumn("contrib",
          least(col("cum_before") + col("n_tok"), (col("seq_id") + 1) * 512L) -
            greatest(col("cum_before"), col("seq_id") * 512L))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("contrib")).as("sum_tok"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("seq_id"))
    }),

    // ── p07: DETERMINISTIC EPOCH SHUFFLE — every document gets a unique
    // global TRAINING POSITION in a pseudo-random order, reproducible
    // across engines, repartitionings, and reruns (no RNG stream — the
    // order is the portable hash of the doc id, doc_id tie-broken). The
    // naive formulation is ROW_NUMBER over a GLOBAL sort — one task
    // owns the corpus — so the rank is decomposed exactly like p03's
    // prefix sum, but on the HASH-ordered axis: bucket = leading hash
    // range, bucket COUNTS roll up through a tiny bucket-level window,
    // offsets broadcast back, intra-bucket rank runs partitioned. The
    // contract trainers care about — shuffle quality with bit-exact
    // reproducibility — is pinned by the oracle's single global
    // ROW_NUMBER restatement.
    "p07_train_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val h = docs(s, d).select(col("doc_id"))
        .withColumn("shuf", graft.functions.PortableHashFunctions.polyHash(
          concat(lit("order:"), col("doc_id").cast("string"))))
        // ~15k buckets of width 2^16 over the 1e9+7 hash space: the
        // bucket-level window stays tiny while the intra-bucket windows
        // scale out (a 2^24 width would cap the rank at ~60 tasks)
        .withColumn("bkt", expr("shuf div 65536"))
      val wBkt = Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = h.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
        .withColumn("offset", coalesce(sum(col("n")).over(wBkt), lit(0L)))
        .select(col("bkt"), col("offset"))
      val wIn = Window.partitionBy(col("bkt"))
        .orderBy(col("shuf").asc, col("doc_id").asc)
      h.join(broadcast(offsets), "bkt")
        .withColumn("pos", col("offset") + row_number().over(wIn))
        .select(col("doc_id"), col("shuf"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // ── p04: MIXTURE BALANCING — hit a target source mixture (web-heavy
    // / code-medium / wiki-light, here keyed off the source index mod 3
    // with weights 5/3/2) with a DETERMINISTIC downsample. The corpus
    // size is bounded by the scarcest source relative to its weight:
    // T = min_s floor(n_s·W/w_s); each source then keeps
    // k_s = floor(T·w_s/W) docs via a portable-hash Bernoulli gate at
    // rate_ppm = floor(k_s·10⁶/n_s). ALL integer arithmetic — the
    // oracle replays membership bit-identically — and the gate is
    // rate-based, NOT a per-source row_number window: no global
    // per-source ordering exists anywhere, so a 100 TB corpus pays one
    // narrow pass plus a broadcast of the per-source rate dim (the
    // per-source counts come from a column-pruned aggregate here;
    // table stats at real scale).
    "p04_mixture_balance" -> ((s, d) => {
      val weight = when(
        pmod(regexp_extract(col("source"), "([0-9]+)", 1).cast(LongType),
          lit(3L)) === 0, 5L)
        .when(pmod(regexp_extract(col("source"), "([0-9]+)", 1).cast(LongType),
          lit(3L)) === 1, 3L)
        .otherwise(2L)
      val dw = docs(s, d).withColumn("w", weight)
      // materialize the tiny per-source count table once: it feeds
      // three downstream aggregates (ΣW, min capacity, rates), and
      // without the checkpoint each replanned subtree re-scans the
      // corpus — exchange reuse would usually dedupe them at runtime,
      // but that is an AQE behavior, not a plan guarantee (q55 pins it
      // where it is load-bearing; here one eager 20-row materialization
      // removes the dependence entirely)
      val counts = dw.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("n_docs"))
        .localCheckpoint()
      val totalW = counts.agg(sum(col("w")).as("bigw"))
      val cap = counts.crossJoin(broadcast(totalW))
        .agg(min(expr("n_docs * bigw div w")).as("t"))
      val rates = counts.crossJoin(broadcast(totalW)).crossJoin(broadcast(cap))
        .withColumn("rate_ppm", expr("(t * w div bigw) * 1000000 div n_docs"))
        .select(col("source"), col("w"), col("n_docs"), col("rate_ppm"))
      dw.select(col("doc_id"), col("source"))
        .join(broadcast(rates), "source")
        .filter(pmod(graft.functions.PortableHashFunctions.polyHash(
          concat(lit("mix:"), col("doc_id").cast(StringType))),
          lit(1000000L)) < col("rate_ppm"))
        .groupBy(col("source"), col("w"), col("n_docs"), col("rate_ppm"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
        .orderBy(col("source"))
    }),

    // ── p09: TEMPERATURE-SCALED mixture sampling — the multilingual
    // sampling standard (mT5/XLM-R, τ = 1/2): per-language keep
    // quotas proportional to n^τ instead of n, so rare languages
    // upsample relative to proportional draw and the head language
    // shrinks. p04 balances toward EXTERNALLY-GIVEN weights; here the
    // weights are DERIVED from the counts themselves (w = ⌊√n⌋ —
    // IEEE sqrt is correctly rounded, so floor is engine-portable),
    // quota = (N/2)·w div Σw capped at the language's own size, and
    // membership is the same portable-hash ppm gate (no RNG stream,
    // one narrow pass, broadcast rate dim) that makes p02/p04
    // replayable bit-for-bit. Zero-kept languages survive via the
    // left join, so the output is one row per language regardless.
    "p09_temperature_sample" -> ((s, d) => {
      val counts = docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
        .localCheckpoint() // feeds totals, rates, and the join dim
      val totals = counts.agg(sum(col("w")).as("sw"),
        sum(col("n_docs")).as("n"))
      val rates = counts.crossJoin(broadcast(totals))
        .withColumn("quota", expr("least(n_docs, (n div 2) * w div sw)"))
        .withColumn("rate_ppm", expr("quota * 1000000 div n_docs"))
        .select(col("lang"), col("n_docs"), col("w"), col("quota"),
          col("rate_ppm"))
      val kept = docs(s, d).select(col("doc_id"), col("lang"))
        .join(broadcast(rates.select(col("lang"), col("rate_ppm"))), "lang")
        .filter(pmod(graft.functions.PortableHashFunctions.polyHash(
          concat(lit("temp:"), col("doc_id").cast(StringType))),
          lit(1000000L)) < col("rate_ppm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("w"), col("quota"),
          col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
        .orderBy(col("lang"))
    }),

    // ── p10: QUALITY-WEIGHTED sampling — keep-probability ∝ quality²
    // (the DCLM/FineWeb-style soft filter: instead of a hard quality
    // cutoff, low-quality text survives at a quadratically reduced
    // rate, preserving distributional coverage). p02/p04/p09 gate on
    // STATIC or count-derived per-group rates; here the rate is a
    // PER-ROW function of the document's own t02 quality score, so
    // the gate composes the two families: rate_ppm = ⌊quality²·10⁶⌋
    // (quality is already round(·,6) — identical doubles in both
    // engines; floor, never round) against the same portable-hash ppm
    // draw. One narrow codegen'd pass, no RNG stream, no shuffle
    // before the per-language rollup — reproducible at any
    // parallelism, which is the property that matters at 100 TB.
    "p10_quality_sample" -> ((s, d) => {
      withQualityCols(docs(s, d))
        .withColumn("rate_ppm",
          expr("CAST(floor(quality * quality * 1000000) AS BIGINT)"))
        .filter(pmod(graft.functions.PortableHashFunctions.polyHash(
          concat(lit("qsamp:"), col("doc_id").cast(StringType))),
          lit(1000000L)) < col("rate_ppm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"),
          sum(col("rate_ppm")).as("sum_rate_ppm"))
        .orderBy(col("lang"))
    }),

    // ── p11: CORPUS DATA CARD — the per-(lang, source) release report
    // every dataset ships with (docs, tokens, mean quality, exact-dup
    // rate): one grouped aggregate over the same quality/token/digest
    // signals t02/t03/d01 compute per row, so the card is consistent
    // with the operators it summarizes by construction. Integer-ppm
    // mean (sum div count) keeps the row hash-exact; duplicates are
    // counted via the (length, xxhash64) digest pair (d01's narrow-key
    // discipline — text never becomes a shuffle key; the oracle counts
    // distinct text itself, equal absent digest collisions, which is
    // d01's standing premise). One corpus scan, one tiny shuffle.
    "p11_data_card" -> ((s, d) => {
      withQualityCols(docs(s, d))
        .withColumn("q_ppm",
          expr("CAST(floor(quality * 1000000) AS BIGINT)"))
        .withColumn("n_tok",
          size(split(trim(col("text")), "\\s+")).cast(LongType))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          expr("CAST(sum(q_ppm) div count(1) AS BIGINT)")
            .as("mean_q_ppm"),
          expr("CAST(count(1) - count(DISTINCT length(text), " +
            "xxhash64(text)) AS BIGINT)").as("n_dup_docs"))
        .orderBy(col("lang"), col("source"))
    }),

    // ── p12: OVERLAPPING TOKEN-WINDOW CHUNKING — the RAG/long-context
    // chunker every retrieval and pretraining pipeline runs: each
    // document splits into 60-token windows at stride 45 (25%
    // overlap, so no boundary sentence is ever lost to a chunk edge),
    // emitting (chunk_idx, start, length, text) rows keyed for later
    // embedding/indexing. One narrow pass — the explode is the only
    // row expansion and the output order is (doc, chunk), so the
    // chunk table partitions exactly like its parent corpus. The
    // stride arithmetic is pure integer (chunk_idx = start/stride),
    // hash-exact against the oracle's stepped generate_series.
    "p12_chunk_windows" -> ((s, d) => {
      Tables.spread(docs(s, d))
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("n_toks", size(col("toks")).cast(LongType))
        .select(col("doc_id"), col("toks"), col("n_toks"),
          posexplode(expr("sequence(0, size(toks) - 1, 45)"))
            .as(Seq("chunk_idx", "start_tok")))
        .select(col("doc_id"),
          col("chunk_idx").cast(LongType).as("chunk_idx"),
          col("start_tok").cast(LongType).as("start_tok"),
          least(lit(60L), col("n_toks") - col("start_tok"))
            .as("n_chunk_toks"),
          expr("concat_ws(' ', slice(toks, start_tok + 1, 60))")
            .as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ── p05: PER-GROUP deterministic k-sample — a balanced evaluation
    // subset (k docs per language), reproducible across reruns,
    // engines, and repartitions. Ranking by the portable hash gives a
    // uniform, seedless draw; computing it with the bounded
    // TopKByAggregate (hash negated: the heap keeps ord-DESC-best)
    // instead of a row_number window means NO per-group sort exists in
    // the plan — each map task forwards at most k candidates per group
    // and merge is O(k), which is what survives a group with 10⁹ rows.
    // The hash (≤ 10⁹+6) is exact in the aggregate's double ord slot.
    "p05_group_sample" -> ((s, d) => {
      val h = graft.functions.PortableHashFunctions.polyHash(
        concat(lit("gsamp:"), col("doc_id").cast(StringType)))
      docs(s, d)
        .groupBy(col("lang"))
        .agg(graft.functions.TopKFunctions.topkBy(
          (h * lit(-1L)).cast(DoubleType), col("doc_id"), 10).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("lang"), (col("pos") + 1).cast(IntegerType).as("rank"),
          col("entry.payload").as("doc_id"),
          (col("entry.ord") * lit(-1.0)).cast(LongType).as("samp_hash"))
        .orderBy(col("lang"), col("rank"))
    }),
  )

  val oracles: Map[String, String] = Map(

    // the decomposed prefix sum must equal the single global running
    // total (ROWS ... 1 PRECEDING = "tokens before this doc")
    "p03_token_shards" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT cum_before // 5000 AS shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same cum_before prefix sum, fanned out over the window range
    // each doc overlaps; contributions are interval intersections
    "p08_sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM t),
        |e AS (SELECT doc_id, n_tok, cum_before,
        |    UNNEST(generate_series(cum_before // 512,
        |      (cum_before + n_tok - 1) // 512)) AS seq_id
        |  FROM c)
        |SELECT seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(least(cum_before + n_tok, (seq_id + 1) * 512)
        |    - greatest(cum_before, seq_id * 512)) AS BIGINT) AS sum_tok,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // the distributed rank must equal ONE global ROW_NUMBER over the
    // hash order — the decomposition is allowed to cost nothing
    "p07_train_order" -> {
      val hashExpr = graft.functions.PortableHashFunctions
        .polyHashSql("'order:' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (SELECT doc_id, $hashExpr AS shuf FROM documents)
         |SELECT doc_id, CAST(shuf AS BIGINT) AS shuf,
         |  CAST(ROW_NUMBER() OVER (ORDER BY shuf ASC, doc_id ASC) AS BIGINT) AS pos
         |FROM h ORDER BY doc_id""".stripMargin
    },

    // the same integer mixture arithmetic + portable-hash gate; the
    // HUGEINT sums cast back to BIGINT
    "p04_mixture_balance" ->
      """WITH dw AS (SELECT doc_id, source,
        |    CASE CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3
        |      WHEN 0 THEN 5 WHEN 1 THEN 3 ELSE 2 END AS w
        |  FROM documents),
        |c AS (SELECT source, w, COUNT(*) AS n_docs FROM dw GROUP BY 1, 2),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS bigw FROM c),
        |cap AS (SELECT MIN(n_docs * bigw // w) AS t FROM c, tw),
        |r AS (SELECT source, w, n_docs,
        |    (t * w // bigw) * 1000000 // n_docs AS rate_ppm FROM c, tw, cap),
        |k AS (SELECT dw.doc_id, dw.source, r.w, r.n_docs, r.rate_ppm
        |  FROM dw JOIN r USING (source)
        |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split('mix:' || CAST(doc_id AS VARCHAR), ''),
        |        ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007) % 1000000 < rate_ppm)
        |SELECT source, CAST(w AS BIGINT) AS w, n_docs,
        |  CAST(rate_ppm AS BIGINT) AS rate_ppm, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
        |FROM k GROUP BY 1, 2, 3, 4 ORDER BY source""".stripMargin,

    // same integer pipeline: isqrt weights, capped quota, ppm gate
    "p09_temperature_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw,
        |    CAST(SUM(n_docs) AS BIGINT) AS n FROM c),
        |r AS (SELECT lang, n_docs, w,
        |    LEAST(n_docs, (n // 2) * w // sw) AS quota,
        |    LEAST(n_docs, (n // 2) * w // sw) * 1000000 // n_docs AS rate_ppm
        |  FROM c, tot),
        |k AS (SELECT d.lang, d.doc_id
        |  FROM documents d JOIN r USING (lang)
        |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split('temp:' || CAST(doc_id AS VARCHAR), ''),
        |        ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007) % 1000000 < rate_ppm)
        |SELECT r.lang, r.n_docs, r.w,
        |  CAST(r.quota AS BIGINT) AS quota,
        |  CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
        |FROM r LEFT JOIN k USING (lang)
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY r.lang""".stripMargin,

    // the whole selection pipeline restated declaratively; QUALIFY
    // keeps the canonical (min doc_id) row per surviving text
    "p01_corpus_select" -> {
      def psc(words: Seq[String]): String =
        words.map(w => s"(case when padded like '% $w %' then 1 else 0 end)")
          .mkString(" + ")
      s"""WITH p AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded FROM documents),
         |sc AS (SELECT doc_id, text, ${psc(EN)} AS sc_en, ${psc(ES)} AS sc_es,
         |         ${psc(DE)} AS sc_de, ${psc(FR)} AS sc_fr FROM p),
         |l AS (SELECT doc_id, text,
         |  CASE WHEN greatest(sc_en, sc_es, sc_de, sc_fr) = 0 THEN 'und'
         |       WHEN sc_en = greatest(sc_en, sc_es, sc_de, sc_fr) THEN 'en'
         |       WHEN sc_es = greatest(sc_en, sc_es, sc_de, sc_fr) THEN 'es'
         |       WHEN sc_de = greatest(sc_en, sc_es, sc_de, sc_fr) THEN 'de'
         |       ELSE 'fr' END AS pred_lang FROM sc),
         |q AS (SELECT doc_id, text, pred_lang,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_words,
         |  round(0.4 * least(1.0, CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 50.0)
         |    + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text))
         |    + 0.3 * least(1.0, CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |        t -> t in ('the','and','of','a','to','in','is'))) AS DOUBLE)
         |      / len(string_split_regex(trim(text), '\\s+')) * 5.0), 6) AS quality
         | FROM l)
         |SELECT doc_id, quality, n_words,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens
         |FROM q WHERE pred_lang = 'en' AND quality >= 0.7
         |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
         |ORDER BY doc_id""".stripMargin
    },

    "p02_sample_split" -> {
      def bucket(prefix: String): String = graft.functions.PortableHashFunctions
        .splitBucketSql(prefix, "CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (SELECT lang, n_chars, doc_id,
         |    ${bucket("samp:")} AS samp_b,
         |    ${bucket("split:")} AS split_b
         |  FROM documents)
         |SELECT lang,
         |  ${graft.functions.PortableHashFunctions.splitLabelSql("split_b")} AS split,
         |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM h
         |WHERE samp_b < CASE WHEN lang = 'en' THEN 50
         |                    WHEN lang = 'zh' THEN 80 ELSE 100 END
         |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
    },

    // the bounded-heap sample restated as the hash-ranking window it
    // must equal exactly
    "p05_group_sample" ->
      """WITH h AS (SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split('gsamp:' || CAST(doc_id AS VARCHAR), ''),
        |          ch -> ord(ch))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS samp_hash
        |  FROM documents)
        |SELECT lang, rank, doc_id, samp_hash FROM (
        |  SELECT lang, doc_id, samp_hash,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY samp_hash ASC, doc_id ASC) AS INTEGER) AS rank
        |  FROM h) WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,

    // the t02 quality formula replayed (rounded BEFORE squaring, as
    // the engine's quality column is), the same ppm hash gate
    "p10_quality_sample" -> {
      val hash = graft.functions.PortableHashFunctions
        .polyHashSql("'qsamp:' || CAST(doc_id AS VARCHAR)")
      s"""WITH q AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_words,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_raw,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |      t -> t in ('the','and','of','a','to','in','is'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\\s+')) AS stop_raw
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(
        |      round(0.4 * least(1.0, CAST(n_words AS DOUBLE) / 50.0)
        |        + 0.3 * (1.0 - punct_raw)
        |        + 0.3 * least(1.0, stop_raw * 5.0), 6)
        |      * round(0.4 * least(1.0, CAST(n_words AS DOUBLE) / 50.0)
        |        + 0.3 * (1.0 - punct_raw)
        |        + 0.3 * least(1.0, stop_raw * 5.0), 6)
        |      * 1000000) AS BIGINT) AS rate_ppm
        |  FROM q)
        |SELECT lang, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
        |  CAST(SUM(rate_ppm) AS BIGINT) AS sum_rate_ppm
        |FROM r WHERE $hash % 1000000 < rate_ppm
        |GROUP BY lang ORDER BY lang""".stripMargin
    },

    // the card restated: same quality formula as t02 (round-6 is
    // bit-identical IEEE in both engines, so floor·1e6 agrees), dup
    // count via distinct text (== the digest count absent collisions)
    "p11_data_card" ->
      """WITH q AS (
        |  SELECT lang, source, text,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(floor(round(
        |      0.4 * least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0)
        |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text))
        |      + 0.3 * least(1.0, CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |          t -> t in ('the','and','of','a','to','in','is'))) AS DOUBLE)
        |        / len(string_split_regex(trim(text), '\s+')) * 5.0), 6)
        |      * 1000000) AS BIGINT) AS q_ppm
        |  FROM documents)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(q_ppm) // COUNT(*) AS BIGINT) AS mean_q_ppm,
        |  CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_dup_docs
        |FROM q GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // the same stepped windows via stride-stepped generate_series
    "p12_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(u.i // 45 AS BIGINT) AS chunk_idx,
        |  CAST(u.i AS BIGINT) AS start_tok,
        |  CAST(LEAST(60, len(toks) - u.i) AS BIGINT) AS n_chunk_toks,
        |  array_to_string(toks[u.i + 1 : u.i + 60], ' ') AS chunk_text
        |FROM t, UNNEST(generate_series(0, len(toks) - 1, 45)) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin
  )
}
