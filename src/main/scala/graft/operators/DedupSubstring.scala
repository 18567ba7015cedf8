package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Dedup.{containmentPairs, decontaminationStats, docs, exactSubstringSpans, gramPositions, spreadSmall, tokenized}

/** The SUBSTRING dedup family, split out of [[Dedup]] (which keeps the
  * shared tokenize/gram-position/span helpers the DedupGuardSpec pins
  * reference): paragraph-level exact dedup (d13), maximal duplicated
  * token spans and their removal (d17/d18 — the suffix-array family of
  * Lee et al. re-expressed Spark-native), asymmetric containment
  * (d19), and benchmark decontamination (d20). Query semantics,
  * oracles, and plan shapes are byte-identical to their pre-split
  * form. */
object DedupSubstring {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── d13: PARAGRAPH-LEVEL exact dedup — the granularity real
    // pretraining dedup runs at (boilerplate headers/footers repeat
    // across documents that are nowhere near whole-document
    // duplicates; d01 only sees the latter). The fixture text has no
    // newlines, so "paragraphs" are deterministic 10-token windows —
    // the segmentation is a stand-in; the OPERATOR SHAPE (explode →
    // digest-count → threshold → reassemble-in-order) is the real
    // thing. A segment whose corpus-wide multiplicity exceeds 2 is
    // removed from EVERY document; survivors are reassembled in
    // original order.
    //
    // 100 TB shape: three shuffles, none keyed by text — (1) the
    // multiplicity count groups by the 12-byte (length, xxhash64)
    // digest with map-side partial aggregation (d01's narrow-key
    // discipline at segment granularity); (2) the count joins back on
    // the same digest (segment text rides as payload, never as key);
    // (3) reassembly groups by doc_id. Segment order is restored by
    // array_sort over (seg_idx, seg) structs inside the aggregate —
    // no window, no global sort. The oracle restates the whole
    // pipeline over segment TEXT (the digest is assumed
    // collision-free, exactly d01's contract), so the reassembled
    // corpus — not a summary — is what hash-matches.
    "d13_line_dedup" -> ((s, d) => {
      val segs = spreadSmall(docs(s, d))
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(tk)-1) div 10), " +
            "i -> concat_ws(' ', slice(tk, i*10+1, 10)))"))
          .as(Seq("seg_idx", "seg")))
        .localCheckpoint() // three consumers: count, join-back, totals
      val cnt = segs
        .groupBy(length(col("seg")).as("slen"), xxhash64(col("seg")).as("shash"))
        .agg(count(lit(1)).as("c"))
      val kept = segs
        .withColumn("slen", length(col("seg")))
        .withColumn("shash", xxhash64(col("seg")))
        .join(cnt, Seq("slen", "shash"))
        .filter(col("c") <= 2)
      val reasm = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("concat_ws(' ', transform(" +
            "array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg))")
            .as("new_text"))
      val tot = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
      tot.join(reasm, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("new_text"), lit("")).as("new_text"))
        .orderBy(col("doc_id"))
    }),

    // ── d17: EXACT-SUBSTRING dedup — the suffix-array family of
    // "Deduplicating Training Data Makes Language Models Better"
    // (Lee et al., PAPERS.md): find maximal TOKEN SPANS duplicated
    // across documents, the operator that catches copied passages
    // d01 (whole-doc) and d13 (fixed segments) both miss. Re-expressed
    // Spark-native instead of a distributed suffix array:
    //  (1) every token position emits its 8-gram's PORTABLE hash —
    //      (doc, pos, gh), the same 8-byte shuffle economy as t16;
    //  (2) df over DISTINCT docs marks grams appearing in ≥2 documents
    //      (vocabulary-sized, map-side partials — the posting
    //      discipline, never all-pairs);
    //  (3) a position whose gram is cross-doc shared is "covered";
    //      maximal runs of consecutive covered positions merge into
    //      islands via the i − row_number() trick — a PER-DOC window,
    //      so state is document-sized at any corpus scale;
    //  (4) an island [a, b] covers tokens [a, b+8) — exactly the
    //      maximal shared substring (≥ 8 tokens) up to hash collision,
    //      which the oracle prices away by applying the identical
    //      poly-31 hash.
    // Output: per-doc span count, duplicated-token total, longest
    // span, and the duplicated-token ppm a filtering pipeline would
    // threshold on (the paper cuts spans ≥ 50 tokens; the fraction is
    // the per-doc signal).
    // ── d18: DUPLICATED-SPAN REMOVAL — d17's transformation half: the
    // paper's actual dedup step EMITS THE CLEANED CORPUS. The keeper
    // rule is PER-GRAM, deterministic, and engine-portable: for each
    // shared 8-gram, the LOWEST doc_id containing it keeps the tokens
    // that gram covers; every other doc removes them (an 8-token
    // offset explode per removed position — bounded, never all-pairs).
    // Note this is a per-gram rule, not a per-passage guarantee: when
    // overlapping grams of one passage have DIFFERENT min-doc keepers,
    // a keeper doc can still lose tokens of "its" gram to another
    // gram's earlier keeper, so a passage is not guaranteed one
    // surviving verbatim occurrence (the paper's suffix-array variant
    // has the same property). Reassembly is d13's in-aggregate
    // array_sort — no global sort; docs that lose every token (exact
    // clones of an earlier doc) surface with empty new_text rather
    // than vanishing.
    "d18_substring_removal" -> ((s, d) => {
      val base = tokenized(spreadSmall(docs(s, d)))
        .localCheckpoint() // three consumers: grams, token explode, totals
      val pos = gramPositions(base).drop("n_toks")
      val gs = pos.select(col("doc_id"), col("gh")).distinct()
        .groupBy(col("gh"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("min_doc"))
        .filter(col("df") >= 2)
      val removedTok = pos.join(gs, "gh")
        .filter(col("doc_id") > col("min_doc"))
        .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("t"))
        .distinct()
      val toks = base.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("t", "tok")))
      val agg = toks.join(removedTok, Seq("doc_id", "t"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("concat_ws(' ', transform(" +
            "array_sort(collect_list(struct(t, tok))), x -> x.tok))")
            .as("new_text"))
      base.select(col("doc_id"), col("n_toks"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          (col("n_toks") - coalesce(col("n_kept"), lit(0L)))
            .cast("long").as("n_removed"),
          coalesce(col("new_text"), lit("")).as("new_text"))
        .orderBy(col("doc_id"))
    }),

    // ── d19: CONTAINMENT near-dup — Broder's ASYMMETRIC overlap
    // measure: containment(S→B) = |grams(S) ∩ grams(B)| / |grams(S)|,
    // the doc-in-doc detector (quote extraction, boilerplate-wrapped
    // reposts). Symmetric jaccard (d04) structurally MISSES these: a
    // 10-gram doc fully contained in a 500-gram doc has jac ≈ 0.02 but
    // containment 1.0. Candidates come from a RARE-gram posting join
    // (df ≤ 50 — the d10 fan-out bound; production shingle pipelines
    // cap hot shingles the same way, and the oracle applies the
    // IDENTICAL rule so parity holds by construction); the rescore
    // intersects the FULL sorted hash arrays, oriented small→big, and
    // the ≥0.8 gate is integer arithmetic (ic·5 ≥ sza·4). Scale:
    // bounded posting fan-out, per-pair sorted-merge rescore, never
    // all-pairs.
    "d19_containment" -> ((s, d) =>
      containmentPairs(s, docs(s, d)).orderBy(col("s_id"), col("b_id"))),

    "d17_exact_substring" -> ((s, d) => {
      // dup_tokens counts DISTINCT covered tokens: two islands 1–7
      // positions apart have overlapping 8-token coverages, so the
      // [a, b+8) intervals are merged per doc before summing — this
      // bounds dup_ppm by 1e6 by construction. The merge is a per-doc
      // window over span rows (document-sized state, never corpus-wide).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("a"))
      val prev = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      exactSubstringSpans(s, spreadSmall(docs(s, d)))
        .withColumn("pmax",
          coalesce(max(col("b") + lit(8)).over(prev), lit(-1)))
        .withColumn("ng",
          when(col("a") >= col("pmax"), lit(1)).otherwise(lit(0)))
        .withColumn("cg", sum(col("ng")).over(w))
        .groupBy(col("doc_id"), col("cg"))
        .agg(count(lit(1)).as("n_isl"),
          max(col("b") + lit(8) - col("a")).as("mx"),
          (max(col("b")) + lit(8) - min(col("a"))).as("clen"),
          max(col("n_toks")).as("n_toks"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_isl")).cast("long").as("n_spans"),
          sum(col("clen")).cast("long").as("dup_tokens"),
          max(col("mx")).cast("long").as("max_span"),
          max(col("n_toks")).as("n_toks"))
        .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
          col("max_span"),
          expr("CAST(dup_tokens * 1000000 div n_toks AS BIGINT)")
            .as("dup_ppm"))
        .orderBy(col("doc_id"))
    }),

    // ── d20: BENCHMARK DECONTAMINATION — the GPT-3/Pile training-data
    // discipline: before training, flag every corpus document that
    // shares an n-gram with the EVALUATION benchmark, so test answers
    // don't leak into the training set. The benchmark here is the
    // deterministic doc_id % 7 == 0 slice (an eval suite is just
    // another document set); the remaining corpus is "training". One
    // row per CONTAMINATED training doc: how many of its distinct
    // 8-grams (d17's portable-hash gram machinery, token-level) appear
    // anywhere in the benchmark, and the ppm of its gram set that
    // overlap covers. Scale path: the benchmark gram set is
    // eval-suite-sized — fixed and small no matter how big the corpus
    // — so it BROADCASTS and the detection is one narrow hash join
    // keyed by gram hash over the corpus postings; never a
    // corpus×benchmark pair stage. Non-vacuous at all three SFs
    // (7/9/57 contaminated docs).
    "d20_decontaminate" -> ((s, d) =>
      decontaminationStats(s, spreadSmall(docs(s, d)))
        .orderBy(col("doc_id")))
  )

  val oracles: Map[String, String] = Map(

    // the same keeper-rule pipeline (min-doc canonical, 8-offset
    // coverage, ordered reassembly) with the identical gram hash
    "d18_substring_removal" -> {
      val h = graft.functions.PortableHashFunctions
        .polyHashSql("array_to_string(toks[i+1:i+8], ' ')")
      s"""WITH bt AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
        |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_toks
        |  FROM documents),
        |pos AS (SELECT doc_id, i, $h AS gh
        |  FROM bt, UNNEST(generate_series(0, len(toks) - 8)) AS u(i)
        |  WHERE n_toks >= 8),
        |gs AS (SELECT gh, MIN(doc_id) AS min_doc
        |  FROM (SELECT DISTINCT doc_id, gh FROM pos)
        |  GROUP BY gh HAVING COUNT(*) >= 2),
        |rt AS (SELECT DISTINCT p.doc_id, v.t
        |  FROM pos p JOIN gs USING (gh), UNNEST(generate_series(p.i, p.i + 7)) AS v(t)
        |  WHERE p.doc_id > gs.min_doc),
        |tk AS (SELECT doc_id, i AS t, toks[i+1] AS tok
        |  FROM bt, UNNEST(generate_series(0, n_toks - 1)) AS w(i)),
        |kept AS (SELECT tk.doc_id, tk.t, tk.tok FROM tk
        |  WHERE NOT EXISTS (SELECT 1 FROM rt
        |    WHERE rt.doc_id = tk.doc_id AND rt.t = tk.t)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY t) AS new_text
        |  FROM kept GROUP BY doc_id)
        |SELECT bt.doc_id, CAST(bt.n_toks AS BIGINT) AS n_toks,
        |  CAST(bt.n_toks - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(a.new_text, '') AS new_text
        |FROM bt LEFT JOIN agg a USING (doc_id)
        |ORDER BY bt.doc_id""".stripMargin
    },

    // the identical rare-gram candidate rule (df ≤ 50) + full-set
    // intersection rescore, oriented small→big; string grams stand in
    // for the engine's 64-bit hashes (d04's negligible-collision
    // stance)
    "d19_containment" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |        FROM documents) WHERE len(toks) >= 3),
        |p AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS h FROM g),
        |dfv AS (SELECT h, COUNT(*) AS df FROM p GROUP BY h),
        |rare AS (SELECT p.doc_id, p.sz, p.h
        |  FROM p JOIN dfv USING (h) WHERE df <= 50),
        |cand AS (SELECT DISTINCT s.doc_id AS s_id, b.doc_id AS b_id
        |  FROM rare s JOIN rare b ON s.h = b.h
        |    AND (s.sz < b.sz OR (s.sz = b.sz AND s.doc_id < b.doc_id))),
        |sc AS (SELECT c.s_id, c.b_id,
        |    len(gs.grams) AS sza, len(gb.grams) AS szb,
        |    len(list_intersect(gs.grams, gb.grams)) AS ic
        |  FROM cand c JOIN g gs ON gs.doc_id = c.s_id
        |  JOIN g gb ON gb.doc_id = c.b_id)
        |SELECT s_id, b_id, sza, szb, ic,
        |  CAST(ic * 1000000 // sza AS BIGINT) AS cont_ppm
        |FROM sc WHERE ic * 5 >= sza * 4
        |ORDER BY s_id, b_id""".stripMargin,

    // the same position → cross-doc-df → island pipeline, with the
    // IDENTICAL poly-31 gram hash (collision behavior matches by
    // construction — t16's discipline)
    "d17_exact_substring" -> {
      val h = graft.functions.PortableHashFunctions
        .polyHashSql("array_to_string(toks[i+1:i+8], ' ')")
      s"""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)),
        |    '\\s+')) >= 8),
        |pos AS (SELECT doc_id, len(toks) AS n_toks, i, $h AS gh
        |  FROM t, UNNEST(generate_series(0, len(toks) - 8)) AS u(i)),
        |dfv AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pos)
        |  GROUP BY gh HAVING COUNT(*) >= 2),
        |dup AS (SELECT p.doc_id, p.n_toks, p.i
        |  FROM pos p JOIN dfv USING (gh)),
        |isl AS (SELECT doc_id, n_toks, i,
        |    i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM dup),
        |spans AS (SELECT doc_id, MAX(n_toks) AS n_toks,
        |    MIN(i) AS a, MAX(i) AS b
        |  FROM isl GROUP BY doc_id, grp),
        |mg AS (SELECT doc_id, n_toks, a, b,
        |    CASE WHEN a >= COALESCE(MAX(b + 8) OVER (PARTITION BY doc_id
        |      ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) THEN 1 ELSE 0 END AS ng
        |  FROM spans),
        |cg AS (SELECT doc_id, n_toks, a, b,
        |    SUM(ng) OVER (PARTITION BY doc_id ORDER BY a) AS grp2 FROM mg),
        |cov AS (SELECT doc_id, MAX(n_toks) AS n_toks, COUNT(*) AS n_isl,
        |    MAX(b + 8 - a) AS mx, MAX(b) + 8 - MIN(a) AS clen
        |  FROM cg GROUP BY doc_id, grp2)
        |SELECT doc_id, CAST(SUM(n_isl) AS BIGINT) AS n_spans,
        |  CAST(SUM(clen) AS BIGINT) AS dup_tokens,
        |  CAST(MAX(mx) AS BIGINT) AS max_span,
        |  CAST(CAST(SUM(clen) AS BIGINT) * 1000000
        |    // MAX(n_toks) AS BIGINT) AS dup_ppm
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the same distinct-gram posting restatement: benchmark = the
    // doc_id % 7 slice, overlap counted on the portable gram hash
    "d20_decontaminate" -> {
      val h = graft.functions.PortableHashFunctions
        .polyHashSql("array_to_string(toks[i+1:i+8], ' ')")
      s"""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)),
        |    '\\s+')) >= 8),
        |pos AS (SELECT DISTINCT doc_id, $h AS gh
        |  FROM t, UNNEST(generate_series(0, len(toks) - 8)) AS u(i)),
        |bench AS (SELECT DISTINCT gh FROM pos WHERE doc_id % 7 = 0),
        |train AS (SELECT doc_id, gh FROM pos WHERE doc_id % 7 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n FROM train GROUP BY doc_id),
        |sh AS (SELECT doc_id, COUNT(*) AS ns FROM train
        |  JOIN bench USING (gh) GROUP BY doc_id)
        |SELECT s.doc_id, CAST(s.ns AS BIGINT) AS n_shared,
        |  CAST(t.n AS BIGINT) AS n_grams,
        |  CAST(s.ns * 1000000 // t.n AS BIGINT) AS contam_ppm
        |FROM sh s JOIN tot t USING (doc_id) ORDER BY s.doc_id""".stripMargin
    },

    // the same explode → count → threshold → reassemble pipeline over
    // segment text (the engine's digest is assumed collision-free, as
    // in d01); string_agg ORDER BY seg_idx restates the array_sort
    // reassembly
    "d13_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(tk[i*10+1 : i*10+10], ' ') AS seg
        |  FROM toks, UNNEST(generate_series(0, (len(tk)-1)//10)) AS t(i)),
        |cnt AS (SELECT seg, COUNT(*) AS c FROM segs GROUP BY seg),
        |kept AS (SELECT s.doc_id, s.seg_idx, s.seg
        |         FROM segs s JOIN cnt USING (seg) WHERE c <= 2),
        |reasm AS (SELECT doc_id, COUNT(*) AS n_kept,
        |            string_agg(seg, ' ' ORDER BY seg_idx) AS new_text
        |          FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
        |SELECT t.doc_id, t.n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.new_text, '') AS new_text
        |FROM tot t LEFT JOIN reasm r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin
  )
}
