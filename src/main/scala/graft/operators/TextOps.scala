package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Text-analysis operators over `documents` (builder-prompt north star):
  * language ID (stopword-hit heuristic), quality scoring, token
  * counting, and rolling-hash fingerprinting.
  *
  * Everything is per-row scalar arithmetic over codegen'd built-ins —
  * embarrassingly parallel, no shuffle except the final presentation
  * sort. At 100 TB these run as one narrow pass over the corpus.
  *
  * Oracle parity: per-row int/int divisions and IEEE double ops are
  * bit-deterministic across engines; regex character classes are kept
  * to the Java∩RE2 common subset.
  */
object TextOps {

  private[operators] def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** (doc_id, n_tok) — whitespace token counts, shared by p03/p08. */
  private[operators] def docTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tok"))

  /** ONE definition of the decomposed global prefix sum over doc_id
    * order (p03 shard budgeting + p08 sequence packing): bucket
    * subtotals → tiny bucket-level window → broadcast offsets →
    * partitioned intra-bucket window. Bit-exact vs a single global
    * running total, with no one-task global window anywhere. */
  private[operators] def withCumBefore(toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withBkt = toks.withColumn("bkt", expr("doc_id div 64"))
    val wBkt = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withBkt.groupBy(col("bkt")).agg(sum(col("n_tok")).as("bkt_tok"))
      .withColumn("offset", coalesce(sum(col("bkt_tok")).over(wBkt), lit(0L)))
      .select(col("bkt"), col("offset"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withBkt.join(broadcast(offsets), "bkt")
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
  }

  /** stopword LIKE-hit score for one language (0..n). SQL text is shared
    * verbatim with the DuckDB oracle. */
  private[operators] def stopScore(words: Seq[String]): String =
    words.map(w => s"(case when padded like '% $w %' then 1 else 0 end)")
      .mkString(" + ")

  private[operators] val EN = Seq("the", "and", "of", "to", "in")
  private[operators] val ES = Seq("el", "la", "de", "que", "los")
  private[operators] val DE = Seq("der", "und", "das", "die", "ist")
  private[operators] val FR = Seq("le", "les", "et", "des", "une")

  /** Language-ID stage: argmax of per-language stopword hits with fixed
    * precedence (en > es > de > fr), 'und' when nothing hits. Shared by
    * t01 and the p01 selection pipeline. */
  private[operators] def withLangPred(df: DataFrame): DataFrame =
    df.withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("sc_en", expr(stopScore(EN)))
      .withColumn("sc_es", expr(stopScore(ES)))
      .withColumn("sc_de", expr(stopScore(DE)))
      .withColumn("sc_fr", expr(stopScore(FR)))
      .withColumn("best",
        greatest(col("sc_en"), col("sc_es"), col("sc_de"), col("sc_fr")))
      .withColumn("pred_lang",
        when(col("best") === 0, lit("und"))
          .when(col("sc_en") === col("best"), lit("en"))
          .when(col("sc_es") === col("best"), lit("es"))
          .when(col("sc_de") === col("best"), lit("de"))
          .otherwise(lit("fr")))

  /** Quality stage: length/punctuation/stopword ratios combined into
    * one [0,1] score. Shared by t02 and p01. */
  private[operators] def withQualityCols(df: DataFrame): DataFrame =
    df.withColumn("n_chars_calc", length(col("text")).cast(IntegerType))
      .withColumn("n_words",
        size(split(trim(col("text")), "\\s+")).cast(IntegerType))
      .withColumn("punct_raw",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast(DoubleType) / length(col("text")))
      .withColumn("digit_raw",
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast(DoubleType) / length(col("text")))
      .withColumn("stop_raw",
        expr("size(filter(split(lower(trim(text)), '\\\\s+'), " +
          "t -> t in ('the','and','of','a','to','in','is')))")
          .cast(DoubleType) / col("n_words"))
      .withColumn("avg_word_len",
        round(length(regexp_replace(col("text"), " ", "")).cast(DoubleType)
          / col("n_words"), 6))
      .withColumn("quality",
        round(lit(0.4) * least(lit(1.0), col("n_words").cast(DoubleType) / 50.0)
          + lit(0.3) * (lit(1.0) - col("punct_raw"))
          + lit(0.3) * least(lit(1.0), col("stop_raw") * 5.0), 6))

  private[operators] val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── t01: n-gram/stopword language ID.
    "t01_lang_id" -> ((s, d) => {
      withLangPred(docs(s, d))
        .select(col("doc_id"), col("pred_lang"),
          col("best").cast(IntegerType).as("score"), col("lang").as("labeled_lang"))
        .orderBy(col("doc_id"))
    }),

    // ── t02: quality scoring.
    "t02_quality_score" -> ((s, d) => {
      withQualityCols(docs(s, d))
        .select(col("doc_id"), col("n_chars_calc"), col("n_words"),
          col("avg_word_len"), round(col("punct_raw"), 6).as("punct_ratio"),
          round(col("digit_raw"), 6).as("digit_ratio"),
          round(col("stop_raw"), 6).as("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ── t03: token counting — whitespace tokens + a BPE-ish regex
    // segmentation (letter runs / digit runs / single symbols).
    "t03_token_stats" -> ((s, d) => {
      docs(s, d)
        .withColumn("ws_tokens",
          size(split(trim(col("text")), "\\s+")).cast(IntegerType))
        .withColumn("bpe_tokens",
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast(IntegerType))
        .withColumn("alpha_tokens",
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
            .cast(IntegerType))
        .withColumn("chars_per_tok",
          round(length(col("text")).cast(DoubleType) / col("bpe_tokens"), 6))
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
          col("alpha_tokens"), col("chars_per_tok"))
        .orderBy(col("doc_id"))
    }),

    // ── t05: text normalization — the canonicalization pass a training
    // pipeline runs before dedup/tokenization: lowercase, strip
    // non-alphanumerics, collapse whitespace, trim. Emits the
    // normalized text's length, prefix, and PORTABLE hash (so the
    // oracle checks the full normalized string without hauling it
    // through the diff). One narrow codegen'd pass, no shuffle.
    "t05_normalize" -> ((s, d) => {
      docs(s, d)
        .withColumn("norm",
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", ""), " +", " ")))
        .select(col("doc_id"),
          length(col("norm")).cast(IntegerType).as("norm_len"),
          substring(col("norm"), 1, 40).as("norm_prefix"),
          graft.functions.PortableHashFunctions.polyHash(col("norm")).as("norm_hash"),
          (length(col("text")) - length(col("norm"))).cast(IntegerType)
            .as("chars_removed"))
        .orderBy(col("doc_id"))
    }),

    // ── t06: the UDTF surface — word-level 3-gram shingling via the
    // custom ShingleGenerator (a Catalyst Generator, the one-row→
    // many-rows operator form). Plans as a Generate node: per-partition
    // row streaming with no intermediate per-document shingle array
    // (contrast the array_distinct+explode form in Dedup, which
    // materializes each document's full gram list). Scoped to 10 docs
    // to keep the driver diff bounded; at 100 TB the same Generate
    // streams the whole corpus shard-parallel.
    "t06_shingle_udtf" -> ((s, d) => {
      docs(s, d)
        .filter(col("doc_id") < 10)
        .select(col("doc_id"),
          expr("shingles(split(lower(text), '\\\\s+'), 3)"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ── t07: benchmark DECONTAMINATION — the training-data hygiene op
    // every LM pipeline runs: drop (or flag) corpus documents that
    // share an n-gram with a held-out evaluation set, so benchmark
    // answers don't leak into training. Here the "benchmark" is every
    // 50th document; a corpus doc is contaminated if any of its word
    // 3-grams appears in any benchmark doc. The plan is the d04-style
    // posting join — corpus grams equi-joined against the DISTINCT
    // benchmark gram set — with the aggregate counting distinct shared
    // grams per doc. At 100 TB the benchmark side is tiny relative to
    // the corpus (eval suites are MBs), so it broadcasts and the scan
    // stays one pass; grams would be posted as hashes there (strings
    // here keep the oracle exact), same join shape either way.
    "t07_decontaminate" -> ((s, d) => {
      // Dedup's gram pipeline (with its input spread). Both
      // self-join branches recompute it — deliberately NOT checkpointed:
      // materializing the full exploded posting set costs far more than
      // re-running the narrow gram projection (measured 10.3s vs 1.4s at
      // sf0.1), and at real scale a pipeline that needs the postings
      // twice keeps a materialized gram INDEX (the d04 cache), not a
      // per-query checkpoint of the corpus
      val g = Dedup.gramPostings(s, d)
      val bench = g.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("g")).distinct()
      g.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .join(bench, "g") // grams are distinct per doc → count = |shared set|
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(IntegerType).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    }),

    // ── t08: PII SCRUBBING — redact emails and phone-shaped tokens
    // before training. The fixture text carries no PII, so each doc is
    // deterministically augmented with a synthetic email + phone first
    // (the operator under test is the scrub, not the fixture); counts,
    // scrubbed length, and the portable hash of the full scrubbed text
    // are all oracle-checked, so a single mis-replaced character fails
    // the row. Regexes stay in the Java∩RE2 common subset. One narrow
    // codegen'd pass, no shuffle — at 100 TB this rides the same scan
    // as the other per-row gates.
    "t08_pii_scrub" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "[0-9]{3}-[0-9]{4}"
      docs(s, d)
        .withColumn("aug", concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
          lit(" now")))
        .withColumn("scrubbed",
          regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"),
            phone, "<PHONE>"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("aug"), lit(email), lit(0)))
            .cast(IntegerType).as("n_emails"),
          size(regexp_extract_all(col("aug"), lit(phone), lit(0)))
            .cast(IntegerType).as("n_phones"),
          length(col("scrubbed")).cast(IntegerType).as("scrub_len"),
          graft.functions.PortableHashFunctions.polyHash(col("scrubbed"))
            .as("scrub_hash"))
        .orderBy(col("doc_id"))
    }),

    // ── t09: REPETITION statistics — the Gopher-style quality gate
    // that catches boilerplate/spam text which per-token stats (t02)
    // miss: natural prose has diverse word bigrams, while templated or
    // keyword-stuffed text repeats a few. Per document: total / distinct
    // word-2-gram counts, the top bigram's share of all bigrams, and
    // the distinct-bigram ratio; `repetitive` flags docs whose top
    // bigram exceeds 10% of the text (the Gopher-rule shape).
    //
    // Plan: non-distinct bigram postings explode from the same
    // spread token projection as the dedup family (the gram
    // expression inlined INTO the generator — the f963675 lesson), then
    // two keyed aggregations: (doc, gram) counts → per-doc moments.
    // Both shuffles hash on doc_id-prefixed keys with map-side partial
    // aggregation; nothing is quadratic and no global ordering exists
    // before the presentation sort — one corpus pass at 100 TB.
    "t09_repetition" -> ((s, d) => {
      Tables.spread(docs(s, d))
        .withColumn("toks", expr("split(lower(text), '\\\\s+')"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), " +
            "i -> concat_ws(' ', toks[i], toks[i+1]))")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_grams"), count(lit(1)).as("n_distinct"),
          max(col("n")).as("top_n"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("top_n"),
          round(col("top_n").cast(DoubleType) / col("n_grams"), 6)
            .as("top_frac"),
          round(col("n_distinct").cast(DoubleType) / col("n_grams"), 6)
            .as("distinct_frac"),
          (col("top_n").cast(DoubleType) / col("n_grams") > 0.1)
            .as("repetitive"))
        .orderBy(col("doc_id"))
    }),

    // ── t10: CHARACTERISTIC-TERM extraction — each document's top-3
    // terms by a TF-IDF-style score, the corpus-analysis op behind
    // topic labeling / domain tagging of training shards. The score is
    // an INTEGER surrogate (tf · (N·10⁶ div df)): same ranking shape as
    // tf·ln(N/df) for top-k purposes, but exact across engines — a
    // float log would risk ulp-level rank flips between Spark and the
    // oracle. Plan: letter-run tokens explode once; (doc, term) counts
    // and the term document-frequency dictionary are two keyed
    // hash-aggs; the corpus size joins as a broadcast scalar; the
    // final per-doc window ranks each doc's OWN distinct terms (groups
    // bounded by vocabulary-per-doc, not corpus) — at 100 TB the only
    // wide stages are the two keyed aggregations, and the df
    // dictionary is the natural broadcast/bucketed dimension.
    "t10_tfidf_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.spread(docs(s, d))
        .select(col("doc_id"), explode(expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("score", col("tf") * expr("n_docs * 1000000 div df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast(IntegerType).as("rank"),
          col("term"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ── t11: INVERTED-INDEX SEARCH — conjunctive (AND) multi-term
    // retrieval with integer-exact TF-IDF ranking (t10's portable
    // `n_docs·10⁶ div df` idf weight — log-free, so the score is
    // hash-comparable across engines). The broadcast query list joins
    // the postings on term, so ONLY the query terms' posting lists
    // leave the scan — the corpus is never re-scanned per query, and
    // adding queries grows the broadcast side, not the corpus side.
    // Conjunction = per-(query, doc) matched-term count equal to the
    // query's arity; ranking is a per-query top-10 window with the
    // unique doc_id tiebreak.
    "t11_search" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val qdf = Seq(
        (1, "spark"), (1, "join"), (1, "vector"),
        (2, "window"), (2, "hash"), (2, "stream"),
        (3, "merge"), (3, "sort"), (3, "filter")).toDF("qid", "term")
      val qsize = qdf.groupBy(col("qid")).agg(count(lit(1)).as("n_q"))
      val tf = Tables.spread(docs(s, d))
        .select(col("doc_id"), explode(expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id").asc)
      tf.join(dfreq, "term").crossJoin(broadcast(n))
        .join(broadcast(qdf), "term")
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("hit"),
          sum(col("tf") * expr("n_docs * 1000000 div df")).as("score"))
        .join(broadcast(qsize), "qid")
        .filter(col("hit") === col("n_q"))
        .withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("qid"), col("rank"))
    }),

    // ── t04: document fingerprinting — TRUE rolling (Rabin–Karp)
    // character 8-gram hashes via the fused RollingMinK expression,
    // keeping the 4 smallest (winnowing-style min-k sketch). The hash
    // is the portable 31-polynomial, so the full result — sketch values
    // included — is oracle-checked against a DuckDB restatement
    // (round 1 left this rows-only behind xxhash64).
    "t04_fingerprint" -> ((s, d) => {
      docs(s, d)
        .withColumn("fp", graft.functions.PortableHashFunctions.rollingMin4W8(col("text")))
        .select(col("doc_id"),
          expr("element_at(fp, 1)").as("fp0"),
          expr("element_at(fp, 2)").as("fp1"),
          expr("element_at(fp, 3)").as("fp2"),
          expr("element_at(fp, 4)").as("fp3"),
          graft.functions.PortableHashFunctions.polyHash(col("text")).as("full_hash"))
        .orderBy(col("doc_id"))
    }),

    // ── t15: BIGRAM-LM FLUENCY SCORE — the CCNet/KenLM-shaped quality
    // signal the ratio heuristics (t02) and repetition stats (t09)
    // miss: how PREDICTABLE a document's word transitions are under a
    // language model trained on the corpus itself. The "model" is the
    // corpus bigram conditional P(w2|w1) = count(w1,w2)/count(w1·), in
    // INTEGER ppm (count·10⁶ div prefix-total — a float log-prob would
    // drift at ulp level across engines; the ppm surrogate ranks
    // identically and hash-checks exactly). Per document: bigram
    // count, summed/mean conditional ppm (high = templated/fluent
    // text, low = incoherent token soup), and the most surprising
    // transition (min ppm — the KenLM min-score filter shape).
    //
    // Scale shape (100 TB): train and score are TWO keyed passes over
    // the same bigram postings — (w1,w2) counts roll up with map-side
    // partial agg, prefix totals aggregate the ALREADY vocabulary²-
    // bounded count table (not the corpus), and scoring joins postings
    // to the dictionary on (w1,w2) — the dictionary is the natural
    // broadcast/bucketed dimension, and nothing is ever quadratic.
    "t15_lm_score" -> ((s, d) => {
      val grams = Tables.spread(docs(s, d))
        .withColumn("toks", expr("split(lower(text), '\\\\s+')"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(expr("sequence(1, size(toks)-1)")).as("i"), col("toks"))
        .select(col("doc_id"), expr("toks[i-1]").as("w1"),
          expr("toks[i]").as("w2"))
      val c2 = grams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n2"))
      val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
      val dict = c2.join(c1, "w1")
        .select(col("w1"), col("w2"), expr("n2 * 1000000 div n1").as("ppm"))
      grams.join(dict, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sum_ppm"),
          min(col("ppm")).as("min_ppm"))
        .select(col("doc_id"), col("n_bigrams"),
          col("sum_ppm"), expr("sum_ppm div n_bigrams").as("avg_ppm"),
          col("min_ppm"))
        .orderBy(col("doc_id"))
    }),

    // ── t16: SHARED-GRAM (boilerplate/memorization) FRACTION — the
    // C4-era corpus-level signal t09's within-doc stats cannot see:
    // per document, what fraction of its distinct 8-grams also appear
    // in OTHER documents (df ≥ 2 over doc-distinct grams). High
    // fraction = boilerplate/template/near-copy — exactly the text
    // memorization risk a pretraining pipeline prices per document.
    //
    // Scale shape (100 TB): grams travel as PORTABLE int64 HASHES, not
    // strings — the shuffle carries 8 bytes/gram instead of ~50, the
    // df table is vocabulary-sized with map-side partials, and the
    // doc×df equi-join is the d04 posting discipline. Hash collisions
    // exist and are priced: the ORACLE applies the identical poly-31
    // hash, so parity is exact BY CONSTRUCTION, and a collision only
    // ever over-counts df (a conservative bias toward flagging).
    // ── t17: GOPHER-STYLE QUALITY RULES — the published rule-set
    // filter (Rae et al.'s Gopher / MassiveText repetition-and-shape
    // gates) as one codegen'd pass, distinct from t02's soft score:
    // each NAMED rule surfaces as its own boolean column so a pipeline
    // can audit WHICH gate rejected a document, and `pass` is their
    // conjunction. Every test is INTEGER arithmetic on token counts
    // (3·n ≤ chars ≤ 10·n instead of a double mean) so the oracle is
    // hash-exact with no float tolerance anywhere. Thresholds are
    // scaled to the fixture corpus (docs are paragraph-sized); the
    // rule SHAPES are the paper's.
    "t17_gopher_rules" -> ((s, d) => {
      docs(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("word_chars",
          expr("aggregate(toks, 0L, (a, x) -> a + length(x))"))
        .withColumn("alpha_words",
          expr("size(filter(toks, x -> x rlike '[a-z]'))").cast("long"))
        .withColumn("symbol_words",
          expr("size(filter(toks, x -> x rlike '[#…]' or x like '%...%'))")
            .cast("long"))
        .withColumn("stop_hits",
          expr("size(array_intersect(array_distinct(toks), " +
            "array('the','be','to','of','and','that','have','with')))")
            .cast("long"))
        .select(col("doc_id"), col("n_words"),
          (col("n_words") >= 10 && col("n_words") <= 10000)
            .as("r_word_count"),
          (lit(3) * col("n_words") <= col("word_chars") &&
            col("word_chars") <= lit(10) * col("n_words"))
            .as("r_mean_word_len"),
          (lit(10) * col("alpha_words") >= lit(8) * col("n_words"))
            .as("r_alpha_ratio"),
          (lit(10) * col("symbol_words") <= col("n_words"))
            .as("r_symbol_ratio"),
          (col("stop_hits") >= 2).as("r_stopwords"))
        .withColumn("pass",
          col("r_word_count") && col("r_mean_word_len") &&
            col("r_alpha_ratio") && col("r_symbol_ratio") &&
            col("r_stopwords"))
        .orderBy(col("doc_id"))
    }),

    "t16_shared_grams" -> ((s, d) => {
      val g = Tables.spread(docs(s, d))
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 8), " +
            "i -> poly_hash(concat_ws(' ', slice(toks, i + 1, 8))))"))
          .as("gh"))
        .distinct()
      val dfTab = g.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      g.join(dfTab, "gh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          expr("CAST(n_shared * 1000000 div n_grams AS BIGINT)")
            .as("shared_ppm"))
        .orderBy(col("doc_id"))
    }),

    // ── t18: DSIR-STYLE IMPORTANCE WEIGHTING — Data Selection via
    // Importance Resampling (Xie et al. 2023): score raw docs by how
    // target-like their hashed n-gram bag is, then resample in
    // proportion to the weight. Target distribution = the English
    // slice; features = unigrams hashed into 512 buckets (the paper's
    // hashed bag-of-ngrams generative model). Re-expressed
    // integer-exact: per-bucket ratio_ppm = (t+1)·10⁶ div (r+1) (the
    // add-1-smoothed target/raw ratio — target ⊆ raw, so ≤ 10⁶);
    // per-doc weight = mean bucket ratio over the doc's tokens; and
    // the RESAMPLING draw is the portable-hash uniform gate (p02's
    // split primitive): selected ⇔ hash(doc) mod 10⁶ < weight_ppm —
    // deterministic "keep with probability ∝ importance weight",
    // restatable in any engine. Scale: two 512-row corpus aggregates
    // (broadcast), one token explode joined against the broadcast
    // ratio table, one per-doc aggregate. No all-pairs, no global
    // window, no floats.
    "t18_dsir_weights" -> ((s, d) => {
      val toks = Tables.spread(docs(s, d))
        .select(col("doc_id"), col("lang"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .withColumn("b", expr("poly_hash(tok) % 512"))
        .localCheckpoint() // three consumers: raw, tgt, the ratio join
      val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("r_cnt"))
      val tgt = toks.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("t_cnt"))
      val ratio = raw.join(tgt, Seq("b"), "left")
        .select(col("b"), expr(
          "CAST((coalesce(t_cnt, 0) + 1) * 1000000 div (r_cnt + 1) " +
            "AS BIGINT)").as("ratio_ppm"))
      toks.join(broadcast(ratio), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_toks"),
          expr("CAST(sum(ratio_ppm) div count(1) AS BIGINT)")
            .as("dsir_ppm"))
        .withColumn("selected",
          expr("poly_hash(concat('dsir:', CAST(doc_id AS STRING))) " +
            "% 1000000") < col("dsir_ppm"))
        .orderBy(col("doc_id"))
    }),

    // ── t19: PII SCRUBBING — the redaction pass every training-data
    // pipeline runs before text leaves the curation boundary: named
    // identifiers and phone-shaped digit runs replaced with typed
    // placeholder tokens, with per-doc redaction counts kept for the
    // data card. The corpus fixture has no organic PII (synthetic
    // word text), so the query COMPOSES a non-vacuous input in-plan —
    // each doc enriched with its deterministically-joined customer's
    // display name and a custkey-derived phone (the m02 stub-fixture
    // convention: the composition is the stand-in; the scrub
    // machinery is the real operator). Everything downstream of the
    // broadcast enrich join is ONE codegen'd narrow pass (two
    // regexp_replace + two match counts, no shuffle before the final
    // sort); counts come from the PRE-scrub text and the scrubbed
    // string itself is hash-checked cross-engine. Name-scrub runs
    // first, so the digit-free <NAME> token can never half-match the
    // phone pattern.
    "t19_pii_scrub" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_name"))
      docs(s, d)
        .join(broadcast(cust),
          col("c_custkey") === pmod(col("doc_id"), lit(150)))
        .select(col("doc_id"),
          concat(col("text"), lit(" contact "), col("c_name"),
            lit(" phone "),
            format_string("%03d-%03d-%04d",
              pmod(col("c_custkey"), lit(1000)),
              pmod(col("c_custkey") * 7, lit(1000)),
              pmod(col("c_custkey") * 13, lit(10000)))).as("raw"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("raw"), lit("Customer#[0-9]+"),
            lit(0))).cast(LongType).as("n_names"),
          size(regexp_extract_all(col("raw"),
            lit("[0-9]{3}-[0-9]{3}-[0-9]{4}"), lit(0)))
            .cast(LongType).as("n_phones"),
          regexp_replace(
            regexp_replace(col("raw"), "Customer#[0-9]+", "<NAME>"),
            "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>").as("clean"))
        .orderBy(col("doc_id"))
    })
  )

  private[operators] val coreOracles: Map[String, String] = Map(
    "t01_lang_id" -> {
      def sc(words: Seq[String]): String =
        words.map(w => s"(case when padded like '% $w %' then 1 else 0 end)")
          .mkString(" + ")
      s"""WITH p AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents),
         |sc AS (SELECT doc_id, lang, ${sc(EN)} AS sc_en, ${sc(ES)} AS sc_es,
         |         ${sc(DE)} AS sc_de, ${sc(FR)} AS sc_fr FROM p)
         |SELECT doc_id,
         |  CASE WHEN greatest(sc_en, sc_es, sc_de, sc_fr) = 0 THEN 'und'
         |       WHEN sc_en = greatest(sc_en, sc_es, sc_de, sc_fr) THEN 'en'
         |       WHEN sc_es = greatest(sc_en, sc_es, sc_de, sc_fr) THEN 'es'
         |       WHEN sc_de = greatest(sc_en, sc_es, sc_de, sc_fr) THEN 'de'
         |       ELSE 'fr' END AS pred_lang,
         |  CAST(greatest(sc_en, sc_es, sc_de, sc_fr) AS INTEGER) AS score,
         |  lang AS labeled_lang
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "t02_quality_score" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_chars_calc,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_words,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_raw,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |      / length(text) AS digit_raw,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t in ('the','and','of','a','to','in','is'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) AS stop_raw,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) AS awl_raw
        |  FROM documents)
        |SELECT doc_id, n_chars_calc, n_words,
        |  round(awl_raw, 6) AS avg_word_len,
        |  round(punct_raw, 6) AS punct_ratio,
        |  round(digit_raw, 6) AS digit_ratio,
        |  round(stop_raw, 6) AS stop_ratio,
        |  round(0.4 * least(1.0, CAST(n_words AS DOUBLE) / 50.0)
        |    + 0.3 * (1.0 - punct_raw)
        |    + 0.3 * least(1.0, stop_raw * 5.0), 6) AS quality
        |FROM q ORDER BY doc_id""".stripMargin,

    "t03_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS alpha_tokens,
        |  round(CAST(length(text) AS DOUBLE)
        |    / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 6) AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // membership replayed bit-identically: 31-poly mod 1e9+7 over the
    // ASCII codes of the domain-prefixed doc_id string
    // parallel unnests zip in DuckDB: positions and shingle texts align
    "t06_shingle_udtf" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |           FROM documents WHERE doc_id < 10)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(0, len(toks) - 3)) AS INTEGER) AS pos,
        |  unnest(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        |FROM t ORDER BY doc_id, pos""".stripMargin,

    "t05_normalize" ->
      """WITH n AS (SELECT doc_id, length(text) AS orig_len,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(norm) AS INTEGER) AS norm_len,
        |  substring(norm, 1, 40) AS norm_prefix,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(norm, ''), ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS norm_hash,
        |  CAST(orig_len - length(norm) AS INTEGER) AS chars_removed
        |FROM n ORDER BY doc_id""".stripMargin,

    // inverted-index restatement: corpus 3-grams joined to the distinct
    // benchmark-gram set, distinct shared grams counted per doc
    "t07_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
        |  FROM t WHERE len(toks) >= 3),
        |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_shared_grams
        |FROM g JOIN bench USING (g)
        |WHERE doc_id % 50 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same augment → count → double regexp_replace → portable hash
    // of the scrubbed string ('g' flag: DuckDB replaces first-only by
    // default, Spark replaces all)
    "t08_pii_scrub" ->
      """WITH a AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or call 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS aug
        |  FROM documents),
        |s AS (SELECT doc_id, aug,
        |    regexp_replace(regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
        |  CAST(length(scrubbed) AS INTEGER) AS scrub_len,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(scrubbed, ''), ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS scrub_hash
        |FROM s ORDER BY doc_id""".stripMargin,

    // non-distinct bigram counts restated over the same tokenization;
    // the HUGEINT sums cast back to BIGINT, doubles only in the final
    // per-row division
    "t09_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |        i -> toks[i] || ' ' || toks[i+1])) AS g
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, g, COUNT(*) AS n FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
        |  COUNT(*) AS n_distinct, CAST(MAX(n) AS BIGINT) AS top_n,
        |  round(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 6) AS top_frac,
        |  round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 6) AS distinct_frac,
        |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS BIGINT) > 0.1 AS repetitive
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same integer score (a float log would flip ranks at ulp
    // level); tf rows are already distinct (doc, term), so df is a
    // plain count over them
    "t10_tfidf_terms" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, rank, term, tf, df, score FROM (
        |  SELECT doc_id, term, tf, df, tf * (n_docs * 1000000 // df) AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tf * (n_docs * 1000000 // df) DESC, term ASC) AS INTEGER) AS rank
        |  FROM tf JOIN dfreq USING (term), n)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "t11_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |q AS (SELECT * FROM (VALUES (1,'spark'),(1,'join'),(1,'vector'),
        |    (2,'window'),(2,'hash'),(2,'stream'),
        |    (3,'merge'),(3,'sort'),(3,'filter')) AS v(qid, term)),
        |qs AS (SELECT qid, COUNT(*) AS n_q FROM q GROUP BY 1),
        |sc AS (SELECT q.qid, tf.doc_id, COUNT(*) AS hit,
        |    SUM(tf.tf * (n.n_docs * 1000000 // dfreq.df)) AS score
        |  FROM tf JOIN dfreq USING (term) JOIN q ON q.term = tf.term, n
        |  GROUP BY 1, 2),
        |r AS (SELECT sc.qid, doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY sc.qid
        |      ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM sc JOIN qs ON sc.qid = qs.qid WHERE hit = n_q)
        |SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id,
        |  CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // each 8-char window's 31-poly hash restated as a per-window char
    // fold (the engine rolls it in O(1)/position; the oracle may be
    // O(window) — same values)
    "t04_fingerprint" ->
      """WITH c AS (SELECT doc_id, length(text) AS n,
        |    list_transform(string_split(text, ''), ch -> ord(ch)) AS codes
        |  FROM documents),
        |w AS (SELECT doc_id, codes,
        |    list_sort(list_transform(range(0, greatest(n - 8, 0) + 1),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i+1:i+8]),
        |             (a, b) -> (a * 31 + b) % 1000000007))) AS hs
        |  FROM c)
        |SELECT doc_id, hs[1] AS fp0, hs[2] AS fp1, hs[3] AS fp2, hs[4] AS fp3,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS full_hash
        |FROM w ORDER BY doc_id""".stripMargin,

    // the same integer-ppm conditional model replayed: corpus bigram
    // counts → prefix totals → count·10⁶ // prefix per transition,
    // summed per doc (all int64; `//` is DuckDB's div)
    "t15_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(generate_series(1, len(toks)-1)) AS i, toks
        |      FROM t WHERE len(toks) >= 2),
        |gg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM g),
        |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM gg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
        |d AS (SELECT w1, w2, CAST(n2 * 1000000 // n1 AS BIGINT) AS ppm
        |      FROM c2 JOIN c1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
        |  CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS avg_ppm,
        |  CAST(MIN(ppm) AS BIGINT) AS min_ppm
        |FROM gg JOIN d USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same integer-exact rule arithmetic over DuckDB list ops
    "t17_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, x -> length(x)))
        |      AS BIGINT) AS word_chars,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[#…]')
        |      OR x LIKE '%...%')) AS BIGINT) AS symbol_words,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words,
        |  n_words >= 10 AND n_words <= 10000 AS r_word_count,
        |  3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |    AS r_mean_word_len,
        |  10 * alpha_words >= 8 * n_words AS r_alpha_ratio,
        |  10 * symbol_words <= n_words AS r_symbol_ratio,
        |  stop_hits >= 2 AS r_stopwords,
        |  (n_words >= 10 AND n_words <= 10000)
        |    AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
        |    AND (10 * alpha_words >= 8 * n_words)
        |    AND (10 * symbol_words <= n_words)
        |    AND (stop_hits >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // the shared-gram census replayed over the IDENTICAL portable
    // hash, so collision behavior matches by construction
    "t16_shared_grams" -> {
      val h = graft.functions.PortableHashFunctions
        .polyHashSql("array_to_string(toks[i+1:i+8], ' ')")
      s"""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents WHERE len(string_split_regex(lower(trim(text)),
        |    '\\s+')) >= 8),
        |g AS (SELECT DISTINCT doc_id, $h AS gh
        |      FROM t, UNNEST(generate_series(0, len(toks) - 8)) AS u(i)),
        |dfv AS (SELECT gh, COUNT(*) AS df FROM g GROUP BY gh)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(COUNT(*) FILTER (WHERE df >= 2) AS BIGINT) AS n_shared,
        |  CAST(CAST(COUNT(*) FILTER (WHERE df >= 2) AS BIGINT)
        |    * 1000000 // COUNT(*) AS BIGINT) AS shared_ppm
        |FROM g JOIN dfv USING (gh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the identical hash-bucket → smoothed-ratio → mean → resample-gate
    // pipeline; collision behavior matches by construction
    "t18_dsir_weights" -> {
      val hTok = graft.functions.PortableHashFunctions.polyHashSql("tok")
      val hDoc = graft.functions.PortableHashFunctions
        .polyHashSql("'dsir:' || CAST(doc_id AS VARCHAR)")
      s"""WITH tk AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        |  FROM documents),
        |tb AS (SELECT doc_id, lang, $hTok % 512 AS b FROM tk),
        |raw AS (SELECT b, COUNT(*) AS r_cnt FROM tb GROUP BY b),
        |tgt AS (SELECT b, COUNT(*) AS t_cnt FROM tb
        |  WHERE lang = 'en' GROUP BY b),
        |ratio AS (SELECT raw.b,
        |    CAST((COALESCE(t_cnt, 0) + 1) * 1000000 // (r_cnt + 1)
        |      AS BIGINT) AS ratio_ppm
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
        |agg AS (SELECT doc_id, lang, COUNT(*) AS n_toks,
        |    CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
        |  FROM tb JOIN ratio USING (b) GROUP BY doc_id, lang)
        |SELECT doc_id, lang, n_toks, dsir_ppm,
        |  ($hDoc % 1000000) < dsir_ppm AS selected
        |FROM agg ORDER BY doc_id""".stripMargin
    },

    // the same compose → count → two-stage redaction; 'g' makes
    // DuckDB's regexp_replace global like Spark's
    "t19_pii_scrub" ->
      """WITH raw AS (SELECT d.doc_id,
        |    d.text || ' contact ' || c.c_name || ' phone ' ||
        |    printf('%03d-%03d-%04d', c.c_custkey % 1000,
        |      (c.c_custkey * 7) % 1000, (c.c_custkey * 13) % 10000) AS raw
        |  FROM documents d JOIN customer c ON c.c_custkey = d.doc_id % 150)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, 'Customer#[0-9]+'))
        |    AS BIGINT) AS n_names,
        |  CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
        |    AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(raw, 'Customer#[0-9]+', '<NAME>',
        |    'g'), '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |FROM raw ORDER BY doc_id""".stripMargin
  )

  /** Full text-ops registry: the per-document text-analysis core above
    * plus the split-out pipeline ([[TextPipeline]]) and BPE tokenizer
    * ([[TextBpe]]) families — one map for SparkEntry, three files
    * under the repo's 1,500-line discipline. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(
      coreQueries ++ TextPipeline.queries ++ TextBpe.queries)

  val oracles: Map[String, String] =
    coreOracles ++ TextPipeline.oracles ++ TextBpe.oracles
}
