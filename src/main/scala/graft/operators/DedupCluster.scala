package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions
import Dedup.{cosinePairs, cosinePairsUncached, docs, exactJaccardPairs, starComponents}

/** The EMBEDDING / CLUSTER dedup family, split out of [[Dedup]] (which
  * keeps the shared gram/pair/cosine index helpers): connected-
  * components clustering over the text pair graph (d06 label
  * propagation, d07 alternating star), semantic clustering and
  * near-dup over the embedding column (d05 exact block join, d09
  * components, d12 LSH-bucketed, d16 cluster-bounded SemDeDup),
  * cluster representative selection (d14), and the leakage-safe split
  * (p06). Query semantics, oracles, and plan shapes are byte-identical
  * to their pre-split form. */
object DedupCluster {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── d06: near-dup CLUSTERING — connected components over the exact
    // pair graph via min-label propagation: each iteration every node
    // takes the min of its own label and its neighbors', until
    // fixpoint. Iterative DataFrame jobs need lineage control — each
    // iteration localCheckpoints, or the plan depth doubles per round.
    // Converges in O(log diameter) rounds; components here are tiny.
    "d06_dedup_clusters" -> ((s, d) => {
      val pairs = exactJaccardPairs(s, d)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val edges = pairs
        .unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .toDF("src", "dst").localCheckpoint()
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")).localCheckpoint()
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < 20) {
        val nbrMin = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
        // carry a moved flag through the checkpoint so convergence is a
        // cheap scan of the just-materialized partitions — not a second
        // join against the previous labels (round-1 verdict minor)
        val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("new_lbl"),
            (coalesce(col("nbr_lbl"), col("lbl")) < col("lbl")).as("moved"))
          .localCheckpoint()
        changed = next.filter(col("moved")).count()
        labels = next.select(col("id"), col("new_lbl").as("lbl"))
        iter += 1
      }
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // ── d07: near-dup clustering via the ALTERNATING STAR algorithm
    // (large-star/small-star, Kiveris et al., "Connected Components in
    // MapReduce and Beyond") — the billion-edge-scale alternative to
    // d06's label propagation. Each round is a groupBy-min plus a
    // re-emit of edges toward component minima:
    //  - large-star: every node points its LARGER neighbors at the min
    //    of its neighborhood (∪ itself);
    //  - small-star: edges oriented to their larger endpoint; that
    //    endpoint points its smaller neighbors (and itself) at the min.
    // Converges in O(log n) rounds REGARDLESS of component diameter
    // (label propagation needs O(diameter)), and hot high-degree nodes
    // shrink monotonically — the properties that matter at 10⁹ edges.
    // Same output and oracle as d06: (doc_id, min doc_id of component).
    "d07_dedup_clusters_star" -> ((s, d) => {
      val pairs = exactJaccardPairs(s, d)
        .select(col("b_id").as("u"), col("a_id").as("v")).localCheckpoint()
      starComponents(pairs).orderBy(col("doc_id"))
    }),

    // ── d09: SEMANTIC dedup clustering — connected components over the
    // embedding-cosine pair graph (d05's block-decomposed output feeds
    // the d07 star algorithm). This is the "semantic dedup" recipe:
    // near-dup TEXT clusters catch verbatim copies, embedding clusters
    // catch paraphrases; the representative (min vec_id per component)
    // is what survives into training. At sf0.1 the 0.35 graph is one
    // ~2000-node component — the O(log n) star rounds are exercised for
    // real, not on toy 2-node islands.
    "d09_semantic_clusters" -> ((s, d) => {
      val pairs = cosinePairs(s, d)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      starComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // ── d05: embedding near-dup pairs via the custom CosineSimilarity
    // Catalyst expression, on a BLOCK-DECOMPOSED equi-join (round-1
    // all-pairs theta join was a BroadcastNestedLoopJoin — O(n²) pair
    // materialization through one operator).
    //
    // Exactness requires visiting every pair at this threshold: 0.35
    // cosine is a 69.5° angle, where sign-LSH agrees per hyperplane
    // with p≈0.61 — no banding regime has both recall 1 and sublinear
    // candidates (measured: the sf0.01 corpus has 931 pairs in cosine
    // [0.30, 0.40]; there is no similarity gap to exploit). LSH is the
    // right tool at true near-dup thresholds (≥0.8) — that path is s02.
    // So the scale fix is GEMM-style blocking, not candidate pruning:
    // vectors are assigned to B blocks, the B(B+1)/2 block PAIRS become
    // join keys, and each task cross-scores one block pair internally.
    //  - shuffle volume: n·B rows (each vector copied to ≤B tasks),
    //    not n² pairs; B = √(2·tasks) tunes task count to the cluster.
    //  - plan: LocalRelation task list + two hash equi-joins — no
    //    BroadcastNestedLoopJoin, no CartesianProduct (plan-asserted in
    //    DedupPlanSpec).
    "d05_dedup_embedding" -> ((s, d) =>
      cosinePairsUncached(s, d).orderBy(col("a_id"), col("b_id"))),

    // ── d12: LSH-BUCKETED embedding near-dup — the sublinear
    // candidate-generation path next to d05's exact block join, for the
    // workloads that trade recall for it (d05's comment derives why
    // recall 1 at 0.35 cosine forces all pairs; many production near-dup
    // passes accept partial recall per pass because dedup is iterated).
    // Candidates are MULTI-PROBED co-bucket pairs in ANY of the 8
    // hyperplane tables (Similarity's fused index family — the same
    // one s02 uses for ANN): one side joins its 8-probe expansion
    // (every subset of its three weakest-margin bits) against the
    // other side's capped base buckets, so a pair is a candidate iff
    // their buckets are within that flip set in some table — recall
    // several times the single-bucket floor at ZERO extra index size,
    // and the base side keeps the 256-per-bucket cap so a degenerate
    // bucket still can't go quadratic. Then EXACT cosine rescore at
    // the d05 threshold. The output is the engine-independent
    // CONTRACT, the s04 discipline: false positives are structurally 0
    // (the rescore is exact — counted in-plan by the anti-join, not
    // assumed), and recall vs the exact d05 pair set is thresholded.
    // Single-bucket collision at the band's LOW end (cos 0.35) is
    // p ≈ 0.61^6 per table, union ≈ 0.36 over 8 tables — the old
    // floor and old gate; multi-probe lifts measured recall past the
    // new 0.75 gate at all three SFs (single-probe measured
    // 0.38–0.40). Deterministic (fixed hyperplanes, fixed corpus), so
    // the gate is stable green.
    "d12_dedup_embedding_lsh" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("table_id"), col("bucket")).orderBy(col("vec_id"))
      // parallelize the hash/probe explosion (optimization rounds
      // 16/17, guide §2.5 input skew): the corpus is ONE parquet
      // split, so unspread, the 8-table hyperplane hashing and the
      // 8-way probe explode ran in a single task. Round 16's
      // round-robin repartition fixed the HASHING stages but left the
      // JOIN single-task: the co-bucket join's shuffle inputs are
      // tiny (520/263 KB at sf0.1), so AQE coalesced its reader to
      // ONE partition — and the multi-million-row candidate
      // explosion plus its partial-distinct run in the join stage,
      // AFTER the exchange whose size AQE measured (profiled: 1.8 s
      // of a 3.4 s warm run in one task writing the 12.7 MB distinct
      // exchange). Two changes:
      //  - spread the corpus ([[Tables.spread]]);
      //  - USER-specified (table_id, bucket) repartitions on both
      //    join inputs: AQE never coalesces user repartitions and the
      //    matching counts satisfy the join requirement, so the
      //    explosion stage keeps session parallelism at any scale.
      // Results unchanged (the cap window orders by vec_id, the pair
      // set is distinct-ed).
      val parts = s.sessionState.conf.numShufflePartitions
      val capped = Similarity.bucketed(
          Tables.spread(Tables(s, d, "embeddings")), "embedding")
        .select(col("vec_id"), col("table_id"), col("bucket"))
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= 256).drop("pos")
      val probes = Similarity.probeBucketed(
          Tables.spread(Tables(s, d, "embeddings")), "embedding")
        .select(col("vec_id").as("a_id"), col("table_id"), col("bucket"))
      val cands = probes
        .repartition(parts, col("table_id"), col("bucket"))
        .join(capped.select(col("vec_id").as("b_id"),
            col("table_id"), col("bucket"))
          .repartition(parts, col("table_id"), col("bucket")),
          Seq("table_id", "bucket"))
        .filter(col("a_id") =!= col("b_id"))
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"))
        .distinct()
      val va = Tables(s, d, "embeddings")
        .select(col("vec_id").as("a_id"), col("embedding").as("va"))
      val vb = Tables(s, d, "embeddings")
        .select(col("vec_id").as("b_id"), col("embedding").as("vb"))
      // two consumers (recall hits + the false-positive anti-join):
      // materialize once, the d10 discipline
      val approx = cands.join(va, "a_id").join(vb, "b_id")
        .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= 0.35)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val exact = cosinePairs(s, d).select(col("a_id"), col("b_id"))
      val nExact = exact.agg(count(lit(1)).as("n_exact_pairs"))
      val hits = exact.join(approx, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      val falsePos = approx.join(exact, Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).as("n_false_pos"))
      nExact.crossJoin(hits).crossJoin(falsePos)
        .select(col("n_exact_pairs"), col("n_false_pos"),
          (col("n_exact_pairs") === 0L ||
            col("hits").cast("double") / col("n_exact_pairs") >= 0.75)
            .as("recall_ok"))
    }),

    // ── d16: SEMANTIC DEDUP, cluster-bounded (the SemDeDup shape):
    // candidate pairs are generated ONLY within k-means cells of the
    // shared IVF quantizer (Similarity's cached fit — one index, two
    // consumers), then exact-rescored at the d05 threshold. The third
    // embedding-dedup scale economy next to d05 (exact, all pairs)
    // and d12 (LSH buckets): cells bound candidate volume to
    // Σ|cell|² ≈ n²/k with NO per-pair hashing, which is why
    // web-scale curation (SemDeDup over LAION) runs this shape —
    // clustering is one narrow pass and the quadratic stage is
    // embarrassingly cell-parallel. The contract is d12's: false
    // positives structurally 0 (exact rescore, counted in-plan),
    // recall vs the exact d05 pair set thresholded (cluster-routing
    // loss is the priced trade; measured 0.82–0.89 across SFs with
    // 3-way assignment, gate 0.7 — a near-dup pair the quantizer
    // splits across every shared cell is the known SemDeDup miss
    // mode).
    "d16_semantic_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (_, cents) = Similarity.ivfIndex(s, d)
      // MULTI-ASSIGNMENT: each vector joins its top-3 cells by
      // centroid cosine (single-assignment measured recall 0.25–0.39
      // — the quantizer splits near-dup pairs across a cell boundary
      // far too often; 3-way assignment triples index rows and lifts
      // measured recall to 0.82–0.89 across SFs, the standard
      // SemDeDup/IVF multi-assignment remedy)
      val wc = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("mcell").asc)
      val multi = Tables(s, d, "embeddings")
        .crossJoin(broadcast(cents.select(col("cell").as("mcell"),
          col("centroid"))))
        .withColumn("ccos",
          VectorFunctions.cosineSim(col("embedding"), col("centroid")))
        .withColumn("cr", row_number().over(wc))
        .filter(col("cr") <= 3)
        .select(col("mcell").as("cell"), col("vec_id"), col("embedding"))
        .localCheckpoint() // the (replicated) serving index
      val a = multi.select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("va"))
      val b = multi.select(col("cell"), col("vec_id").as("b_id"),
        col("embedding").as("vb"))
      val approx = a.join(b, Seq("cell"))
        .filter(col("a_id") < col("b_id"))
        .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= 0.35)
        .select(col("a_id"), col("b_id")).distinct().localCheckpoint()
      val exact = cosinePairs(s, d).select(col("a_id"), col("b_id"))
      val nExact = exact.agg(count(lit(1)).as("n_exact_pairs"))
      val hits = exact.join(approx, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      val falsePos = approx.join(exact, Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).as("n_false_pos"))
      nExact.crossJoin(hits).crossJoin(falsePos)
        .select(col("n_exact_pairs"), col("n_false_pos"),
          (col("n_exact_pairs") === 0L ||
            col("hits").cast("double") / col("n_exact_pairs") >= 0.7)
            .as("cell_recall_ok"))
    }),

    // ── p06: LEAKAGE-SAFE train/val/test split — the split decision
    // that makes held-out evaluation honest: if two near-duplicate
    // documents land in different splits, the test set leaks into
    // training and eval scores inflate. p02's per-document hash split
    // cannot prevent that; the fix is to split by NEAR-DUP CLUSTER:
    // every document inherits its connected component's id (singletons
    // keep their own), and the split hash is computed over the CLUSTER
    // id — so a whole duplicate family moves between splits as one
    // unit. Composition is entirely index-reuse: the cached ≥0.2 pair
    // table feeds the O(log n) star clustering, one left join labels
    // the corpus, and the verification column (cross-split pair count,
    // necessarily 0) is computed in-plan from the same pair table — the
    // contract is visible in the output row, not just implied.
    "p06_leakage_safe_split" -> ((s, d) => {
      val pairs = exactJaccardPairs(s, d)
      val comp = starComponents(
        pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      import graft.functions.PortableHashFunctions.{splitBucket, splitLabel}
      val assigned = docs(s, d).select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split",
          splitLabel(splitBucket("lsplit:", col("cluster_id"))))
        .localCheckpoint() // two consumers below; the component loop is iterative
      val sa = assigned.select(col("doc_id").as("a_id"), col("split").as("a_split"))
      val sb = assigned.select(col("doc_id").as("b_id"), col("split").as("b_split"))
      val violations = pairs.select(col("a_id"), col("b_id"))
        .join(sa, "a_id").join(sb, "b_id")
        .agg(coalesce(sum(when(col("a_split") =!= col("b_split"), 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_split_pairs"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(violations))
        .orderBy(col("split"))
    }),

    // ── d14: CLUSTER REPRESENTATIVE SELECTION — the canonicalization
    // stage between clustering (d06/d07 emit components) and corpus
    // selection (p01 consumes documents): each near-dup family keeps
    // exactly ONE survivor — the longest member, ties to the smaller
    // doc_id — and the rest are dropped with their char mass
    // accounted. Deduplicated pretraining corpora are built this way
    // (keep-best, not keep-first): the representative choice is a
    // POLICY, so it rides as an argmax key, not code.
    //
    // 100 TB shape: the pair table and star components are the cached
    // d04/d07 machinery; singletons never enter the component loop
    // (they inherit their own id via the left join + coalesce — p06's
    // pattern), and the selection itself is one hash aggregate with a
    // collision-free integer argmax fold (n_chars·10¹² − doc_id, both
    // factors bounded so int64 holds) — no window, no per-cluster
    // sort.
    "d14_cluster_reps" -> ((s, d) => {
      val pairs = exactJaccardPairs(s, d)
        .select(col("b_id").as("u"), col("a_id").as("v")).localCheckpoint()
      val comp = starComponents(pairs)
      docs(s, d).select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("n_chars"))
        .groupBy(col("cluster_id"))
        .agg(
          max_by(col("doc_id"),
            col("n_chars") * lit(1000000000000L) - col("doc_id"))
            .as("rep_doc_id"),
          count(lit(1)).as("n_members"),
          (sum(col("n_chars")) - max(col("n_chars"))).as("chars_removed"))
        .orderBy(col("cluster_id"))
    }),
  )

  val oracles: Map[String, String] = Map(

    // connected components as a recursive CTE: transitive closure, then
    // min reachable id per node — the declarative fixpoint matching the
    // label-propagation loop
    "d06_dedup_clusters" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |        FROM documents) WHERE len(toks) >= 3),
        |p AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS h FROM g),
        |pc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS sza,
        |         b.sz AS szb, count(*) AS ic
        |       FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM pc
        |          WHERE CAST(ic AS DOUBLE) / (sza + szb - ic) >= 0.2),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // d06's component fixpoint, then keep-best per family: argmax by
    // the same (n_chars·10¹² − doc_id) fold, singletons via left join
    "d14_cluster_reps" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |        FROM documents) WHERE len(toks) >= 3),
        |p AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS h FROM g),
        |pc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS sza,
        |         b.sz AS szb, count(*) AS ic
        |       FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM pc
        |          WHERE CAST(ic AS DOUBLE) / (sza + szb - ic) >= 0.2),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |         FROM reach GROUP BY src),
        |assigned AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |    d.n_chars
        |  FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT cluster_id,
        |  max_by(doc_id, n_chars * 1000000000000 - doc_id) AS rep_doc_id,
        |  COUNT(*) AS n_members,
        |  CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT) AS chars_removed
        |FROM assigned GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // identical contract to d06 — the star algorithm must produce the
    // same components
    "d07_dedup_clusters_star" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |        FROM documents) WHERE len(toks) >= 3),
        |p AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS h FROM g),
        |pc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS sza,
        |         b.sz AS szb, count(*) AS ic
        |       FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM pc
        |          WHERE CAST(ic AS DOUBLE) / (sza + szb - ic) >= 0.2),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // transitive closure over the cosine pair graph, min reachable id
    // per node — the same declarative fixpoint as d06/d07's oracle
    "d09_semantic_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id
        |       WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
        |e2 AS (SELECT a_id AS src, b_id AS dst FROM pr
        |       UNION ALL SELECT b_id, a_id FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e2
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e2 ON r.dst = e2.src)
        |SELECT src AS vec_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,

    "d05_dedup_embedding" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.35
        |ORDER BY a_id, b_id""".stripMargin,

    // the contract restated: the exact pair count is engine-independent,
    // the rescore makes false positives impossible, and the recall gate
    // must hold — a recall regression (or a rescore bug) flips a column
    "d12_dedup_embedding_lsh" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT COUNT(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_pos,
        |  TRUE AS recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.35""".stripMargin,

    // d12's contract shape for the cluster-bounded route
    "d16_semantic_dedup" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT COUNT(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_pos,
        |  TRUE AS cell_recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.35""".stripMargin,

    // components via the d06 recursive CTE, cluster-keyed hash split,
    // and the cross-split pair count restated (necessarily 0 when the
    // split is computed over cluster ids)
    "p06_leakage_safe_split" ->
      s"""WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
        |        FROM documents) WHERE len(toks) >= 3),
        |p AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS h FROM g),
        |pc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS sza,
        |         b.sz AS szb, count(*) AS ic
        |       FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM pc
        |          WHERE CAST(ic AS DOUBLE) / (sza + szb - ic) >= 0.2),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |         FROM reach GROUP BY src),
        |asg AS (
        |  SELECT d.doc_id, d.n_chars,
        |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |    ${graft.functions.PortableHashFunctions.splitLabelSql(
             graft.functions.PortableHashFunctions.splitBucketSql("lsplit:",
               "CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)"))} AS split
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |viol AS (
        |  SELECT CAST(COALESCE(SUM(
        |      CASE WHEN x.split != y.split THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_cross_split_pairs
        |  FROM pairs pr JOIN asg x ON pr.a_id = x.doc_id
        |                JOIN asg y ON pr.b_id = y.doc_id)
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT cluster_id) AS n_clusters,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  n_cross_split_pairs
        |FROM asg, viol
        |GROUP BY split, n_cross_split_pairs ORDER BY split""".stripMargin,
  )
}
