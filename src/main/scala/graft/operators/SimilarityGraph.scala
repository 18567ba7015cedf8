package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** GRAPH-INDEX ANN — the family the r14 verdict flagged as the one
  * uncovered serving-side index (HNSW/DiskANN). A faithful HNSW is a
  * single mutable pointer-chasing structure — driver-hostile and
  * foreign to Spark's execution model — so this is the PARTITIONED
  * SMALL-WORLD approximation the verdict sketched: per-IVF-cell
  * neighbor graphs over the existing coarse-quantizer layout, beam
  * search WITHIN the probed cells, the s04 recall gate on top.
  *
  *   - BUILD: within each cell, the exact top-`Degree` cosine
  *     neighbor list per member (cells are bounded — the per-bucket
  *     cap discipline every candidate generator here follows — so the
  *     per-cell self-join is |cell|² per cell, never corpus²), plus
  *     one ENTRY POINT per cell (the member nearest its centroid —
  *     HNSW's fixed entry, per partition). Both are ordinary
  *     DataFrames; at scale they persist cell-partitioned exactly
  *     like the s06 index segments.
  *   - SEARCH: route each query to `nProbe` cells by centroid
  *     distance (the index's own euclidean metric — the r7 routing
  *     lesson), seed the frontier with those cells' entry points,
  *     then `Hops` rounds of: expand the frontier through the
  *     neighbor lists (join + explode), drop visited, exact-rescore,
  *     keep the best `Beam` per query. Every round is a bounded
  *     DataFrame join — frontier ≤ queries × beam × degree rows — so
  *     the traversal is data-parallel instead of pointer-chasing,
  *     and the plan's joins broadcast the query-sized side.
  *
  * The trade vs true HNSW: no cross-cell edges (routing recall is the
  * IVF router's), fixed hop budget instead of greedy convergence.
  * What it keeps: sublinear candidate volume, graph locality inside a
  * partition, and the serving shape (entry → expand → beam). The s20
  * row gates recall@K ≥ 0.6 against the exact baseline in-plan at
  * every SF. */
object SimilarityGraph {

  private val Degree = 8     // exact within-cell NN edges per node
  private val LongEdges = 4  // hash-drawn long links (the small-world
                             // ingredient a pure NN graph lacks — NN
                             // neighborhoods are cliquish and a beam
                             // walk gets stuck locally; measured: the
                             // 0.6 gate failed at sf0.1 without them)
  private val Hops = 5
  private val Beam = 64

  /** Per-cell neighbor lists + per-cell entry points, from the shared
    * IVF assignment. Returns (graph: cell, id, nbrs ARRAY<BIGINT>;
    * entries: cell, entry_id — TWO per cell: the member the quantizer
    * considers most central plus one hash-drawn member, so the walk
    * starts from diverse regions of the cell). */
  private def buildGraph(assigned: DataFrame, cents: DataFrame)
      : (DataFrame, DataFrame) = {
    val a = assigned.select(col("cell"), col("vec_id").as("id"),
      col("embedding").as("v"))
    val b = assigned.select(col("cell"), col("vec_id").as("nid"),
      col("embedding").as("nv"))
    val wNbr = Window.partitionBy(col("cell"), col("id"))
      .orderBy(col("ncos").desc, col("nid").asc)
    // hash-ranked long links: deterministic, pair-keyed (so the draw
    // is independent per edge), uniform over the cell — the expander
    // edges that make the graph navigable
    val wLong = Window.partitionBy(col("cell"), col("id"))
      .orderBy(xxhash64(col("id"), col("nid")).asc, col("nid").asc)
    val graph = a.join(b, Seq("cell"))
      .filter(col("id") =!= col("nid"))
      .withColumn("ncos", VectorFunctions.cosineSim(col("v"), col("nv")))
      .withColumn("r", row_number().over(wNbr))
      .withColumn("lr", row_number().over(wLong))
      .filter(col("r") <= Degree || col("lr") <= LongEdges)
      .groupBy(col("cell"), col("id"))
      .agg(sort_array(collect_set(col("nid"))).as("nbrs"))
    val wEntry = Window.partitionBy(col("cell"))
      .orderBy(col("cdist").asc, col("id").asc)
    val wHash = Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
    val scoredMembers = assigned.select(col("cell"),
        col("vec_id").as("id"), col("embedding").as("v"))
      .join(broadcast(cents), Seq("cell"))
      // ‖v − centroid‖² — the index's own (euclidean) metric, same
      // form as the router's, so the entry point is the member the
      // quantizer itself considers most central
      .withColumn("cdist", expr("aggregate(zip_with(v, centroid, " +
        "(x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 0D, " +
        "(a, w) -> a + w * w)"))
    val entries = scoredMembers
      .withColumn("r", row_number().over(wEntry))
      .withColumn("hr", row_number().over(wHash))
      .filter(col("r") === 1 || col("hr") === 1)
      .select(col("cell"), col("id").as("entry_id")).distinct()
    (graph, entries)
  }

  /** Graph build amortizes per (session, corpus) like the IVF index
    * it rides on — one localCheckpoint'd build serves the bench's
    * min-of-N runs and every later query. */
  private val graphCache =
    new graft.SessionLruCache[(DataFrame, DataFrame)](4)

  /** Beam search over the partitioned small-world graph → the s01/s03
    * output shape (q_id, n_id, rank, cos).
    *
    * Physical shape: ONE distributed pass. The traversal state of a
    * beam search is a few hundred (id, score) pairs per query — a
    * DataFrame-join rendering of the loop (tried first) spent its
    * whole budget on per-hop shuffle/job overhead (measured 23 s cold
    * / 3–4 s warm for five hops of joins); the per-cell local walk is
    * the shape a sharded graph-ANN server actually runs: adjacency
    * and vectors co-partitioned BY CELL, each partition traverses its
    * own cells greedily in memory (best-first, expansion-capped), and
    * only per-cell top-Beam candidates leave the executor. Queries
    * and routing are NQ-sized — the one thing that rides the closure
    * (the centroid-frame allowance). */
  private[graft] def graphTopK(s: SparkSession, d: String,
      nProbe: Int = 6): DataFrame = {
    val (assigned, cents) = Similarity.ivfIndex(s, d)
    val (graph, entries) = graphCache.getOrElseUpdate(s, d) {
      val (g, e) = buildGraph(assigned, cents)
      (g.localCheckpoint(), e.localCheckpoint())
    }
    val q = assigned.filter(col("vec_id") < Similarity.NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    // route in the index's own metric; queries × nProbe rows — the
    // NQ-sized frames that legitimately visit the driver
    val routed: Map[Int, Seq[(Long, Array[Float])]] =
      Similarity.probeCellsEuclid(q, cents, nProbe).collect()
        .map(r => (r.getInt(r.fieldIndex("cell")),
          (r.getLong(r.fieldIndex("q_id")),
            r.getSeq[Float](r.fieldIndex("qv")).toArray)))
        .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).toSeq) }
    val entryByCell: Map[Int, Seq[Long]] = entries.collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).toSeq) }
    val beam = Beam
    // adjacency + vectors co-partitioned by cell; hop budget rides as
    // an expansion cap (Beam × Hops node expansions per query-cell)
    val expansionCap = Beam * Hops
    val cellData = graph.join(
      assigned.select(col("cell"), col("vec_id").as("id"),
        col("embedding").as("v")), Seq("cell", "id"))
    val outRdd = cellData
      .repartition(col("cell"))
      .select(col("cell"), col("id"), col("nbrs"), col("v"))
      .rdd.mapPartitions { it =>
        // a hash partition may hold several whole cells — group them
        val byCell = it.map { r =>
          (r.getInt(0), (r.getLong(1), r.getSeq[Long](2).toArray,
            r.getSeq[Float](3).toArray))
        }.toSeq.groupBy(_._1)
        byCell.iterator.flatMap { case (cell, rows) =>
          val qs = routed.getOrElse(cell, Seq.empty)
          if (qs.isEmpty) Iterator.empty
          else {
            val nbrs = rows.map(x => x._2._1 -> x._2._2).toMap
            val vecs = rows.map(x => x._2._1 -> x._2._3).toMap
            def cos(a: Array[Float], b: Array[Float]): Double = {
              var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              while (i < a.length) {
                dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
                nb += b(i).toDouble * b(i); i += 1
              }
              if (na == 0 || nb == 0) 0.0
              else dot / math.sqrt(na * nb)
            }
            qs.iterator.flatMap { case (qid, qv) =>
              // greedy best-first beam: expand the best unexpanded
              // visited node until the expansion budget is spent
              val score = scala.collection.mutable.Map[Long, Double]()
              val expanded = scala.collection.mutable.Set[Long]()
              entryByCell.getOrElse(cell, Seq.empty).foreach { e =>
                vecs.get(e).foreach(v => score(e) = cos(qv, v)) }
              var steps = 0
              var continue = true
              while (continue && steps < expansionCap) {
                val cand = score.iterator
                  .filterNot(kv => expanded(kv._1))
                  .reduceOption((a, b) =>
                    if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b
                    else a)
                cand match {
                  case None => continue = false
                  case Some((id, _)) =>
                    expanded += id; steps += 1
                    nbrs.getOrElse(id, Array.empty[Long]).foreach { n =>
                      if (!score.contains(n))
                        vecs.get(n).foreach(v => score(n) = cos(qv, v))
                    }
                }
              }
              score.iterator.filter(_._1 != qid).toSeq
                .sortBy(kv => (-kv._2, kv._1)).take(beam)
                .map { case (nid, c) => (qid, nid, c) }
            }
          }
        }
      }
    import s.implicits._
    val wK = Window.partitionBy(col("q_id"))
      .orderBy(col("cos0").desc, col("n_id").asc)
    outRdd.toDF("q_id", "n_id", "cos0")
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= Similarity.K)
      .select(col("q_id"), col("n_id"),
        col("rank").cast("int").as("rank"),
        (round(col("cos0"), 6) + 0.0).as("cos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── s20: GRAPH-INDEX ANN (partitioned small-world) — entry →
    // expand → beam inside the probed cells, recall-gated in-plan
    // against the exact baseline (the s04 discipline). The gate is
    // the CONTRACT: the graph traversal must recover ≥ 0.6 of the
    // exact top-K through a degree-(8 NN + 4 long-link) graph under
    // a Beam×Hops expansion budget, seeded at two entry points per
    // probed cell (the constants above are the binding values).
    "s20_ann_graph" -> ((s, d) => {
      val exact = Similarity.queries("s01_ann_bruteforce")(s, d)
      Similarity.recallGate(exact, graphTopK(s, d), 0.6, "graph_recall_ok")
    })
  ))

  val oracles: Map[String, String] = Map(
    "s20_ann_graph" ->
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
        |SELECT COUNT(*) AS n_pairs, TRUE AS graph_recall_ok
        |FROM topk""".stripMargin
  )
}
