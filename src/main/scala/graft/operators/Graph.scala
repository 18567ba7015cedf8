package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over a relational edge list — the third
  * leg of the graph family (d06/d07 are connected components; these add
  * WEIGHTED iteration and pattern counting). No graph framework: edges
  * are a DataFrame, each round is a keyed join + aggregate Catalyst
  * optimizes like any other, which is exactly how billion-edge graph
  * jobs run on shared Spark clusters (GraphFrames is this pattern
  * packaged).
  *
  * The graph: a supplier→part "supplies" projection of lineitem,
  * folded to 100 nodes (`l_suppkey%100 → l_partkey%100`, distinct).
  * Deterministic, dense enough that every node participates at every
  * SF, and cheap for DuckDB to restate.
  *
  * INTEGER-EXACT ranks: floating-point PageRank is order-sensitive
  * (parallel sums reassociate; ranks drift at ulp level and the oracle
  * hash breaks). Ranks here live in a fixed-point integer space
  * (SCALE=1e6): contribution = `rank div outdeg`, damping =
  * `(85 * sum) div 100` — every intermediate is an exact int64 both
  * engines compute identically, so the full rank vector is
  * hash-checked, not tolerance-checked. The trade: `div` truncation
  * loses ~outdeg ulps of mass per node per round — irrelevant for
  * ranking (ranks are ~10^4 units apart) and a price worth paying for
  * a differential gate on an ITERATIVE operator.
  *
  * Scale shape (100 TB edges): edges materialize ONCE
  * (localCheckpoint) and every round reuses them — without the
  * checkpoint each round's plan re-derives the distinct edge list from
  * the fact table, tripling the scan. Each round is one shuffle of the
  * (small) rank vector to the edges' src partitioning + one shuffle of
  * contributions by dst; the edge table itself never re-shuffles after
  * the first round's exchange reuse. Rank vectors are |V| rows —
  * checkpointed per round to cut the growing lineage (d06's pattern;
  * O(rounds) plans otherwise).
  */
object Graph {

  private def edges100(s: SparkSession, d: String): DataFrame =
    graft.Tables(s, d, "lineitem")
      .select(pmod(col("l_suppkey"), lit(100)).cast("long").as("src"),
        pmod(col("l_partkey"), lit(100)).cast("long").as("dst"))
      .distinct()

  /** `rounds` fixed-point PageRank iterations at SCALE=1e6 over an
    * explicit node universe (so sink/in-degree-0 nodes keep the base
    * rank rather than vanishing). Returns (ranks, checkpointed
    * edges-with-outdeg) — callers needing degrees read them from the
    * SAME materialization the rounds use, never by re-deriving the
    * edge list from the fact table (review finding: the presentation
    * join was silently paying a second full scan+distinct). */
  def pagerankWithEdges(s: SparkSession, edges: DataFrame, nNodes: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    val nodes = s.range(0, nNodes.toLong).select(col("id").as("v"))
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // one materialization feeds every round
    val e = edges.join(outd, "src").localCheckpoint()
    var ranks = nodes.withColumn("r", lit(10000L)).localCheckpoint()
    for (_ <- 1 to rounds) {
      val contrib = e.join(ranks, e("src") === ranks("v"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      ranks = nodes.join(contrib, nodes("v") === contrib("dst"), "left")
        .select(col("v"),
          (lit(1500L) + expr("(85 * coalesce(cs, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    (ranks, e)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── g01: 3 PageRank rounds; the full exact rank vector is the
    // result (plus out-degree for interpretability).
    "g01_pagerank" -> ((s, d) => {
      val (ranks, e) = pagerankWithEdges(s, edges100(s, d),
        nNodes = 100, rounds = 3)
      // degrees from the checkpointed edge table — no second scan
      val outd = e.select(col("src"), col("deg")).distinct()
      ranks.join(outd, col("v") === col("src"), "left")
        .select(col("v"), col("r").as("rank_fp6"),
          coalesce(col("deg"), lit(0L)).as("outdeg"))
        .orderBy(col("v"))
    }),

    // ── g02: TRIANGLE COUNT on the undirected fold of the same graph.
    // The all-distributed formulation: two equi-joins over the edge
    // list, no per-node adjacency materialization, no wedge
    // double-count. Edges are ORIENTED low-degree → high-degree
    // (ties by id) before the wedge join — the standard mitigation
    // that bounds every wedge pivot's fan-out by out-degree ≤ √(2m),
    // dropping worst-case wedge counts from d_max² to m^1.5. Each
    // triangle {x,y,z} with x≺y≺z under the (deg,id) total order is
    // enumerated exactly once, as the wedge y←x→z closed by the
    // (necessarily y→z-oriented) third edge, so the count — and the
    // id-canonical DuckDB oracle — is unchanged by the orientation.
    "g02_triangles" -> ((s, d) => {
      val und = edges100(s, d)
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      // degrees in the undirected graph, joined back to both endpoints
      val deg = und.select(col("a").as("n"))
        .unionAll(und.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val withDeg = und
        .join(deg.withColumnsRenamed(Map("n" -> "a", "dg" -> "da")), "a")
        .join(deg.withColumnsRenamed(Map("n" -> "b", "dg" -> "db")), "b")
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      // orient u→v with u ≺ v under (deg, id); keep v's degree so the
      // wedge join can compare neighbors under the same total order
      val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
        .localCheckpoint() // one materialization feeds both join sides
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.u") === col("e2.u") &&
            (col("e2.dv") > col("e1.dv") ||
              (col("e2.dv") === col("e1.dv") && col("e2.v") > col("e1.v"))))
        .select(col("e1.v").as("y"), col("e2.v").as("z"))
      val tri = wedges.join(oriented.as("e3"),
        col("y") === col("e3.u") && col("z") === col("e3.v"))
      tri.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
    }),

    // ── g03: CO-PURCHASE GRAPH (market-basket pair mining) — the
    // within-group pair enumeration the recommender pipelines run
    // nightly: items sharing an order become weighted edges. The
    // self-join key is the ORDER key, so fan-out is basket-size²
    // per order (TPC-H baskets ≤ 7 lines → ≤ 21 pairs), LINEAR in
    // orders — categorically different from an item-item cross. At
    // 100 TB the guard is a per-basket item cap before the join
    // (pathological carts bound the quadratic term); the folded
    // 200-part id space keeps the pair table corpus-size-independent.
    // Top-20 under the fully-tie-broken (weight desc, pa, pb) order.
    "g03_copurchase" -> ((s, d) => {
      val items = graft.Tables(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"),
          pmod(col("l_partkey"), lit(200)).as("p"))
        .distinct()
      items.as("a")
        .join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pa"), col("pb"))
        .limit(20)
    })
  ))

  val oracles: Map[String, String] = Map(
    // the 3 rounds unrolled as CTE levels — identical integer
    // arithmetic, so the whole rank vector hash-matches
    "g01_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT l_suppkey % 100 AS src, l_partkey % 100 AS dst
        |  FROM lineitem),
        |outd AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT UNNEST(generate_series(0, 99)) AS v),
        |r0 AS (SELECT v, CAST(10000 AS BIGINT) AS r FROM nodes),
        |r1 AS (
        |  SELECT n.v,
        |    CAST(1500 + (85 * COALESCE(SUM(r0.r // o.deg), 0)) // 100
        |      AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.v
        |  LEFT JOIN outd o ON o.src = e.src
        |  LEFT JOIN r0 ON r0.v = e.src
        |  GROUP BY n.v),
        |r2 AS (
        |  SELECT n.v,
        |    CAST(1500 + (85 * COALESCE(SUM(r1.r // o.deg), 0)) // 100
        |      AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.v
        |  LEFT JOIN outd o ON o.src = e.src
        |  LEFT JOIN r1 ON r1.v = e.src
        |  GROUP BY n.v),
        |r3 AS (
        |  SELECT n.v,
        |    CAST(1500 + (85 * COALESCE(SUM(r2.r // o.deg), 0)) // 100
        |      AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.v
        |  LEFT JOIN outd o ON o.src = e.src
        |  LEFT JOIN r2 ON r2.v = e.src
        |  GROUP BY n.v)
        |SELECT r3.v, r3.r AS rank_fp6, COALESCE(outd.deg, 0) AS outdeg
        |FROM r3 LEFT JOIN outd ON outd.src = r3.v
        |ORDER BY r3.v""".stripMargin,

    // same canonical a<b<c enumeration
    "g02_triangles" ->
      """WITH und AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM (SELECT l_suppkey % 100 AS src, l_partkey % 100 AS dst
        |        FROM lineitem)
        |  WHERE src <> dst)
        |SELECT
        |  (SELECT COUNT(*) FROM und e1
        |    JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |    JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles,
        |  (SELECT COUNT(*) FROM und) AS n_edges""".stripMargin,

    // same basket pair enumeration, same total order for the cut
    "g03_copurchase" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey % 200 AS p
        |  FROM lineitem)
        |SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_orders
        |FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin
  )
}
