package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Geospatial analysis over point data — the domain family the
  * reference's dataset (Chicago crime, `latitude`/`longitude`/
  * `x_coordinate`/`y_coordinate` in `create&Load.sql:8-11`) invites
  * and its pipeline never ships: hotspot density maps and
  * within-radius proximity joins. No geo library — both operators are
  * the GRID-CELL decomposition every distributed spatial engine
  * (Sedona, BigQuery GIS partitioning) reduces to: bin points into
  * integer cells so density is ONE keyed aggregate and a radius join
  * is an EQUI-join on neighboring cells, never an all-pairs distance
  * theta join.
  *
  * Coordinates are INTEGER-EXACT synthetic planar units: the portable
  * 31-poly hash of the order key (domain-prefixed per axis — the p02
  * decorrelation discipline) mod the city extent. A multiplicative
  * congruential map was tried first and is a trap: `k·7919 mod 25000`
  * is a BIJECTION per residue class, so the "cloud" is a lattice —
  * zero near pairs at small SFs, and at large SFs every point gains
  * exact-coincident partners at Δk = lcm of the extents. The poly
  * hash gives a genuinely dispersed cloud both engines compute
  * identically, so the full results hash-check.
  */
object Geo {

  /** City extent: 25000 × 30000 units (~2.5° × 3°). */
  private val LatExtent = 25000L
  private val LonExtent = 30000L

  /** Poly hash per axis + a MULTIPLICATIVE mix. The poly hash alone
    * is not dispersed enough here: poly-31 over a decimal string is
    * linear in the last digit, so consecutive keys land at ADJACENT
    * coordinates — runs of digit-siblings formed coincident
    * micro-clusters (measured n_within floor of 9 at every SF,
    * swamping the spatial signal), and re-hashing the hash's decimal
    * string inherits the same ±1 adjacency. Multiplying by the Knuth
    * constant mod 1e9+7 sends Δ=1 to Δ≈2.65·10⁹ mod p; the product
    * stays under 2.7·10¹⁸ (int64-safe in both engines) because the
    * hash is already < 1e9+7. The two axes take DIFFERENT mix
    * constants: their raw hashes differ only by a per-key-length
    * constant (same digit fold, different prefix), so one shared
    * constant leaves the axes correlated and the cloud collapses
    * onto a 1-D manifold (measured ~16× neighbor inflation); distinct
    * multipliers make lat-closeness independent of lon-closeness.
    * The cloud becomes Poisson-dispersed. */
  private def axis(prefix: String, mix: Long): org.apache.spark.sql.Column = {
    import graft.functions.PortableHashFunctions.polyHash
    pmod(polyHash(concat(lit(prefix), col("o_orderkey").cast("string")))
      * lit(mix), lit(1000000007L))
  }

  /** Spec hook: the point cloud, for the brute-force completeness pin
    * in OperatorSpec. */
  private[graft] def pointsForSpec(s: SparkSession, d: String): DataFrame =
    points(s, d)

  /** The facility dimension: one "station" per nation row, placed by
    * the same portable hash machinery (distinct prefixes). */
  private def facilities(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableHashFunctions.polyHash
    def fAxis(prefix: String, mix: Long, extent: Long) =
      pmod(pmod(polyHash(concat(lit(prefix),
        col("n_nationkey").cast("string"))) * lit(mix),
        lit(1000000007L)), lit(extent))
    Tables(s, d, "nation").select(
      col("n_nationkey").cast("long").as("fid"),
      fAxis("flat:", 2654435761L, LatExtent).as("flat"),
      fAxis("flon:", 1779033703L, LonExtent).as("flon"))
  }

  /** One point per order, poly-hash-placed. `spread` repartitions the
    * key scan (when it is narrower than the session) BEFORE the hash
    * placement so the per-point compute parallelizes — q113/q114 opt
    * in (their per-point work is multiplied ×9/×25 downstream: 1.7–2.9 s
    * single-task stages at sf0.1/32c without it), and the exchange
    * carries only the 8-byte key; q112 stays a single map-side-combined
    * aggregate with no extra exchange. */
  private def points(s: SparkSession, d: String, spread: Boolean = false): DataFrame = {
    val keys = Tables(s, d, "orders").select(col("o_orderkey"))
    val src = if (spread) Tables.spreadNarrowScan(s, keys, "o_orderkey") else keys
    src.select(
      col("o_orderkey").as("id"),
      pmod(axis("lat:", 2654435761L), lit(LatExtent)).as("latu"),
      pmod(axis("lon:", 1779033703L), lit(LonExtent)).as("lonu"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(

    // ── q112: HOTSPOT GRID — the density map behind every crime/
    // incident dashboard: bin points into 1000-unit cells, count per
    // cell, rank the top 10. At 100 TB this is ONE hash aggregate
    // with map-side partial counts (cells ≪ points), then a top-k
    // over cell-count rows (TakeOrderedAndProject scale, never a
    // global sort of points). sum_ids pins that the cells contain
    // exactly the right points, not just the right number of them.
    "q112_geo_hotspots" -> ((s, d) => {
      points(s, d)
        .withColumn("cell_x", expr("latu div 1000"))
        .withColumn("cell_y", expr("lonu div 1000"))
        .groupBy(col("cell_x"), col("cell_y"))
        .agg(count(lit(1)).as("n_points"), sum(col("id")).as("sum_ids"))
        .orderBy(col("n_points").desc, col("cell_x"), col("cell_y"))
        .limit(10)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n_points").desc, col("cell_x"), col("cell_y")))
            .cast("int"))
        .select(col("rank"), col("cell_x"), col("cell_y"),
          col("n_points"), col("sum_ids"))
    }),

    // ── q113: WITHIN-RADIUS proximity stats — "how many incidents
    // within one cell-radius of each incident, and how close is the
    // nearest": the clustering signal proximity policing and
    // near-repeat analysis run on. The scale shape is the 2-D
    // banding trick (d03's pigeonhole, spatially): with cell size =
    // radius, every within-radius pair sits in the 3×3 cell
    // neighborhood, so candidates are an EQUI-join of each point's 9
    // probe cells against the cell-bucketed point set — candidate
    // volume is density-bounded per cell, never O(n²) — and the
    // exact integer d² filter runs only on candidates.
    //
    // The radius is DENSITY-ADAPTIVE, derived in-plan from the point
    // count (the p09 count-derived pattern): c = extent/(⌊√n⌋+1), so
    // the expected neighbor count per point (π·c²·density ≈ 2.6 for
    // a uniform cloud; measured ≈ 4.3, max 14 — mildly super-Poisson
    // from the hash map's residual structure) is CONSTANT across SFs
    // — a fixed radius is either vacuous at sf0.001 (0.14 expected
    // neighbors) or explosive at sf0.1, which is exactly why
    // production spatial joins tune their grid to density. The 1-row c frame broadcasts (q97-bounds pattern);
    // the oracle replays the same derivation and the same grid join
    // (an all-pairs restatement would be 2·10¹⁰ DuckDB pairs at
    // sf0.1 — the oracle must scale too).
    "q113_geo_radius_join" -> ((s, d) => {
      val base = points(s, d, spread = true)
      val cdf = base.agg(expr(
        s"CAST($LatExtent AS BIGINT) div " +
          "(CAST(floor(sqrt(CAST(count(1) AS DOUBLE))) AS BIGINT) + 1)")
        .as("c"))
      val pts = base.crossJoin(broadcast(cdf))
        .withColumn("cx", expr("latu div c"))
        .withColumn("cy", expr("lonu div c"))
      val probes = pts
        .select(col("id").as("a_id"), col("latu").as("la"),
          col("lonu").as("lo"), col("c"),
          explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
            "transform(sequence(-1, 1), dy -> struct(dx, dy))))"))
            .as("off"),
          col("cx"), col("cy"))
        .select(col("a_id"), col("la"), col("lo"), col("c"),
          (col("cx") + col("off.dx")).as("cx"),
          (col("cy") + col("off.dy")).as("cy"))
      val cands = pts.select(col("id").as("b_id"), col("latu").as("lb"),
        col("lonu").as("lob"), col("cx"), col("cy"))
      probes.join(cands, Seq("cx", "cy"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("d2",
          (col("la") - col("lb")) * (col("la") - col("lb")) +
            (col("lo") - col("lob")) * (col("lo") - col("lob")))
        .filter(col("d2") <= col("c") * col("c"))
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_within"), min(col("d2")).as("min_d2"))
        .orderBy(col("a_id"))
    }),

    // ── q114: NEAREST-FACILITY assignment — the OTHER canonical
    // spatial join (point × small dimension: district stations,
    // hospitals, depots): every point assigns to its nearest of 25
    // hash-placed facilities, rolled up per facility. The 25-row
    // facility table broadcasts (no grid needed — a dimension this
    // small IS the broadcast case; the grid decomposition is for
    // point×point, q113); the per-point argmin is the collision-free
    // integer fold (d²·100 + fid, exact in int64 since d² < 1.6·10⁹),
    // ONE hash aggregate — no window, no per-point sort — and the
    // facility rollup is a second tiny aggregate. At 100 TB: one
    // corpus pass, two map-side-combined aggregations.
    "q114_geo_nearest_facility" -> ((s, d) => {
      val pts = points(s, d, spread = true)
      val assigned = pts.crossJoin(broadcast(facilities(s, d)))
        .withColumn("d2",
          (col("latu") - col("flat")) * (col("latu") - col("flat")) +
            (col("lonu") - col("flon")) * (col("lonu") - col("flon")))
        .groupBy(col("id"))
        .agg(min(col("d2") * 100L + col("fid")).as("fold"))
        .select(col("id"), expr("fold % 100").as("fid"),
          expr("fold div 100").as("d2"))
      assigned.groupBy(col("fid"))
        .agg(count(lit(1)).as("n_points"), sum(col("d2")).as("sum_d2"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("fid"))
    })
  ))

  private def axisSql(prefix: String, mix: Long): String = {
    import graft.functions.PortableHashFunctions.polyHashSql
    "((" + polyHashSql(s"'$prefix' || CAST(o_orderkey AS VARCHAR)") +
      s") * $mix % 1000000007)"
  }

  val oracles: Map[String, String] = Map(
    "q112_geo_hotspots" ->
      s"""WITH p AS (SELECT o_orderkey AS id,
        |    ${axisSql("lat:", 2654435761L)} % $LatExtent AS latu,
        |    ${axisSql("lon:", 1779033703L)} % $LonExtent AS lonu
        |  FROM orders),
        |c AS (SELECT latu // 1000 AS cell_x, lonu // 1000 AS cell_y,
        |    COUNT(*) AS n_points, CAST(SUM(id) AS BIGINT) AS sum_ids
        |  FROM p GROUP BY 1, 2)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_points DESC, cell_x,
        |    cell_y) AS INTEGER) AS rank,
        |  cell_x, cell_y, n_points, sum_ids
        |FROM c ORDER BY n_points DESC, cell_x, cell_y LIMIT 10""".stripMargin,

    // the identical derivation and grid join: adaptive c from the
    // count, 9 probe cells per point via the series cross, equi-join
    // on the cell, exact integer d² filter
    "q113_geo_radius_join" ->
      s"""WITH p AS (SELECT o_orderkey AS id,
        |    ${axisSql("lat:", 2654435761L)} % $LatExtent AS latu,
        |    ${axisSql("lon:", 1779033703L)} % $LonExtent AS lonu
        |  FROM orders),
        |cc AS (SELECT $LatExtent //
        |    (CAST(floor(sqrt(COUNT(*))) AS BIGINT) + 1) AS c FROM p),
        |g AS (SELECT id, latu, lonu, latu // c AS cx, lonu // c AS cy
        |      FROM p, cc),
        |probes AS (SELECT id AS a_id, latu AS la, lonu AS lo,
        |    cx + dx.g AS cx, cy + dy.g AS cy
        |  FROM g, generate_series(-1, 1) AS dx(g),
        |       generate_series(-1, 1) AS dy(g)),
        |pairs AS (SELECT a_id,
        |    (la - c2.latu) * (la - c2.latu)
        |      + (lo - c2.lonu) * (lo - c2.lonu) AS d2
        |  FROM probes JOIN g c2 ON probes.cx = c2.cx AND probes.cy = c2.cy
        |  WHERE a_id <> c2.id)
        |SELECT a_id, COUNT(*) AS n_within, CAST(MIN(d2) AS BIGINT) AS min_d2
        |FROM pairs, cc WHERE d2 <= c * c
        |GROUP BY a_id ORDER BY a_id""".stripMargin,

    // the identical fold-argmin replayed: facilities placed by the
    // same per-axis hash over n_nationkey, d2*100 + fid decomposed
    "q114_geo_nearest_facility" -> {
      def fAxisSql(prefix: String, mix: Long): String = {
        import graft.functions.PortableHashFunctions.polyHashSql
        "((" + polyHashSql(s"'$prefix' || CAST(n_nationkey AS VARCHAR)") +
          s") * $mix % 1000000007)"
      }
      s"""WITH p AS (SELECT o_orderkey AS id,
        |    ${axisSql("lat:", 2654435761L)} % $LatExtent AS latu,
        |    ${axisSql("lon:", 1779033703L)} % $LonExtent AS lonu
        |  FROM orders),
        |f AS (SELECT CAST(n_nationkey AS BIGINT) AS fid,
        |    ${fAxisSql("flat:", 2654435761L)} % $LatExtent AS flat,
        |    ${fAxisSql("flon:", 1779033703L)} % $LonExtent AS flon
        |  FROM nation),
        |a AS (SELECT id,
        |    MIN(((latu - flat) * (latu - flat)
        |       + (lonu - flon) * (lonu - flon)) * 100 + fid) AS fold
        |  FROM p, f GROUP BY id)
        |SELECT fold % 100 AS fid, COUNT(*) AS n_points,
        |  CAST(SUM(fold // 100) AS BIGINT) AS sum_d2,
        |  MIN(id) AS min_id, MAX(id) AS max_id
        |FROM a GROUP BY 1 ORDER BY fid""".stripMargin
    }
  )
}
