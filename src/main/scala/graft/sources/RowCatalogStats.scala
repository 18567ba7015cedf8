package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Statistics-surface rows of the DML catalog registry — the family
  * file the 1,500-line discipline splits out of [[RowCatalogQueries]]
  * (which aggregates these maps; SparkEntry and every spec key are
  * untouched). */
object RowCatalogStatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── q158: `.column_stats` METADATA TABLE — the NDV observability
    // surface completing the metadata family (.history/.files/
    // .partitions/.refs/.snapshots/.manifests/.changes): one row per
    // tracked column with the folded distinct-count and null count,
    // answered entirely from manifest-resident sketches (zero data
    // files opened — what this table shows IS what the CBO sees).
    // The fixture keeps every tracked column's TRUE cardinality under
    // the sketch's K=256, where the KMV fold is EXACT by construction
    // (band = o_orderkey % 97 ≤ 97 distinct; status ≤ 3) — so unlike
    // q155's tolerance pins, this row is fully hash-checked: DuckDB
    // restates both distinct counts and the null count relationally.
    // Two commits (one with an all-NULL-free slice, one carrying the
    // NULLs) make the fold genuinely merge per-file sketches and sum
    // per-file null counts.
    "q158_dml_column_stats_table" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q158_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.cstats")
      s.sql("CREATE TABLE graft_dml.ns.cstats " +
        "(k BIGINT, band BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('ndv'='band,status')")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.cstats
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(o_orderkey % 97 AS BIGINT),
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_orderstatus END
        FROM q158_orders WHERE o_orderkey % 4 = $r"""); () }
      ins(0); ins(1)
      s.table("graft_dml.ns.cstats.column_stats").orderBy(col("column"))
    }),

    // ── q159: `compute_table_stats` END TO END — the ANALYZE path
    // (Iceberg's compute_table_stats): the table is created WITHOUT
    // the ndv property, so write-time tracking never ran; the CALL
    // then retro-fits per-file sketches in one distributed pass
    // (executors sketch the named columns, the driver collects only
    // K-long sketches) and adds the columns to the tracked set, after
    // which `.column_stats` answers from manifests alone. A THIRD
    // commit lands AFTER the CALL, proving the property sticks
    // (post-ANALYZE writes record sketches at write time and the fold
    // merges eras). Cardinalities sit under the sketch's K, so both
    // the analyzed and the write-time sketches are exact and the row
    // hash-matches DuckDB's restatement.
    "q159_dml_compute_stats" -> ((s, d) => {
      graft.Tables(s, d, "orders").createOrReplaceTempView("q159_orders")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.anlq")
      s.sql("CREATE TABLE graft_dml.ns.anlq " +
        "(k BIGINT, band BIGINT, status STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      def ins(r: Int): Unit = { s.sql(s"""INSERT INTO graft_dml.ns.anlq
        SELECT CAST(o_orderkey AS BIGINT),
               CAST(o_orderkey % 61 AS BIGINT),
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderstatus END
        FROM q159_orders WHERE o_orderkey % 4 = $r"""); () }
      ins(0); ins(1)
      s.sql("CALL graft_dml.system.compute_table_stats(" +
        "'ns.anlq', 'band,status')").collect()
      ins(2) // post-ANALYZE commit: write-time sketches must extend
      s.table("graft_dml.ns.anlq.column_stats").orderBy(col("column"))
    })
  )

  val oracles: Map[String, String] = Map(
    // both tracked columns' distinct and null counts restated exactly
    // (true cardinalities sit under the sketch's K, where KMV is
    // exact; the column name sorts the two rows)
    "q158_dml_column_stats_table" ->
      """WITH t AS (SELECT CAST(o_orderkey % 97 AS BIGINT) AS band,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         ELSE o_orderstatus END AS status
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1))
        |SELECT 'band' AS "column",
        |  CAST(COUNT(DISTINCT band) AS BIGINT) AS ndv,
        |  CAST(0 AS BIGINT) AS n_nulls
        |FROM t
        |UNION ALL
        |SELECT 'status', CAST(COUNT(DISTINCT status) AS BIGINT),
        |  CAST(SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM t
        |ORDER BY "column"""".stripMargin,

    // all three slices' distinct and null counts restated — the
    // analyzed eras and the post-ANALYZE write-time era must fold to
    // one exact answer
    "q159_dml_compute_stats" ->
      """WITH t AS (SELECT CAST(o_orderkey % 61 AS BIGINT) AS band,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_orderstatus END AS status
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1, 2))
        |SELECT 'band' AS "column",
        |  CAST(COUNT(DISTINCT band) AS BIGINT) AS ndv,
        |  CAST(0 AS BIGINT) AS n_nulls
        |FROM t
        |UNION ALL
        |SELECT 'status', CAST(COUNT(DISTINCT status) AS BIGINT),
        |  CAST(SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM t
        |ORDER BY "column"""".stripMargin
  )
}
