package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the at-rest hygiene operator every
  * continuously-ingesting lake needs. Streaming/micro-batch sinks (and
  * over-parallel writers, like st05's per-batch output) leave each
  * partition directory holding hundreds of tiny files; at 100 TB that
  * means scan task counts in the millions, footer-read overhead
  * dominating I/O, and name-node/listing pressure.
  *
  * `compact` rewrites a partitioned dataset with one shuffle:
  * repartition by the partition column co-locates each directory's rows
  * into one writer task (AQE splits a genuinely oversized partition),
  * and `maxRecordsPerFile` re-splits output into bounded files — the
  * standard bin-pack. The rewrite is pure layout: same rows, same
  * partitioning scheme, fewer files (CompactionSpec pins the file
  * count; the q45 oracle pins the rows).
  */
object Compaction {

  /** Rewrite `inDir` (partitioned by `partCol`) into `outDir` with at
    * most `maxRecordsPerFile` rows per file. */
  def compact(s: SparkSession, inDir: String, outDir: String,
      partCol: String, maxRecordsPerFile: Long): Unit =
    s.read.parquet(inDir)
      .repartition(col(partCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCol)
      .parquet(outDir)

  /** Once per session: a deliberately fragmented partitioned copy of
    * events (32-way round-robin before a partitioned write → up to 32
    * files per event_type directory), then its compaction. Returns the
    * compacted path. */
  private[graft] def ensureCompacted(s: SparkSession, d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val frag = graft.Scratch.dir(s, "graft_frag", tag)
    val compacted = graft.Scratch.dir(s, "graft_compact", tag)
    if (!new java.io.File(s"$compacted/_SUCCESS").exists()) {
      graft.Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .repartition(32)
        .write.mode("overwrite").partitionBy("event_type").parquet(frag)
      compact(s, frag, compacted, "event_type", 2000000L)
    }
    compacted
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // fragment → compact → read back: compaction must be row-invariant
    "q45_compaction" -> ((s, d) => {
      s.read.parquet(ensureCompacted(s, d))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("id_sum"),
          sum(col("user_id")).as("user_sum"))
        .orderBy(col("event_type"))
    })
  ))

  val oracles: Map[String, String] = Map(
    "q45_compaction" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(user_id) AS BIGINT) AS user_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
