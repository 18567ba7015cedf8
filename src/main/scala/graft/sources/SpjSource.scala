package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The STORAGE-PARTITIONED half of the DSv2 connector story
  * ([[SeqSource]] covers pushdown/pruning/streaming; this covers
  * `SupportsReportPartitioning`). A source that already lays its data
  * out grouped by a key — a bucketed lake table, a sharded KV store, a
  * Kafka topic keyed by entity — can DECLARE that layout to Catalyst
  * via `KeyGroupedPartitioning`, and every aggregation or join whose
  * keys match the storage layout then runs WITHOUT a shuffle: at
  * 100 TB the exchange this removes is the single largest cost in the
  * plan (the whole fact table serialized through the network). This is
  * Spark's storage-partitioned join (SPARK-37375), the DSv2
  * generalization of q34's Hive bucketing — unlike bucketing it needs
  * no Hive metastore and works for ANY external system that can
  * promise "one partition = one key group".
  *
  * The table is a deterministic synthetic keyed sequence (so the whole
  * result is DuckDB-restatable): `groups` key groups × `rowsPerGroup`
  * rows, `id = grp*rowsPerGroup + j`, `amt = Lehmer(id, mult)` with a
  * configurable multiplier so two co-partitioned tables with different
  * measures can join (`q91_spj_join`). Each key group is ONE
  * `InputPartition` implementing `HasPartitionKey`, and the scan
  * reports `KeyGroupedPartitioning(identity(grp), groups)` — exactly
  * the contract `spark.sql.sources.v2.bucketing.enabled` consumes.
  * Column pruning mirrors SeqSource; `grp` stays resolvable in the
  * read schema whenever the plan needs the partitioning (Spark prunes
  * to the referenced columns, which necessarily include the
  * grouping/join key for the plans SPJ accelerates).
  *
  * `SpjSourceSpec` pins the contract non-vacuously: the grouped
  * aggregate and the co-partitioned join plan ZERO shuffle exchanges
  * with v2 bucketing on, at least one with it off, and identical
  * results either way.
  */
object SpjSource {
  val schema: StructType = StructType(Seq(
    StructField("grp", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("amt", LongType, nullable = false)))

  /** Lehmer-style deterministic measure, int64-safe for any id and any
    * mult < 2^31: ((id % 2147483647) * mult) % 2147483647 — restated
    * verbatim in the DuckDB oracles. */
  def amtOf(id: Long, mult: Long): Long =
    ((id % 2147483647L) * mult) % 2147483647L
}

class SpjSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpjSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // the properties map preserves caller case — normalize
    val opts = new CaseInsensitiveStringMap(properties)
    val groups = Option(opts.get("groups")).map(_.toInt).getOrElse(8)
    val rowsPerGroup =
      Option(opts.get("rowspergroup")).map(_.toLong).getOrElse(1000L)
    val mult = Option(opts.get("mult")).map(_.toLong).getOrElse(48271L)
    new SpjTable(groups, rowsPerGroup, mult)
  }
}

class SpjTable(groups: Int, rowsPerGroup: Long, mult: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_spj($groups x $rowsPerGroup)"
  override def schema(): StructType = SpjSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  // the table IS partitioned by grp — report it at the table level too
  // (informational; the binding Catalyst consumes is the Scan's)
  override def partitioning(): Array[Transform] =
    Array(Expressions.identity("grp"))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SpjScanBuilder(groups, rowsPerGroup, mult)
}

class SpjScanBuilder(groups: Int, rowsPerGroup: Long, mult: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = SpjSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new SpjScan(groups, rowsPerGroup, mult, required)
}

class SpjScan(groups: Int, rowsPerGroup: Long, mult: Long,
    required: StructType) extends Scan with Batch
    with SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The load-bearing declaration: rows are clustered by `grp`, one
    * key group per input partition. Catalyst (under
    * `spark.sql.sources.v2.bucketing.enabled`) turns this into a
    * physical KeyGroupedPartitioning that satisfies
    * ClusteredDistribution(grp) — no exchange before a grp-keyed
    * aggregate, and none before a join with a co-partitioned scan. */
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.identity("grp")), groups)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until groups).map(g => SpjSlice(g.toLong, rowsPerGroup)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new SpjReaderFactory(required, mult)
}

/** One key group. `partitionKey` is how Spark learns which key lives
  * where — it must agree with the reported key expressions' types
  * (one LongType field, `grp`). */
case class SpjSlice(grp: Long, rowsPerGroup: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](grp))
}

class SpjReaderFactory(required: StructType, mult: Long)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val s = partition.asInstanceOf[SpjSlice]
    val lo = s.grp * s.rowsPerGroup
    val hi = lo + s.rowsPerGroup
    // emit exactly the pruned columns, in the required order
    val getters: Array[Long => Any] = required.fields.map { f =>
      f.name match {
        case "grp" => (_: Long) => s.grp
        case "id"  => (id: Long) => id
        case "amt" => (id: Long) => SpjSource.amtOf(id, mult)
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
    }
    new PartitionReader[InternalRow] {
      private var cur = lo - 1
      override def next(): Boolean = { cur += 1; cur < hi }
      override def get(): InternalRow =
        new GenericInternalRow(getters.map(g => g(cur)))
      override def close(): Unit = ()
    }
  }
}

object SpjQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  private def spjRead(s: SparkSession, groups: Int, rowsPerGroup: Long,
      mult: Long): DataFrame =
    s.read.format("graft.sources.SpjSourceProvider")
      .option("groups", groups.toString)
      .option("rowsPerGroup", rowsPerGroup.toString)
      .option("mult", mult.toString)
      .load()

  /** v2 bucketing on for the duration of one query build+run. The flag
    * is read at PLANNING time, so it must be set when the driver later
    * executes the returned DataFrame — queries set it and leave it on
    * (it is semantics-neutral: plans differ, results do not; the spec
    * pins exactly that). */
  private def enableSpj(s: SparkSession): Unit =
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── q90: SHUFFLE-FREE grouped aggregate — the scan's declared
    // KeyGroupedPartitioning(grp) already satisfies the aggregate's
    // ClusteredDistribution(grp), so the partial/final split
    // collapses to one in-place hash aggregate per key group. At
    // 100 TB this is the difference between aggregating in place and
    // shuffling the whole fact table. sfDir unused: synthetic source,
    // exact DuckDB restatement.
    "q90_spj_agg" -> ((s, _) => {
      enableSpj(s)
      spjRead(s, 64, 2000L, 48271L)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("sum_amt"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("grp"))
    }),

    // ── q91: STORAGE-PARTITIONED JOIN — two co-partitioned tables
    // (same grp layout, different measures) aggregate per-side and
    // join on grp with ZERO exchanges anywhere: both scans report the
    // same KeyGroupedPartitioning, the aggregates preserve it, and
    // EnsureRequirements aligns the key groups instead of inserting
    // shuffles (SPARK-37375). The only exchange in the whole query is
    // the final presentation orderBy.
    "q91_spj_join" -> ((s, _) => {
      enableSpj(s)
      val fact = spjRead(s, 64, 2000L, 48271L)
        .groupBy(col("grp")).agg(sum(col("amt")).as("fact_amt"),
          count(lit(1)).as("fact_n"))
      val dim = spjRead(s, 64, 500L, 69621L)
        .groupBy(col("grp")).agg(sum(col("amt")).as("dim_amt"),
          max(col("id")).as("dim_max_id"))
      fact.join(dim, "grp")
        .select(col("grp"), col("fact_n"), col("fact_amt"), col("dim_amt"),
          (col("fact_amt") + col("dim_amt")).as("total_amt"),
          col("dim_max_id"))
        .orderBy(col("grp"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // the keyed synthetic table restated over generate_series
    "q90_spj_agg" ->
      """WITH t AS (SELECT g // 2000 AS grp, g AS id,
        |    ((g % 2147483647) * 48271) % 2147483647 AS amt
        |  FROM (SELECT UNNEST(generate_series(0, 127999)) AS g))
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_amt,
        |  MIN(id) AS min_id, MAX(id) AS max_id
        |FROM t GROUP BY grp ORDER BY grp""".stripMargin,

    "q91_spj_join" ->
      """WITH fact AS (
        |  SELECT g // 2000 AS grp,
        |    CAST(SUM(((g % 2147483647) * 48271) % 2147483647) AS BIGINT)
        |      AS fact_amt,
        |    COUNT(*) AS fact_n
        |  FROM (SELECT UNNEST(generate_series(0, 127999)) AS g)
        |  GROUP BY 1),
        |dim AS (
        |  SELECT g // 500 AS grp,
        |    CAST(SUM(((g % 2147483647) * 69621) % 2147483647) AS BIGINT)
        |      AS dim_amt,
        |    MAX(g) AS dim_max_id
        |  FROM (SELECT UNNEST(generate_series(0, 31999)) AS g)
        |  GROUP BY 1)
        |SELECT fact.grp, fact_n, fact_amt, dim_amt,
        |  fact_amt + dim_amt AS total_amt, dim_max_id
        |FROM fact JOIN dim USING (grp) ORDER BY fact.grp""".stripMargin
  )
}
