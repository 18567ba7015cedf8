package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A complete DataSource V2 connector — the "add your own source" API
  * surface (§2.10's connector-side twin of the function catalog). The
  * reference consumes built-in sources (JDBC/CSV); a library standing
  * in for it must also show how a NEW system is wired in. This one
  * serves a deterministic synthetic sequence table
  * (id, bucket = id % 100, val = Lehmer(id)), which keeps the full
  * result oracle-checkable in DuckDB while exercising every part of
  * the connector contract a real storage system would use:
  *
  *  - `TableProvider` → `Table` → `ScanBuilder` plumbing, loadable via
  *    `spark.read.format("graft.sources.SeqSourceProvider")`;
  *  - **filter pushdown** (`SupportsPushDownFilters`): range predicates
  *    on `id` narrow the generated [lo, hi) interval, so pruned rows
  *    are never materialized — the source-side skipping a real
  *    connector maps to index/zone-map/partition pruning. Pushdown is
  *    CONSERVATIVE: every filter is also returned as a residual for
  *    Spark to re-evaluate, so a pruning bug can cost performance but
  *    never correctness (the standard connector discipline);
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): readers
  *    emit exactly the required columns in the required order;
  *  - **parallel reads**: `planInputPartitions` splits [lo, hi) into
  *    `parts` even slices — each a `PartitionReader` on its own task,
  *    the moral equivalent of one file split / region / shard.
  *
  * `SeqSource.rowsEmitted` counts rows actually generated across all
  * readers (JVM-local, so meaningful under local[*] — exactly the
  * harness) — the spec uses it to prove pushdown PRUNES GENERATION
  * rather than filtering after the fact.
  */
object SeqSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("val", LongType, nullable = false)))

  /** Lehmer-style deterministic value: int64-safe for ANY id (the
    * pre-mod keeps the product < 2^63) and restatable verbatim in
    * DuckDB: ((id % 2147483647) * 48271) % 2147483647. */
  def valueOf(id: Long): Long = ((id % 2147483647L) * 48271L) % 2147483647L

  /** Rows generated across all readers in this JVM (test observability). */
  val rowsEmitted = new AtomicLong(0L)
}

class SeqSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeqSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SeqTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("parts", "4").toInt,
      properties.getOrDefault("batchRows", "1000").toLong)
}

class SeqTable(rows: Long, parts: Int, batchRows: Long) extends Table with SupportsRead {
  override def name(): String = s"graft_seq($rows)"
  override def schema(): StructType = SeqSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(rows, parts, batchRows)
}

class SeqScanBuilder(rows: Long, parts: Int, batchRows: Long) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var lo = 0L
  private var hi = rows
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SeqSource.schema
  private var aggPushed: Option[Aggregation] = None
  private var limitPushed: Option[Int] = None
  private var topNDesc = false

  // ── aggregate pushdown: COUNT(*) / MIN(id) / MAX(id), ungrouped or
  // GROUPED BY `bucket`, have closed forms over the [lo, hi) range
  // (bucket = id % 100 makes per-group membership pure arithmetic), so
  // the source answers with at most 100 rows and ZERO generated ids —
  // the connector analog of footer-stats / partition-stats answers.
  // Complete pushdown only engages when Spark pushed no residual
  // filters above the scan; the conservative filter contract above
  // always leaves residuals when filters exist, so this composes only
  // with the unfiltered scan — the honest trade, noted here: stats
  // shortcuts must never ride below re-checked filters.
  private def canPush(agg: Aggregation): Boolean =
    agg.groupByExpressions.forall {
      case f: NamedReference => f.fieldNames.toSeq == Seq("bucket")
      case _ => false
    } && agg.aggregateExpressions.forall {
      case _: CountStar => true
      case m: Min => m.column match {
        case f: NamedReference => f.fieldNames.toSeq == Seq("id")
        case _ => false
      }
      case m: Max => m.column match {
        case f: NamedReference => f.fieldNames.toSeq == Seq("id")
        case _ => false
      }
      case _ => false
    }

  // ── LIMIT / ORDER BY id LIMIT n pushdown: generation is an ordered
  // id walk, so "the first n" is the prefix [lo, lo+n) and "top n by
  // id desc" is the suffix [hi−n, hi) — the scan generates ONLY those
  // rows (a real connector's file-count / sorted-layout short
  // circuit). Declared PARTIAL on purpose: readers emit ascending
  // regardless of the requested direction, and a fully-pushed TopN
  // makes Spark TRUST the returned order (it skips its own sort — a
  // desc query would come back ascending). Partial keeps Spark's
  // limit/sort on top of the ≤n returned rows: same generation bound,
  // order always right.
  override def pushLimit(n: Int): Boolean = {
    limitPushed = Some(n); true
  }
  override def isPartiallyPushed(): Boolean = true
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    val ok = orders.length == 1 && (orders(0).expression() match {
      case f: NamedReference => f.fieldNames.toSeq == Seq("id")
      case _ => false
    }) &&
      // id is non-null, but only accept the orderings whose null
      // placement the prefix/suffix answer trivially satisfies anyway
      (orders(0).direction() == SortDirection.ASCENDING ||
        orders(0).direction() == SortDirection.DESCENDING)
    if (ok) {
      topNDesc = orders(0).direction() == SortDirection.DESCENDING
      limitPushed = Some(n)
    }
    ok
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPush(agg) && pushed.isEmpty
  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = canPush(agg) && pushed.isEmpty
    if (ok) aggPushed = Some(agg)
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v); true
      case GreaterThan("id", v: Long)        => lo = math.max(lo, v + 1); true
      case LessThan("id", v: Long)           => hi = math.min(hi, v); true
      case LessThanOrEqual("id", v: Long)    => hi = math.min(hi, v + 1); true
      case EqualTo("id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1); true
      case _ => false
    }
    // conservative: hand EVERYTHING back as residual — Spark
    // re-evaluates, so range-narrowing bugs cannot corrupt results
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggPushed match {
    case Some(agg) if agg.groupByExpressions.nonEmpty =>
      new SeqGroupedAggScan(lo, math.max(lo, hi), agg)
    case Some(agg) => new SeqAggScan(lo, math.max(lo, hi), agg)
    case None =>
      val h0 = math.max(lo, hi)
      val (l, h) = limitPushed match {
        case Some(n) if topNDesc => (math.max(lo, h0 - n), h0)
        case Some(n)             => (lo, math.min(h0, lo + n))
        case None                => (lo, h0)
      }
      new SeqScan(l, h, parts, batchRows, required)
  }
}

/** ≤100-row scan answering a completely-pushed GROUP BY `bucket`
  * aggregation in closed form: bucket b's members in [lo, hi) are the
  * arithmetic progression first(b), first(b)+100, …, so count/min/max
  * need no generation at all. Output protocol: group-by columns first,
  * then aggregates, in declaration order. Empty groups emit no row. */
class SeqGroupedAggScan(lo: Long, hi: Long, agg: Aggregation)
    extends Scan with Batch {
  private val out: StructType = StructType(
    StructField("bucket", IntegerType, nullable = false) +:
      agg.aggregateExpressions.zipWithIndex.map {
        case (_: CountStar, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg_$i", LongType, nullable = true)
      }.toSeq)
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(SeqSlice(0, 1)) // one task, ≤100 rows
  override def createReaderFactory(): PartitionReaderFactory = {
    // rows computed DRIVER-SIDE so the factory ships plain value
    // arrays, never the (non-serializable) Aggregation
    val data: Array[Array[Any]] = (0 until 100).flatMap { b =>
      val first = lo + java.lang.Math.floorMod(b - lo, 100L)
      if (first >= hi) None
      else {
        val cnt = (hi - 1 - first) / 100 + 1
        val mx = first + 100 * (cnt - 1)
        val aggs: Array[Any] = agg.aggregateExpressions.map {
          case _: CountStar => cnt
          case _: Min       => first
          case _: Max       => mx
          case other => sys.error(s"unpushable agg leaked: $other")
        }
        Some((Int.box(b) +: aggs).toArray)
      }
    }.toArray
    new SeqClosedFormReaderFactory(data)
  }
}

/** Factory emitting precomputed closed-form rows (grouped-agg scan). */
class SeqClosedFormReaderFactory(data: Array[Array[Any]])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < data.length }
      override def get(): InternalRow = new GenericInternalRow(data(i))
      override def close(): Unit = ()
    }
}

/** One-row scan answering a completely-pushed aggregation in closed
  * form: count = hi−lo, min = lo, max = hi−1 (nulls on empty range). */
class SeqAggScan(lo: Long, hi: Long, agg: Aggregation) extends Scan with Batch {
  private val out: StructType = StructType(
    agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (_, i)            => StructField(s"agg_$i", LongType, nullable = true)
    })
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(SeqSlice(0, 1)) // one task, one row
  override def createReaderFactory(): PartitionReaderFactory = {
    val values: Array[Any] = agg.aggregateExpressions.map {
      case _: CountStar => hi - lo
      case _: Min       => if (hi > lo) lo else null
      case _: Max       => if (hi > lo) hi - 1 else null
      case other        => sys.error(s"unpushable agg leaked into build: $other")
    }
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = new GenericInternalRow(values)
          override def close(): Unit = ()
        }
    }
  }
}

case class SeqSlice(start: Long, end: Long) extends InputPartition

/** An explicit id list — what a runtime-filtered scan plans instead of
  * range slices: only the ids the join's build side actually produced
  * are ever generated. */
case class SeqIdsSlice(ids: Array[Long]) extends InputPartition

class SeqScan(lo: Long, hi: Long, parts: Int, batchRows: Long, required: StructType)
    extends Scan with Batch with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // ── runtime filtering (the DSv2 twin of q42's DPP, and the mechanism
  // Iceberg/Delta scans use at 100 TB): Spark evaluates the join's
  // build side FIRST, translates the observed join keys into an
  // `In("id", ...)` filter, and hands it here BEFORE input partitions
  // are planned — so the scan generates only the surviving ids, not
  // the full range. Declaring `id` in filterAttributes is what makes
  // the scan DPP-eligible to the PartitionPruning rule. Unsupported
  // runtime filters are ignored: under-pruning is always sound (the
  // join re-evaluates its own condition); over-pruning never happens
  // because only the exact In-set survives.
  private var runtimeIds: Option[Array[Long]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("id", vs) =>
      // prune ONLY when every delivered value is the expected Long —
      // a differently-boxed key would otherwise be silently dropped
      // and over-prune; falling back to the full range under-prunes,
      // which the join's own condition re-checks
      if (vs.forall(_.isInstanceOf[java.lang.Long]))
        runtimeIds = Some(vs.collect { case l: Long => l }
          .filter(v => v >= lo && v < hi).sorted)
    case EqualTo("id", v: Long) =>
      runtimeIds = Some(Array(v).filter(x => x >= lo && x < hi))
    case _ => ()
  }

  private def slices(from: Long, to: Long): Array[InputPartition] = {
    val n = to - from
    val p = math.max(1, parts)
    Array.tabulate(p) { i =>
      SeqSlice(from + i * n / p, from + (i + 1) * n / p)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = runtimeIds match {
    case Some(ids) if ids.isEmpty => Array(SeqSlice(0L, 0L))
    case Some(ids) =>
      val p = math.max(1, math.min(parts, ids.length))
      Array.tabulate(p) { i =>
        SeqIdsSlice(ids.slice(i * ids.length / p, (i + 1) * ids.length / p))
      }
    case None => slices(lo, hi)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SeqMicroBatchStream(lo, hi, batchRows, required, slices)
}

/** The offset is simply "rows emitted so far" — totally ordered,
  * JSON-round-trippable, replayable: [start, end) re-plans to the same
  * deterministic slices, which is what makes checkpoint recovery exact. */
case class SeqOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** The STREAMING half of the connector: admission-controlled
  * micro-batches of `batchRows` ids per trigger. `AvailableNow` support
  * comes from `SupportsTriggerAvailableNow` — the end target is latched
  * at prepare time, and `latestOffset(start, limit)` admits one batch
  * step per trigger until it is reached, giving a genuinely multi-batch
  * bounded drain (the file source's `maxFilesPerTrigger` analog, but
  * with offsets the connector itself defines and serializes). */
class SeqMicroBatchStream(lo: Long, hi: Long, batchRows: Long,
    required: StructType, slices: (Long, Long) => Array[InputPartition])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var target = hi

  override def prepareForTriggerAvailableNow(): Unit = { target = hi }
  override def initialOffset(): Offset = SeqOffset(lo)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is used")
  // the declared default limit IS the batch step (the honest admission
  // declaration); an engine-supplied limit is honored, so Trigger.Once
  // (allAvailable) drains everything in its single batch instead of
  // silently truncating at one step
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].n
    val step = limit match {
      case _: ReadAllAvailable => target - s
      case m: ReadMaxRows      => m.maxRows()
      case _                   => batchRows
    }
    SeqOffset(math.min(s + math.max(step, 0L), target))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)
  override def reportLatestOffset(): Offset = SeqOffset(target)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    slices(start.asInstanceOf[SeqOffset].n, end.asInstanceOf[SeqOffset].n)
  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(required)
}

/** Driver-contract entry for the connector. */
object SeqSourceQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── q83: the custom DSv2 connector end-to-end — mid-range filter
    // (pushed into the source: rows outside [25000, 75000) are never
    // generated, spec-proven via the emission counter), grouped
    // aggregate over the pruned scan. The sfDir is unused: the source
    // is synthetic by design so the oracle can restate it exactly.
    "q83_custom_source" -> ((s, _) => {
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "100000").option("parts", "8").load()
        .filter(col("id") >= 25000L && col("id") < 75000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
          max(col("id")).as("max_id"))
        .orderBy(col("bucket"))
    }),

    // ── q88: AGGREGATE PUSHDOWN through the connector — ungrouped
    // count/min/max over 5M synthetic ids answered by the source in
    // closed form: one row crosses the boundary and ZERO ids are
    // generated (spec-proven via the emission counter). The connector
    // analog of answering from footer statistics.
    "q88_agg_pushdown" -> ((s, _) => {
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "5000000").option("parts", "8").load()
        .selectExpr("count(*) AS n", "min(id) AS min_id", "max(id) AS max_id")
    }),

    // ── q118: GROUPED aggregate pushdown — q88's closed-form answers
    // per GROUP: COUNT/MIN/MAX grouped by `bucket` over 3M synthetic
    // ids is answered by the source as 100 arithmetic-progression
    // rows with ZERO ids generated (spec-proven via the emission
    // counter). The connector analog of partition-level stats
    // answering a per-partition rollup — what a lake scan does when
    // the group-by key IS the partition key.
    "q118_grouped_pushdown" -> ((s, _) => {
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "3000000").option("parts", "8").load()
        .groupBy(col("bucket"))
        .agg(expr("count(*)").as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy(col("bucket"))
    }),

    // ── q119: LIMIT / ORDER-BY-LIMIT (TopN) pushdown — the ordered id
    // walk makes "first n" the prefix [lo, lo+n) and "top n by id
    // DESC" the suffix [hi−n, hi), so each 5M-row head/tail query
    // generates exactly 5 ids (spec-proven): the sorted-layout short
    // circuit every columnar store with ordered files exploits.
    "q119_topn_pushdown" -> ((s, _) => {
      def t = s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "5000000").option("parts", "8").load()
      t.orderBy(col("id").asc).limit(5)
        .unionByName(t.orderBy(col("id").desc).limit(5))
        .orderBy(col("id"))
    }),

    // ── q105: RUNTIME FILTERING through the connector — the DSv2 twin
    // of q42's DPP and the mechanism a lake-format scan (Iceberg/Delta)
    // uses at 100 TB: the selective dimension side executes first, its
    // observed join keys reach the scan as an In("id", ...) runtime
    // filter, and the 1M-row fact scan GENERATES only the ~3 matching
    // ids (spec-proven via the emission counter — SeqSourceSpec's
    // "runtime filter prunes generation" test). The oracle restates
    // the join in closed form over the dimension alone, which is only
    // valid because every dim id lands inside [0, 1M) — i.e. the
    // runtime filter must not change results, just work.
    "q105_runtime_filter" -> ((s, d) => {
      val fact = s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "1000000").option("parts", "8").load()
      val dim = graft.Tables(s, d, "nation")
        .filter(col("n_name").isin("NATION_2", "NATION_11", "NATION_23"))
        .select((col("n_nationkey") * 40000L + 7L).as("id"), col("n_name"))
      fact.join(dim, "id")
        .select(col("id"), col("n_name"), col("bucket"), col("val"))
        .orderBy(col("id"))
    }),

    // ── st27: the connector's STREAMING half end-to-end — the same
    // synthetic table consumed as a micro-batch stream (25k ids per
    // trigger → ≥4 real batches under AvailableNow), aggregated in
    // complete mode. The multi_batch column pins that admission
    // control actually split the drain (batchId ≥ 3 at the last
    // progress) — without it a single-batch run would pass the value
    // check while exercising none of the offset machinery.
    "st27_custom_source_stream" -> ((s, _) => {
      import org.apache.spark.sql.streaming.Trigger
      val stream = s.readStream.format("graft.sources.SeqSourceProvider")
        .option("rows", "100000").option("parts", "4")
        .option("batchRows", "25000")
        .load()
      val agg = stream.groupBy((col("bucket") % 10).as("b10"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
      // state partitions scoped like every pinned st row (optimization
      // round 17, guide §2): unscoped, this complete-mode aggregate
      // committed core-count state partitions per micro-batch × 4
      // batches — 2.47 s at 32 cores vs 1.07 s at 8 driver-side, pure
      // per-partition state-store overhead on 10 keys. The totals are
      // batch- and partition-count-invariant.
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.StateParts) {
        agg.writeStream.format("memory").queryName("st27_out")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      s.table("st27_out")
        .withColumn("multi_batch", lit(lastBatch >= 3L))
        .orderBy(col("b10"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // the synthetic table restated over generate_series with the same
    // Lehmer value polynomial
    "q83_custom_source" ->
      """WITH t AS (SELECT g AS id, CAST(g % 100 AS INTEGER) AS bucket,
        |    ((g % 2147483647) * 48271) % 2147483647 AS val
        |  FROM (SELECT UNNEST(generate_series(0, 99999)) AS g))
        |SELECT bucket, COUNT(*) AS n, CAST(SUM(val) AS BIGINT) AS sum_val,
        |  MAX(id) AS max_id
        |FROM t WHERE id >= 25000 AND id < 75000
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the closed forms the source computes, stated directly
    "q88_agg_pushdown" ->
      """SELECT CAST(5000000 AS BIGINT) AS n, CAST(0 AS BIGINT) AS min_id,
        |  CAST(4999999 AS BIGINT) AS max_id""".stripMargin,

    // the per-bucket closed forms stated directly: 3M ids over 100
    // residue classes — 30000 each, min = b, max = 2999900 + b
    "q118_grouped_pushdown" ->
      """SELECT CAST(g AS INTEGER) AS bucket, CAST(30000 AS BIGINT) AS n,
        |  CAST(g AS BIGINT) AS min_id, CAST(2999900 + g AS BIGINT) AS max_id
        |FROM (SELECT UNNEST(generate_series(0, 99)) AS g)
        |ORDER BY bucket""".stripMargin,

    // the prefix and suffix of the 5M-id walk with the Lehmer value
    // polynomial restated
    "q119_topn_pushdown" ->
      """WITH ids AS (SELECT UNNEST(generate_series(0, 4)) AS id
        |  UNION ALL SELECT UNNEST(generate_series(4999995, 4999999)))
        |SELECT CAST(id AS BIGINT) AS id, CAST(id % 100 AS INTEGER) AS bucket,
        |  CAST(((id % 2147483647) * 48271) % 2147483647 AS BIGINT) AS val
        |FROM ids ORDER BY id""".stripMargin,

    // the join restated in closed form over the dimension (valid
    // because every dim id is inside the fact's [0, 1M) id space)
    "q105_runtime_filter" ->
      """WITH dim AS (
        |  SELECT CAST(n_nationkey AS BIGINT) * 40000 + 7 AS id, n_name
        |  FROM nation
        |  WHERE n_name IN ('NATION_2', 'NATION_11', 'NATION_23'))
        |SELECT CAST(id AS BIGINT) AS id, n_name,
        |  CAST(id % 100 AS INTEGER) AS bucket,
        |  CAST(((id % 2147483647) * 48271) % 2147483647 AS BIGINT) AS val
        |FROM dim ORDER BY id""".stripMargin,

    // same synthetic table, streamed: totals are batch-split-invariant;
    // the multi-batch boolean restates as TRUE (100k rows / 25k per
    // trigger)
    "st27_custom_source_stream" ->
      """WITH t AS (SELECT g % 100 AS bucket,
        |    ((g % 2147483647) * 48271) % 2147483647 AS val
        |  FROM (SELECT UNNEST(generate_series(0, 99999)) AS g))
        |SELECT CAST(bucket % 10 AS INTEGER) AS b10, COUNT(*) AS n,
        |  CAST(SUM(val) AS BIGINT) AS sum_val, TRUE AS multi_batch
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

class SeqReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      // both slice shapes iterate as "advance to the next id": a range
      // [start, end), or a runtime-filtered explicit id list
      private val (nextId: (() => Long), size: Long) = partition match {
        case SeqSlice(start, end) =>
          var cur = start - 1
          (() => { cur += 1; cur }, end - start)
        case SeqIdsSlice(ids) =>
          var i = -1
          (() => { i += 1; if (i < ids.length) ids(i) else Long.MaxValue }, ids.length.toLong)
      }
      private var n = 0L
      private var cur = 0L
      override def next(): Boolean = { cur = nextId(); n += 1; n <= size }
      override def get(): InternalRow = {
        SeqSource.rowsEmitted.incrementAndGet()
        val values: Array[Any] = required.fields.map(_.name match {
          case "id"     => cur
          case "bucket" => (cur % 100L).toInt
          case "val"    => SeqSource.valueOf(cur)
        })
        new GenericInternalRow(values)
      }
      override def close(): Unit = ()
    }
}
