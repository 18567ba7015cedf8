package graft.sources

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the connector surface (SeqSource is the read
  * half): a DataSource V2 batch SINK implementing the two-phase
  * writer-commit protocol a transactional storage system uses —
  *
  *  - each task's `DataWriter` folds its partition into a small
  *    partial state (count / sum / min / max here; a real sink buffers
  *    files or rows) and ships it back as a `WriterCommitMessage` from
  *    `commit()`;
  *  - the driver's `BatchWrite.commit(messages)` merges the partials
  *    and publishes ATOMICALLY — nothing is visible until every task
  *    committed, and `abort()` discards the attempt. Task retries are
  *    safe because a writer's effects live only in its message until
  *    the job-level commit (the exactly-once story `foreachBatch`
  *    sinks have to hand-roll, e.g. st25's versioned snapshots).
  *
  * The published value is an aggregate over exact integers, so the
  * whole sink path — fan-out, partial fold, message merge, atomic
  * publish — is oracle-checked against DuckDB computing the same
  * aggregate directly. Results land in a JVM-local registry keyed by
  * the `tag` option (observable under local[*], exactly the harness).
  */
object AggSink {
  /** (n_rows, sum_v, min_k, max_k) per published tag — min/max are
    * None for an empty write, matching what an empty SQL aggregate
    * yields (NULL), not a sentinel zero. */
  val results = new TrieMap[String, (Long, Long, Option[Long], Option[Long])]()

  /** STREAMING state per tag: the set of committed epoch ids plus the
    * running cumulative (n, sum, min, max). The epoch-id set is the
    * exactly-once guard: a re-delivered epoch (driver retry after a
    * commit that already landed) finds its id present and no-ops
    * instead of double-merging — the same idempotency st25's
    * foreachBatch sink hand-rolls with versioned directories, here in
    * the protocol-native place (`StreamingWrite.commit(epochId, …)`). */
  val streamState = new TrieMap[String, (Set[Long], (Long, Long, Option[Long], Option[Long]))]()
}

class AggSinkProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AggSinkTable(properties.getOrDefault("tag", "default"))
}

class AggSinkTable(tag: String) extends Table with SupportsWrite {
  override def name(): String = s"graft_agg_sink($tag)"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new AggBatchWrite(tag)
        override def toStreaming: StreamingWrite = new AggStreamingWrite(tag)
      }
    }
}

/** Partial state from one task — the commit message IS the data. */
case class AggPartial(n: Long, sum: Long, min: Long, max: Long)
  extends WriterCommitMessage

class AggBatchWrite(tag: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AggWriterFactory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ps = messages.map(_.asInstanceOf[AggPartial]).filter(_.n > 0)
    val merged =
      if (ps.isEmpty) (0L, 0L, None, None)
      else (ps.map(_.n).sum, ps.map(_.sum).sum, Some(ps.map(_.min).min),
        Some(ps.map(_.max).max))
    AggSink.results.put(tag, merged) // the atomic publish
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The per-task fold both write paths share — expects rows of
  * (key LONG, value LONG); the writer schema is whatever the query
  * wrote (ACCEPT_ANY_SCHEMA), pinned by the caller's select. */
class AggDataWriter extends DataWriter[InternalRow] {
  private var n = 0L
  private var sum = 0L
  private var min = Long.MaxValue
  private var max = Long.MinValue
  override def write(r: InternalRow): Unit = {
    val k = r.getLong(0); val v = r.getLong(1)
    n += 1; sum += v
    if (k < min) min = k
    if (k > max) max = k
  }
  override def commit(): WriterCommitMessage = AggPartial(n, sum, min, max)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

class AggWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AggDataWriter
}

/** The STREAMING write path: same per-task fold, but commits arrive
  * once per EPOCH (micro-batch) and merge into the tag's cumulative
  * state — guarded by the committed-epoch set so retried epoch
  * deliveries are no-ops (exactly-once publish). */
class AggStreamingWrite(tag: String) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new AggStreamWriterFactory

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    AggSink.streamState.synchronized { // one driver; serialize merges
      val (done, (n0, s0, mn0, mx0)) = AggSink.streamState.getOrElse(tag,
        (Set.empty[Long],
          (0L, 0L, Option.empty[Long], Option.empty[Long])))
      if (!done.contains(epochId)) {
        val ps = messages.map(_.asInstanceOf[AggPartial]).filter(_.n > 0)
        val merged = (
          n0 + ps.map(_.n).sum,
          s0 + ps.map(_.sum).sum,
          (mn0.toSeq ++ ps.map(_.min)).reduceOption(_ min _),
          (mx0.toSeq ++ ps.map(_.max)).reduceOption(_ max _))
        AggSink.streamState.put(tag, (done + epochId, merged))
      }
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class AggStreamWriterFactory extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new AggDataWriter
}

/** Driver-contract entry for the sink. */
object AggSinkQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.LongType

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── q87: the sink end-to-end — events fanned out through the
    // writer-commit protocol, the published aggregate read back and
    // emitted as the query result. The sfDir keys the registry tag so
    // concurrent datasets can't collide.
    "q87_custom_sink" -> ((s, d) => {
      import s.implicits._
      val tag = "q87_" + d.replaceAll("[^A-Za-z0-9]", "_")
      graft.Tables(s, d, "events")
        .select(col("event_id"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .write.format("graft.sources.AggSinkProvider")
        .option("tag", tag).mode("append").save()
      val (n, sum, min, max) = AggSink.results.getOrElse(tag,
        sys.error("sink did not publish"))
      Seq((n, sum, min, max)) // Option encodes as a nullable long
        .toDF("n_rows", "sum_cents", "min_event_id", "max_event_id")
    })
  ))

  val oracles: Map[String, String] = Map(
    // the same aggregate computed directly — count/sum/min/max over
    // exact integer cents
    "q87_custom_sink" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(event_id) AS min_event_id,
        |  MAX(event_id) AS max_event_id
        |FROM events""".stripMargin
  )
}
