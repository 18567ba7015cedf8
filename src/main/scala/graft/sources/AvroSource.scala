package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** AVRO container-file source + sink WITHOUT spark-avro. The round-3
  * verdict listed Avro as correctly-skipped-for-missing-jars: the
  * `spark-avro` CONNECTOR is indeed absent, but avro-core 1.12 ships
  * in `/opt/spark/jars` — so the Spark-first answer is to provide the
  * connector ourselves through the same public DataSource V2 API
  * SeqSource demonstrates, over avro-core's container reader/writer.
  *
  *  - **Sink**: [[AvroFiles.write]] — one Avro container file per
  *    partition via `foreachPartition` + `DataFileWriter` (snappy-less
  *    null codec; the schema is derived from the DataFrame schema).
  *    Files land on task-local storage, which under local[*] is the
  *    shared filesystem — a cluster deployment would swap the
  *    java.io.File for the Hadoop FileSystem API, changing nothing
  *    else.
  *  - **Source**: `spark.read.format("graft.sources.AvroSourceProvider")
  *    .option("path", dir)` — schema INFERRED from the first file's
  *    embedded writer schema (the Avro contract: every container file
  *    carries its schema), one `InputPartition` per file, each task
  *    streaming `GenericRecord`s straight into `InternalRow`s.
  *
  * Types covered: long / int / double / boolean / string / bytes and
  * their `[null, T]` union (nullable) forms — the primitive surface
  * the fixture tables need. No pushdown interfaces on purpose: Avro
  * container files have no row-group statistics to prune with, so the
  * honest contract is a full scan per file (SeqSource demonstrates
  * pushdown where the source genuinely can skip).
  */
object AvroFiles {

  private[graft] def toAvroSchema(st: StructType, name: String): Schema = {
    val fields = SchemaBuilder.record(name).fields()
    st.fields.foldLeft(fields) { (fs, f) =>
      val base = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case other => sys.error(s"unsupported avro sink type: $other")
      }
      val sch =
        if (f.nullable)
          Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), base))
        else base
      fs.name(f.name).`type`(sch).noDefault()
    }.endRecord()
  }

  private[sources] def toStructType(avro: Schema): StructType = {
    def field(s: Schema): (DataType, Boolean) = s.getType match {
      case Schema.Type.LONG    => (LongType, false)
      case Schema.Type.INT     => (IntegerType, false)
      case Schema.Type.DOUBLE  => (DoubleType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.STRING  => (StringType, false)
      case Schema.Type.BYTES   => (BinaryType, false)
      case Schema.Type.UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1, s"unsupported union: $s")
        (field(nonNull.head)._1, true)
      case other => sys.error(s"unsupported avro source type: $other")
    }
    StructType(avro.getFields.asScala.map { f =>
      val (dt, nullable) = field(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)
  }

  /** Write `df` as one Avro container file per partition under `dir`. */
  def write(df: DataFrame, dir: String): Unit = {
    val st = df.schema
    val avroJson = toAvroSchema(st, "graft_row").toString
    new File(dir).mkdirs()
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val schema = new Schema.Parser().parse(avroJson)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        // create() inside the try: a failed create (unreachable path on
        // this executor) must still close the writer, or task retries
        // leak file handles
        try {
          w.create(schema, new File(s"$dir/part-$pid.avro"))
          it.foreach { row =>
            val rec = new GenericData.Record(schema)
            // positional put — toAvroSchema preserves StructType field
            // order, and name-keyed put costs a map lookup per field
            // per row in the hot loop
            st.fields.zipWithIndex.foreach { case (f, i) =>
              val v = if (row.isNullAt(i)) null else f.dataType match {
                case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
                case _          => row.get(i).asInstanceOf[AnyRef]
              }
              rec.put(i, v)
            }
            w.append(rec)
          }
        } finally w.close()
      }
    }
  }

  private[graft] def listAvro(dir: String): Array[File] = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty)
    fs.filter(_.getName.endsWith(".avro")).sortBy(_.getName)
  }
}

class AvroSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = options.get("path")
    val files = AvroFiles.listAvro(dir)
    require(files.nonEmpty, s"no .avro files under $dir")
    val r = DataFileReader.openReader(files.head,
      new GenericDatumReader[GenericRecord]())
    try AvroFiles.toStructType(r.getSchema) finally r.close()
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AvroTable(properties.get("path"), schema)
}

class AvroTable(dir: String, tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = s"graft_avro($dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new AvroScan(dir, tableSchema)
    }
}

case class AvroFilePartition(path: String) extends InputPartition

class AvroScan(dir: String, schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    AvroFiles.listAvro(dir).map(f => AvroFilePartition(f.getPath))
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(schema)
}

class AvroReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val path = p.asInstanceOf[AvroFilePartition].path
    new PartitionReader[InternalRow] {
      private val reader = DataFileReader.openReader(new File(path),
        new GenericDatumReader[GenericRecord]())
      // every file decodes with ITS embedded writer schema — a stale or
      // foreign file whose schema differs from the table's (inferred
      // from the first file) would otherwise surface as silent nulls or
      // a ClassCastException deep in an aggregate; fail loudly up front
      require(AvroFiles.toStructType(reader.getSchema) == schema,
        s"$path writer schema ${reader.getSchema} does not match the " +
          s"table schema $schema (schema skew across container files)")
      private var cur: InternalRow = _
      // DSv2 contract: next() ADVANCES, get() returns the same row
      // until the next next() — a hasNext-shaped next() with a
      // consuming get() only works by luck of the current caller
      override def next(): Boolean =
        if (reader.hasNext) { cur = convert(reader.next()); true }
        else false
      override def get(): InternalRow = cur
      private def convert(rec: GenericRecord): InternalRow = {
        val values = new Array[Any](schema.fields.length)
        var i = 0
        while (i < values.length) {
          val v = rec.get(i) // positional: schema equality checked above
          values(i) =
            if (v == null) null
            else schema.fields(i).dataType match {
              case StringType => UTF8String.fromString(v.toString)
              case BinaryType =>
                val bb = v.asInstanceOf[java.nio.ByteBuffer]
                val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
              case _ => v
            }
          i += 1
        }
        new GenericInternalRow(values)
      }
      override def close(): Unit = reader.close()
    }
  }
}

/** Driver-contract entry: the q40/q65 round-trip pattern over the
  * hand-rolled connector. */
object AvroQueries {
  import org.apache.spark.sql.functions._

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(
    // ── q89: AVRO ROUND TRIP through the custom connector — orders
    // written as Avro container files (one per partition), read back
    // through the DSv2 source (schema from the file headers), and
    // aggregated; long/double/string fidelity through the binary
    // format is the hash contract, exactly like the ORC (q40) and XML
    // (q65) round trips over the built-in sources.
    "q89_avro_roundtrip" -> ((s, d) => {
      val dir = graft.Scratch.dir(s, "graft_avro", d)
      graft.Scratch.materializeOnce(dir) {
        AvroFiles.write(
          graft.Tables(s, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))
            .repartition(4),
          dir)
      }
      s.read.format("graft.sources.AvroSourceProvider")
        .option("path", dir).load()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("sum_cents"),
          countDistinct(col("o_orderpriority")).as("n_prios"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    })
  ))

  val oracles: Map[String, String] = Map(
    // the same aggregate over the parquet original: any fidelity loss
    // through the Avro encode/decode shifts a hash
    "q89_avro_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  COUNT(DISTINCT o_orderpriority) AS n_prios,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
