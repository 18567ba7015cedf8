package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The CHANGE FEED read (`<table>.changes` with options from/to):
  * restates inserts/deletes between two retained versions. Because
  * files are immutable and manifests are per-version, a group whose
  * file set is IDENTICAL at both versions provably contributed no
  * change — it is never read. Only changed groups are resolved and
  * multiset-diffed (an update surfaces as delete+insert; COW storage
  * keeps no row identity across rewrites, which is the honest
  * value-based CDF every COW format exposes). */
class ChangesTable(lake: RowStore, baseKey: String, meta: RowStore.Meta)
    extends Table with SupportsRead {
  override def name(): String = s"$baseKey.changes"
  override def schema(): StructType =
    StructType(meta.schema.fields :+
      StructField("_change", StringType, nullable = false))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val from = Option(options.get("from")).map(_.toInt).getOrElse(0)
    val to = Option(options.get("to")).map(_.toInt)
      .getOrElse(lake.currentVersion(baseKey))
    // mode=cdc: pair each key's single delete+insert into Delta-style
    // update_preimage/update_postimage rows (see createReaderFactory)
    val cdc = Option(options.get("mode")).contains("cdc")
    () => new ChangesScan(lake, baseKey, meta, schema(), from, to, cdc)
  }
}

/** Version-diff planning shared by the batch change-feed scan and the
  * streaming one: only groups whose file signature differs between the
  * two manifests are planned. */
object ChangesPlanning {
  def partitions(lake: RowStore, baseKey: String, meta: RowStore.Meta,
      from: Int, to: Int): Array[InputPartition] = {
    val dir = lake.dataDir(baseKey)
    // a side's replay sequence per group, in manifest (= commit)
    // order — the ordering that scopes equality deletes correctly.
    // The `group < 0` TABLE-WIDE sentinel applies to DELTA files only
    // (MOR is bucket-transform-only, so a real delta group is never
    // negative) — BASE groups can be legitimately negative under the
    // unbounded transforms (days(ts) pre-epoch, truncate of negative
    // keys), so base lookups are exact-group and negative base groups
    // are planned like any other
    def side(v: Int): Seq[RowStore.FileEntry] =
      lake.readManifest(baseKey, v)
    // partition identity is (spec, group), like GroupScan's planner: a
    // group NUMBER means different rows per spec, and with cross-spec
    // states routine (q157, add_files) a number-only grouping would
    // replay two specs' same-numbered groups as ONE group — the diff
    // then rests on table-wide file-name uniqueness. BASE entries are
    // spec-exact; DELTA selection mirrors GroupScan's number-only rule
    // (plus the table-wide `group < 0` sentinel): delta records
    // re-check during replay (positional ops key on file NAME, which
    // no-ops against a partition that doesn't hold the named base;
    // equality deletes are key-scoped and delete the key wherever it
    // lives), so over-inclusion across specs is sound, never corrupt.
    def itemsFor(es: Seq[RowStore.FileEntry], sp: Int,
        g: Int): Seq[(String, String)] =
      es.collect {
        case e if e.kind == "base" && e.spec == sp && e.group == g =>
          ("base", RowStore.entryPath(dir, e.name))
        // kind-preserving for the replay: positional/equality delta
        // parquet AND deletion-vector blobs both mutate the group
        case e if e.kind != "base" && (e.group == g || e.group < 0) =>
          (e.kind, RowStore.entryPath(dir, e.name))
      }
    val fEs = side(from)
    val tEs = side(to)
    // plan the (spec, group) pairs OBSERVED in either manifest (a pair
    // with no files on both sides has no diff) — not 0 until
    // numGroups, which would miss groups outside the bucket range
    // after a partition-spec evolution to an unbounded transform
    (fEs.filter(_.kind == "base").map(e => (e.spec, e.group)) ++
      tEs.filter(_.kind == "base").map(e => (e.spec, e.group)) ++
      (fEs ++ tEs).filter(e => e.kind != "base" && e.group >= 0)
        .map(e => (e.spec, e.group)))
      .distinct.sorted.filter { case (sp, g) =>
      // unchanged replay sequence ⇒ unchanged group ⇒ skip entirely
      itemsFor(fEs, sp, g) != itemsFor(tEs, sp, g)
    }.map { case (sp, g) =>
      ChangesPartition(g, itemsFor(fEs, sp, g), itemsFor(tEs, sp, g))
        : InputPartition
    }.toArray
  }
}

class ChangesScan(lake: RowStore, baseKey: String, meta: RowStore.Meta, out: StructType,
    from: Int, to: Int, cdc: Boolean = false) extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    ChangesPlanning.partitions(lake, baseKey, meta, from, to)

  /** Streaming CDF: the same diff read, micro-batched ONE VERSION per
    * batch (offset = committed version) — `readStream.table(
    * "….changes")` follows the table's history exactly the way
    * Delta/Iceberg CDF streaming reads do. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangesMicroBatchStream(lake, baseKey, meta, from,
      createReaderFactory())

  override def createReaderFactory(): PartitionReaderFactory = {
    // project files by FLATTENED STORAGE names (structs read from
    // their marker + leaf columns — RowNested; output is positional,
    // so the display schema's order carries the values out unchanged).
    // Computed OUTSIDE the anonymous factory: a lambda on the inner
    // class would pin a non-serializable $outer (this Scan) into the
    // task closure.
    val displayFields = meta.schema.fields.toSeq
    val storageFields = RowNested.flatLeaves(displayFields).map(f =>
      f.copy(name = meta.storageOf(f.name)))
    val displayOffsetMap = RowNested.offsets(displayFields)
    val displayOffsets = displayFields.map(f =>
      f -> displayOffsetMap(f.name))
    // full-schema projection always includes the key — equality-delete
    // replay inside resolve compares against this index
    val keyPos = RowNested.flatLeaves(displayFields)
      .indexWhere(_.name == meta.keyCol)
    val cdcMode = cdc
    // BINARY/ARRAY columns externalize as Array[Byte], whose equals()
    // is reference identity — the multiset diff below keys rows by
    // Seq equality, so byte-valued slots must canonicalize to a
    // structurally-comparable wrapper on the way IN (and unwrap on the
    // way out for internalize). Applied only when such a column exists.
    val hasByteCols = storageFields.exists(f =>
      f.dataType == org.apache.spark.sql.types.BinaryType ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    new PartitionReaderFactory {
      private val dataFields = storageFields
      private val keyIdx = keyPos
      private def canon(v: Array[Any]): Seq[Any] =
        if (!hasByteCols) v.toSeq
        else v.toSeq.map {
          case b: Array[Byte] =>
            scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
          case other => other
        }
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val c = p.asInstanceOf[ChangesPartition]
        // multiset diff of the two resolved group states
        val counts = new java.util.LinkedHashMap[Seq[Any], Int]()
        RowResolve.resolveOrdered(c.group, c.toItems, dataFields, keyIdx)
          .foreach { case (_, v) =>
            counts.merge(canon(v), 1, (a, b) => a + b) }
        RowResolve.resolveOrdered(c.group, c.fromItems, dataFields, keyIdx)
          .foreach { case (_, v) =>
            counts.merge(canon(v), -1, (a, b) => a + b) }
        // mode=cdc: a key whose diff is EXACTLY one deleted row and one
        // inserted row is an UPDATE — surface it as Delta CDF's
        // update_preimage/update_postimage pair instead of
        // delete+insert, which is what downstream CDC consumers key on
        // to distinguish moves from churn. Ambiguous keys (several
        // deletes/inserts — no sound pairing exists in value-based CDF)
        // keep the plain tags. Key-local and deterministic: the diff
        // map is unchanged, only the tag per row differs.
        val paired: Seq[Any] => Boolean =
          if (!cdcMode) _ => false
          else {
            val byKey = new java.util.HashMap[Any, (Int, Int)]()
            counts.asScala.foreach { case (v, n) =>
              val k = v(keyIdx)
              val (del, ins) = byKey.getOrDefault(k, (0, 0))
              byKey.put(k,
                if (n > 0) (del, ins + n) else (del - n, ins))
            }
            v => byKey.get(v(keyIdx)) == (1, 1)
          }
        val rows = counts.asScala.iterator.flatMap { case (v, n) =>
          val tag =
            if (paired(v))
              (if (n > 0) "update_postimage" else "update_preimage")
            else if (n > 0) "insert"
            else "delete"
          Iterator.fill(math.abs(n))((v, tag))
        }
        new PartitionReader[InternalRow] {
          private var cur: (Seq[Any], String) = _
          override def next(): Boolean =
            { val h = rows.hasNext; if (h) cur = rows.next(); h }
          override def get(): InternalRow = {
            // reassemble display columns (struct markers + leaves →
            // nested rows; decimals rebuild from unscaled longs;
            // canonicalized byte wrappers unwrap back to Array[Byte])
            val flat =
              if (!hasByteCols) cur._1.toArray
              else cur._1.map {
                case w: scala.collection.immutable.ArraySeq.ofByte =>
                  w.unsafeArray
                case other => other
              }.toArray
            new GenericInternalRow(
              (displayOffsets.map { case (f, off) =>
                RowNested.internalize(f, flat, off)
              } :+ UTF8String.fromString(cur._2)).toArray[Any])
          }
          override def close(): Unit = ()
        }
      }
    }
  }
}

case class ChangesPartition(group: Int, fromItems: Seq[(String, String)],
    toItems: Seq[(String, String)]) extends InputPartition

/** Offset = committed table version. */
case class VersionOffset(v: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** Streaming read of an APPEND-ONLY table's history: one committed
  * version per micro-batch, each batch exactly the base files that
  * commit added (Delta's `readStream.table` contract). Append-only is
  * ENFORCED at plan time: a step whose start manifest is not a subset
  * of its end manifest (a rewrite/OPTIMIZE/OVERWRITE), or that added
  * delta files, fails loudly — silently re-emitting a rewritten
  * group's rows (or dropping a replaced file's) is the corruption
  * mode this check exists for. */
class AppendTableStream(lake: RowStore, tableKey: String, meta: RowStore.Meta,
    from: Int, factory: PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  @volatile private var target: Int = lake.currentVersion(tableKey)
  override def prepareForTriggerAvailableNow(): Unit =
    target = lake.currentVersion(tableKey)
  override def initialOffset(): Offset = VersionOffset(from)
  override def latestOffset(): Offset = sys.error(
    "admission-controlled source: latestOffset(start, limit) is used")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    VersionOffset(math.min(start.asInstanceOf[VersionOffset].v + 1, target))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = VersionOffset(target)
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    val before = lake.readManifest(tableKey, s)
    val after = lake.readManifest(tableKey, e)
    val beforeNames = before.map(_.name).toSet
    require(beforeNames.subsetOf(after.map(_.name).toSet),
      s"$tableKey: version $s -> $e removed or replaced files — the " +
        "table stream is append-only; use the .changes feed for DML " +
        "history")
    val added = after.filterNot(x => beforeNames(x.name))
    require(added.forall(_.kind == "base"),
      s"$tableKey: version $s -> $e wrote delta files — the table " +
        "stream is append-only; use the .changes feed")
    val dir = lake.dataDir(tableKey)
    added.groupBy(_.group).map { case (g, fs) =>
      // ROW LINEAGE: ship the batch's leaf→firstRowId map so the
      // streaming layout's `_row_id` ordinal serves committed rows'
      // ids like the batch scan (O(files-in-batch) longs)
      val rowIdBase = fs.flatMap(x => x.firstRowId.map(f =>
        x.name.substring(x.name.lastIndexOf('/') + 1) -> f)).toMap
      GroupFilesPartition(g, fs.map(x => RowStore.entryPath(dir, x.name)),
        Seq.empty, rowIdBase = rowIdBase): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = factory
}

/** The streaming half of the change feed: admission-controlled to ONE
  * version per micro-batch (so each batch is exactly one commit's
  * changes — the shape CDC consumers key their exactly-once logic on),
  * with the AvailableNow target latched at prepare time (SeqSource's
  * discipline). Planning per batch is the shared version-diff: only
  * groups whose file signature changed in that commit are read. */
class ChangesMicroBatchStream(lake: RowStore, baseKey: String,
    meta: RowStore.Meta, from: Int, factory: PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  @volatile private var target: Int = lake.currentVersion(baseKey)
  override def prepareForTriggerAvailableNow(): Unit =
    target = lake.currentVersion(baseKey)
  override def initialOffset(): Offset = VersionOffset(from)
  override def latestOffset(): Offset = sys.error(
    "admission-controlled source: latestOffset(start, limit) is used")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    VersionOffset(math.min(start.asInstanceOf[VersionOffset].v + 1, target))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = VersionOffset(target)
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ChangesPlanning.partitions(lake, baseKey, meta,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)
  override def createReaderFactory(): PartitionReaderFactory = factory
}

/** View of `row` with the first `off` fields hidden (the op-code
  * prefix); only the accessors the externalizer uses. */
class OffsetRow(row: InternalRow, off: Int) extends GenericInternalRow(0) {
  override def numFields: Int = row.numFields - off
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + off)
  override def getLong(i: Int): Long = row.getLong(i + off)
  override def getInt(i: Int): Int = row.getInt(i + off)
  override def getUTF8String(i: Int): UTF8String = row.getUTF8String(i + off)
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    row.getDecimal(i + off, precision, scale)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(i + off, numFields)
  override def getDouble(i: Int): Double = row.getDouble(i + off)
  override def getFloat(i: Int): Float = row.getFloat(i + off)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + off)
  override def getArray(i: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(i + off)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(i + off)
}

/** Table-maintenance procedures — the OPTIMIZE / VACUUM half of the
  * lake-format lifecycle (Iceberg's rewrite_data_files /
  * expire_snapshots, Delta's OPTIMIZE / VACUUM). Both are
  * metadata-planned on the driver (manifest-sized); OPTIMIZE's data
  * movement is a regular distributed read→write. */
object RowStoreOps {
  import org.apache.spark.sql.SparkSession

  /** OPTIMIZE: rewrite only DIRTY groups — any delta file (MOR
    * read-amplification) or >1 base file (append fragmentation) — into
    * one fresh base file per group, committed as a new version. Clean
    * groups' files are NEVER read or rewritten (at 100 TB compaction
    * that rewrites the table is a non-starter); the read is statically
    * pruned to the dirty groups via the scan's `groups` option and the
    * commit swaps exactly those groups' base+delta entries. Content is
    * observationally unchanged — q110's oracle checks that, the spec
    * pins the file accounting. Returns the dirty-group set and the
    * manifest entry count before/after. */
  def compact(s: SparkSession, table: String,
      sortCols: Seq[String] = Seq.empty,
      zorderCols: Seq[String] = Seq.empty): (Set[Int], Int, Int) = {
    val lake = RowStore.forKey(table)
    require(sortCols.isEmpty || zorderCols.isEmpty,
      s"$table: a rewrite takes a lexicographic OR a zorder spec, not both")
    val base = lake.currentVersion(table)
    val man = lake.readManifest(table, base)
    // dirtiness is a per-(spec, group) property: after a spec
    // evolution or add_files, two healthy one-file groups that merely
    // SHARE a group number across specs are not fragmentation — a
    // number-only grouping would flag them and crash the handshake.
    // A SORT-ORDERED rewrite targets EVERY populated group instead:
    // it is a clustering operation (restore zone-map selectivity
    // after churn), not cleanup — a one-file "clean" group whose file
    // spans the whole key range is exactly what it exists to fix.
    // sort columns resolve against the REAL nested schema (never the
    // flat list, where a struct's presence marker would pass), so a
    // NESTED field ("props.band") is a legal sort key — the ordered
    // distribution's identity transform reads the dotted name as the
    // field path it denotes — while a struct (at any depth) refuses
    val tblMeta = lake.readMeta(table)
    sortCols.foreach { c =>
      val dt = RowNested.resolve(tblMeta.schema.fields.toSeq, c)
        .getOrElse(sys.error(
          s"$table: sort column $c is not in the table schema"))
      require(!dt.isInstanceOf[org.apache.spark.sql.types.StructType],
        s"$table: cannot sort-rewrite by struct column $c — sort by " +
          "one of its fields")
    }
    // Z-ORDER spec (Iceberg's rewrite_data_files with a zorder
    // strategy, Delta's OPTIMIZE ZORDER BY): validated strictly —
    // 2–4 LONG/INT columns whose [min, max] every base file already
    // recorded in its per-column zone maps, because the normalization
    // bounds come from the MANIFEST (plan-time metadata, no data
    // pass). The lexicographic rewrite biases skipping toward the
    // leading column; bit-interleaving the normalized positions
    // (q54's layout machinery) bounds every file's extent in EVERY
    // declared dimension.
    require(zorderCols.isEmpty ||
      (zorderCols.size >= 2 && zorderCols.size <= 4),
      s"$table: zorder takes 2-4 columns, got ${zorderCols.size}")
    zorderCols.foreach { c =>
      val dt = RowNested.resolve(tblMeta.schema.fields.toSeq, c)
        .getOrElse(sys.error(
          s"$table: zorder column $c is not in the table schema"))
      require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType,
        s"$table: zorder column $c must be BIGINT or INT, got $dt")
    }
    val clustering = sortCols.nonEmpty || zorderCols.nonEmpty
    val dirty =
      if (clustering)
        man.collect { case e if e.group >= 0 => e.group }.toSet
      else man.groupBy(e => (e.spec, e.group)).collect {
        case ((_, g), es) if g >= 0 && (es.exists(_.kind != "base") ||
          es.count(_.kind == "base") > 1) => g
      }.toSet
    if (dirty.nonEmpty) {
      // the group-number handshake can't express spec-qualified
      // restriction — refuse loudly on a genuinely-dirty multi-spec
      // table (migrate first) instead of crashing inside the scan
      val activeSpec = tblMeta.specId
      require(man.forall(_.spec == activeSpec),
        s"$table: OPTIMIZE across partition specs is not supported — " +
          "migrate with INSERT OVERWRITE onto the active spec first")
      if (zorderCols.nonEmpty) {
        import org.apache.spark.sql.functions.{col, lit}
        // normalization bounds folded from the manifest's per-column
        // zone maps (storage names) — every base file of the writer's
        // own making records them; a statless/legacy file refuses
        val bounds = zorderCols.map { c =>
          val storage = tblMeta.storageOf(c)
          val bs = man.filter(_.kind == "base").map(e =>
            e.colsN.getOrElse(storage, sys.error(
              s"$table: base file ${e.name} has no zone-map bounds " +
                s"for zorder column $c — cannot normalize")))
          (bs.map(_._1).min, bs.map(_._2).max)
        }
        // 12-bit normalized Morton interleave across n dims (q54's
        // layout — Partitioned.zValue generalized to n columns); the
        // whole key is codegen'd shift/mask ops, no UDF.
        // Normalization is computed in DOUBLE and clamped to
        // [0, 2^bits): the bounds fold only BASE files' zone maps, so
        // a MOR delta-resident value outside every base file's range
        // would otherwise normalize negative / past the top and alias
        // across the key space under shiftright's sign extension
        // (clamped rows cluster at the edge cells — sound); the
        // double form also survives domains wider than 2^51, where
        // the integer (k - lo) << bits product overflows Long
        val bits = 12
        import org.apache.spark.sql.functions.{greatest, least}
        def norm(c: String, lo: Long, hi: Long) = least(
          greatest(
            ((col(c).cast("double") - lit(lo.toDouble)) *
              lit((1L << bits).toDouble) /
              lit(hi.toDouble - lo.toDouble + 1.0)).cast("long"),
            lit(0L)),
          lit((1L << bits) - 1L))
        val dims = zorderCols.zip(bounds).map { case (c, (lo, hi)) =>
          norm(c, lo, hi) }
        val zv = Partitioned.mortonInterleave(dims, bits)
        val hs =
          s"$base:" + dirty.toSeq.sorted.mkString(",") + ":layout=preserve"
        val src = s.read.option("compact", hs).table(table)
        // ROW LINEAGE: a rewrite relocates rows, so rowids tables
        // carry each row's `_row_id` (scan metadata column) as a
        // trailing column into the `.rewrite` sink, which
        // materializes it — ids survive the clustering rewrite
        val outCols = src.columns.map(col).toIndexedSeq ++
          (if (tblMeta.rowids) Seq(col("_row_id")) else Seq.empty)
        val sink = if (tblMeta.rowids) s"$table.rewrite" else table
        // explicit partition count: AQE never coalesces a
        // user-specified repartitionByRange, so the slice count (=
        // file granularity per group) is pinned like the sorted
        // rewrite's requiredNumPartitions. DATA-derived (rows /
        // target-file-rows — RowStore.rewriteSlices) instead of the
        // session's core count, with a FLOOR of 16: a z-layout's
        // banded-read resolution is slices^(1/dims) strips per
        // dimension, and below 2 bits per dimension a band that
        // straddles a domain midpoint degenerates to a full scan
        // (measured at the 4-slice test config)
        val outNames = src.columns.toIndexedSeq ++
          (if (tblMeta.rowids) Seq("_row_id") else Seq.empty)
        src.select(outCols :+ zv.as("_zv"): _*)
          .repartitionByRange(lake.rewriteSlices(table, 16),
            col("_zv"))
          .sortWithinPartitions(col("_zv"))
          .select(outNames.map(col): _*)
          .writeTo(sink).option("compact", hs).append()
      } else {
        import org.apache.spark.sql.functions.col
        val hs = s"$base:" + dirty.toSeq.sorted.mkString(",") +
          (if (sortCols.nonEmpty) ":sort=" + sortCols.mkString(",") else "")
        val src = s.read.option("compact", hs).table(table)
        val outCols = src.columns.map(col).toIndexedSeq ++
          (if (tblMeta.rowids) Seq(col("_row_id")) else Seq.empty)
        val sink = if (tblMeta.rowids) s"$table.rewrite" else table
        src.select(outCols: _*)
          .writeTo(sink).option("compact", hs).append()
      }
    }
    val after = lake.readManifest(table, lake.currentVersion(table))
    (dirty, man.size, after.size)
  }

  /** REWRITE POSITION DELETES (Iceberg's `rewrite_position_deletes`,
    * the delete-only maintenance op q162 built the decision input
    * for): fold record-granularity positional deletes — and any
    * existing deletion vectors — into EXACTLY ONE terminal deletion
    * vector per touched data file, WITHOUT touching base parquet
    * (full OPTIMIZE rewrites base data too; on a 100-TB table whose
    * churn is delete-shaped that rewrites the table to shed
    * change-sized records). Base file identity is preserved by
    * construction — the op never opens a base file.
    *
    * SOUNDNESS: rid-deletes are confluent ([[RowStore.Dv]] — no later
    * record can resurrect a rid: inserts mint NEW rids, updates no-op
    * on absent ones, and an eq-delete's key sweep removes a row the
    * moved positional delete would have removed anyway), so carrying
    * every folded delete at the TERMINAL manifest position resolves
    * every read identically. Two scoped refusals keep it exact:
    *  - an INSERT-bearing delta file is left intact (its record
    *    positions MINT rids — filtering records out would renumber
    *    them and break later references); its deletes stay as records,
    *  - eq-delete records are never folded (key-scoped, resurrectable
    *    — NOT confluent); they survive in the filtered files at their
    *    original manifest position, which replay order preserves
    *    because filtered files replace their entries IN PLACE.
    *
    * Distribution: one executor pass over the delta files (each
    * change-sized by construction) filters delete records out, writes
    * each target's position bitmap as a dv blob IN PLACE (executor-
    * side), and returns only (target, blob name) handles; the driver
    * resolves handles against existing vectors through [[DvMerge]]
    * (unions, when needed, run as a second executor pass) and commits
    * under the OCC rule — nothing row-proportional ever transits the
    * driver, the DV commit path's own economics. Returns (folded
    * delete records, deletion vectors at the new head, delta entries
    * dropped). */
  def rewritePositionDeletes(s: SparkSession, table: String)
      : (Long, Int, Int) = {
    val lake = RowStore.forKey(table)
    val meta = lake.readMeta(table)
    require(meta.mor, s"$table: rewrite_position_deletes applies to " +
      "merge-on-read tables (COW rewrites carry no delete records)")
    val base = lake.currentVersion(table)
    val man = lake.readManifest(table, base)
    require(man.forall(e => e.kind == "base" || e.group >= 0),
      s"$table has untagged delta files — cannot rewrite deletes")
    val dir = lake.dataDir(table)
    val deltas = man.filter(_.kind == "delta")
    if (deltas.isEmpty) return (0L, man.count(_.kind == "dv"), 0)
    // candidate replacement names assigned up front (driver-side), so
    // the executor pass is one shot: filter + write + report bitmaps
    val tasks = deltas.map(e => (e.name, RowStore.entryPath(dir, e.name),
      e.group, s"d${e.group}-pd-${UUID.randomUUID()}.parquet"))
    // the filtered files carry the CURRENT flat storage layout (what
    // every other delta writer emits; name-mapped reads handle both)
    val storageFields = RowNested.flatLeaves(meta.schema.fields.toSeq)
      .map(f => f.copy(name = meta.storageOf(f.name)))
    // rowids tables: survivor records (updates/eq-deletes) must keep
    // their lineage-id stamps — include the trailing `_rowid` column
    // the delta writer records (null-padded for files that predate it)
    val fileSchema = RowResolve.DeltaMetaFields ++ storageFields ++
      (if (meta.rowids)
        Seq(org.apache.spark.sql.types.StructField("_rowid",
          org.apache.spark.sql.types.LongType))
      else Seq.empty)
    /** (entry name, folded deletes, target→(written dv blob name,
      * popcount), replacement: None=untouched, Some(None)=drop entry,
      * Some(Some((n, rows)))=new file with its surviving record
      * count). The blob is written by THIS task — only its name and
      * popcount return to the driver. */
    val results: Array[(String, Long, Map[String, (String, Long)],
        Option[Option[(String, Long)]])] =
      s.sparkContext.parallelize(tasks, math.min(tasks.size, 32)).map {
        case (name, path, grp, newName) =>
          val ops = RowFiles.readRows(path,
            RowResolve.DeltaMetaFields.take(2))
          val hasInsert = ops.exists(
            _(0).asInstanceOf[java.lang.Integer].intValue ==
              RowResolve.InsertOp)
          val delIdx = ops.zipWithIndex.collect {
            case (r, i) if r(0).asInstanceOf[java.lang.Integer]
              .intValue == RowResolve.DeleteOp => i
          }.toSet
          if (delIdx.isEmpty || hasInsert)
            // nothing to fold, or rid-minting file — keep intact
            (name, 0L, Map.empty[String, (String, Long)], None)
          else {
            val words = scala.collection.mutable
              .Map.empty[String, scala.collection.mutable.BitSet]
            delIdx.toSeq.sorted.foreach { i =>
              val rid = ops(i)(1).asInstanceOf[String]
              val cut = rid.lastIndexOf('#')
              require(cut > 0, s"malformed row id '$rid' in $name")
              words.getOrElseUpdate(rid.substring(0, cut),
                scala.collection.mutable.BitSet.empty) +=
                rid.substring(cut + 1).toInt
            }
            // write each target's bitmap as a dv blob HERE — the
            // driver sees names, never words (a delta file's records
            // are all group `grp`, so its targets are too)
            val bitmaps = words.map { case (t, b) =>
              val dvName = s"dv$grp-pd-${UUID.randomUUID()}.bin"
              RowStore.Dv.write(s"$dir/$dvName", t, b.toBitMask)
              t -> ((dvName, b.size.toLong)) }.toMap
            if (delIdx.size == ops.length)
              (name, delIdx.size.toLong, bitmaps, Some(None)) // all deletes
            else {
              // rewrite the survivors (updates / eq-deletes) in order
              val full = RowFiles.readRows(path, fileSchema)
              val w = new RowFiles.FileWriter(s"$dir/$newName", fileSchema)
              try full.zipWithIndex.foreach { case (rec, i) =>
                if (!delIdx(i)) w.write(rec)
              } finally w.close()
              (name, delIdx.size.toLong, bitmaps,
                Some(Some((newName, (ops.length - delIdx.size).toLong))))
            }
          }
      }.collect()
    val folded = results.map(_._2).sum
    if (folded == 0L) return (0L, man.count(_.kind == "dv"), 0)
    // target leaf → owning group (rids address leaf names; add_files
    // entries' absolute paths reduce to their leaf for the lookup)
    val groupOfLeaf = man.collect { case e if e.kind == "base" ||
      e.kind == "delta" =>
      e.name.substring(e.name.lastIndexOf('/') + 1) -> e.group }.toMap
    val replace: Map[String, Option[(String, Long)]] = results.collect {
      case (name, _, _, Some(rep)) => name -> rep }.toMap
    // resolve the executor-written blob handles against each touched
    // target's EXISTING vector (manifest-resident dvTarget lookup —
    // commit IO proportional to touched files, as in the DV writer);
    // unions, when a target needs one, run as a second executor pass
    val handles: Seq[(Int, String, String, Long)] =
      results.toSeq.flatMap(r => r._3.map { case (t, (dvName, card)) =>
        val g = groupOfLeaf.getOrElse(t, sys.error(
          s"$table: deletion target $t is not in the manifest"))
        (g, t, dvName, card)
      })
    val existing = DvMerge.existingVectors(man, handles.map(_._2).toSet)
    val (dvAdded, replacedDvNames, consumed) =
      DvMerge.resolve(dir, meta.specId, handles, existing)
    lake.commit(table) { (cur, _) =>
      if (cur != base)
        throw new java.util.ConcurrentModificationException(
          s"$table: rewrite_position_deletes planned at version $base " +
            s"but the table is now at $cur — retry")
      // filtered files replace their entries IN PLACE (replay order =
      // manifest order, which eq-delete semantics key on); merged
      // vectors land TERMINAL (sound by rid-delete confluence).
      // The replacement entry records the SURVIVING row count (the
      // .files audit surface would otherwise report the pre-filter
      // count); zone maps / blooms / ndv stay as-is — wider-than-
      // actual bounds and superset sketches are conservative, never
      // wrong
      man.flatMap {
        case e if e.kind == "delta" && replace.contains(e.name) =>
          replace(e.name).map { case (n, survivors) =>
            e.copy(name = n, rows = Some(survivors)) }
        case e if e.kind == "dv" && replacedDvNames(e.name) => None
        case e => Some(e)
      } ++ dvAdded
    }
    // merged-away partial blobs were never referenced — reclaim now
    // that the publish landed (a failed commit leaves orphans, never
    // dangling references; no manifest can name them, so this needs
    // no lock)
    consumed.foreach { n =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, n)); ()
    }
    (folded, dvAdded.size +
      man.count(e => e.kind == "dv" && !replacedDvNames(e.name)),
      results.count(_._4.contains(None)))
  }

  /** CLUSTERING QUALITY of a column at the current snapshot — the
    * decision input for `rewrite_data_files_sorted` (the q162
    * discipline: surface the maintenance op's trigger from metadata
    * alone, zero data files opened): the mean over base files of each
    * file's zone-map extent as a fraction of the table-wide extent.
    * ≈1.0 means every file spans the whole domain (churn — a banded
    * read on the column opens everything; rewrite advised);
    * ≈1/slices after a sorted or z-order rewrite. Defined only when
    * EVERY base file carries numeric bounds for the column (the
    * colMinMax refusal rule — a statless or legacy file would make
    * the mean silently wrong). Returns (base files, quality). */
  def clusteringQuality(table: String, col: String): (Int, Double) = {
    val lake = RowStore.forKey(table)
    val meta = lake.readMeta(table)
    val man = lake.readManifest(table, lake.currentVersion(table))
    val base = man.filter(_.kind == "base")
    require(base.nonEmpty, s"$table has no base files")
    val storage = meta.storageOf(col)
    val bounds = base.flatMap(_.colsN.get(storage))
    require(bounds.size == base.size,
      s"$table: only ${bounds.size} of ${base.size} base files carry " +
        s"numeric zone-map bounds for $col — clustering quality is " +
        "undefined (string/statless column, or files predating " +
        "per-column stats)")
    val lo = bounds.map(_._1).min
    val hi = bounds.map(_._2).max
    // single-value domain: every file trivially spans it — quality 1
    // (returned directly: the ratio formula would yield 0/1 = 0 and
    // assert "perfectly clustered" by arithmetic accident)
    if (hi == lo) (base.size, 1.0)
    else {
      val dom = (hi - lo).toDouble
      (base.size,
        bounds.map { case (a, b) => (b - a).toDouble / dom }
          .sum / bounds.size)
    }
  }

  /** VACUUM: retain the newest `keepLast` versions; delete expired
    * manifests and every data file no retained manifest references.
    * Time travel to a retained version keeps working (files are
    * immutable and still referenced); an expired version fails at
    * ANALYSIS (the manifest is gone), never with a dangling file read.
    * Returns (retained versions, files physically deleted). */
  def vacuum(table: String, keepLast: Int): (Seq[Int], Int) = {
    require(keepLast >= 1, "must retain at least the current version")
    vacuumCore(table, vs => vs.takeRight(keepLast).toSet)
  }

  /** AGE-BASED snapshot expiry — Iceberg's actual `expire_snapshots`
    * contract (`older_than`): every version committed within the
    * window is retained, the current version always survives, and
    * tags/branches keep their files exactly as in the count-based
    * form. Commit times are the manifests' recorded strictly-monotonic
    * stamps, so the cut is total and testable under the injectable
    * clock. */
  def vacuumOlderThan(table: String, olderThanMs: Long): (Seq[Int], Int) = {
    val lake = RowStore.forKey(table)
    require(olderThanMs >= 0, "older_than_ms must be non-negative")
    vacuumCore(table, vs => {
      val horizon = lake.clock() - olderThanMs
      vs.filter(v => lake.commitTimeMs(table, v) >= horizon)
        .toSet + vs.last
    })
  }

  private def vacuumCore(table: String,
      retainF: Seq[Int] => Set[Int]): (Seq[Int], Int) = {
    val lake = RowStore.forKey(table)
    lake.commitLock.synchronized {
      val vs = lake.versions(table)
      // fail loudly with table context (the retention closures index
      // vs.last) rather than an anonymous empty-list error
      require(vs.nonEmpty, s"no committed version for $table")
      // TAGGED versions are retained regardless of the retention window
      // — a tag is a promise the snapshot stays reproducible (Iceberg's
      // tag retention); its manifest survives and so do its files
      val tagged = lake.listTags(table).map(_._2).toSet
      val keepSet = retainF(vs) ++ tagged
      val expired = vs.filterNot(keepSet)
      val retained = vs.filter(keepSet)
      // CHAIN CUT: a retained incremental manifest may resolve through
      // an EXPIRED ancestor — materialize every retained manifest
      // whose parent is leaving the retained set BEFORE any deletion,
      // so no retained snapshot ever dangles into a deleted manifest.
      // (Walking ascending means a still-retained parent is already
      // chain-safe by the time its children are considered.)
      val retainedSet = retained.toSet
      retained.foreach { v =>
        lake.parentVersion(table, v).filterNot(retainedSet)
          .foreach(_ => lake.materializeManifest(table, v))
      }
      val keep = referencedFiles(lake, table, retained)
      expired.foreach(v =>
        Files.deleteIfExists(lake.manifestPath(table, v)))
      val dir = Paths.get(lake.dataDir(table))
      val dead = RowStore.listNames(dir)
        .filter(n => !n.startsWith(".") && !keep(n))
      dead.foreach(deleteDataFile(dir, _))
      (retained, dead.size)
    }
  }

  /** Names of the data files that `versions`' manifests reference, plus
    * those of every staged branch manifest — a sweep must not strand an
    * un-published WAP branch. */
  private def referencedFiles(lake: RowStore, table: String,
      versions: Seq[Int]): Set[String] =
    (versions.flatMap(v => lake.readManifest(table, v)) ++
      lake.listBranches(table)
        .flatMap(b => lake.readBranchManifest(table, b)._2))
      .map(_.name).toSet

  /** Delete data file `name` with the hidden `.<name>.crc` sidecar
    * Hadoop's LocalFileSystem writes beside it. */
  private def deleteDataFile(dir: Path, name: String): Unit = {
    Files.deleteIfExists(dir.resolve(name))
    Files.deleteIfExists(dir.resolve(s".$name.crc")); ()
  }

  /** MANIFEST COMPACTION (Iceberg's `rewrite_manifests`): collapse the
    * current snapshot's incremental manifest chain into ONE
    * self-contained manifest file. Commits write O(change) incremental
    * manifests ([[RowStore.commit]]); each chain hop is a
    * manifest-file read at plan time, so at a 100-TB commit cadence
    * this keeps the planner's per-snapshot metadata read O(1) instead
    * of O(commits-since-checkpoint). Pure metadata — every snapshot's
    * resolved entry list (and therefore every read, time travel, tag,
    * and branch) is observationally unchanged; older versions keep
    * their own chains until VACUUM expires them. Returns the chain
    * length before and after (after is always 1). */
  def rewriteManifests(table: String): (Int, Int) = {
    val lake = RowStore.forKey(table)
    lake.commitLock.synchronized {
      val cur = lake.currentVersion(table)
      val before = lake.manifestChainLength(table, cur)
      lake.materializeManifest(table, cur)
      (before, lake.manifestChainLength(table, cur))
    }
  }

  /** ORPHAN-FILE CLEANUP (Iceberg's `remove_orphan_files`): delete
    * data files referenced by NO retained manifest, branch manifest —
    * the debris a crashed writer leaves (its task files landed, its
    * commit never did). VACUUM can't reach these: it deletes files
    * that LOST their last reference, not files that never had one.
    * Metadata-planned on the driver (one directory listing against
    * the union of retained reference sets) under the commit lock, so
    * no commit can race a reference into existence mid-sweep. The
    * race that lock CANNOT close is an IN-FLIGHT write whose task
    * files have landed but whose commit hasn't taken the lock yet —
    * Iceberg's guard is an age horizon (default 3 days), and so is
    * ours: only files whose mtime is older than `olderThanMs` are
    * swept (default 1 h — far past any commit latency); callers who
    * have externally quiesced writers pass 0 to sweep everything.
    * Returns (orphans deleted, files retained). */
  def removeOrphanFiles(table: String,
      olderThanMs: Long = 3600000L): (Int, Int) = {
    val lake = RowStore.forKey(table)
    lake.commitLock.synchronized {
      val keep = referencedFiles(lake, table, lake.versions(table))
      val dir = Paths.get(lake.dataDir(table))
      val horizon = System.currentTimeMillis() - olderThanMs
      val all = RowStore.listNames(dir).filter(!_.startsWith("."))
      val orphans = all.filterNot(keep).filter { n =>
        Files.getLastModifiedTime(dir.resolve(n)).toMillis <= horizon }
      orphans.foreach(deleteDataFile(dir, _))
      (orphans.size, all.filterNot(orphans.contains).size)
    }
  }

  /** ROLLBACK to an earlier snapshot (Iceberg's
    * `rollback_to_snapshot`): commits a NEW version whose entry list
    * is version `v`'s — history is never rewritten (the bad versions
    * stay visible to time travel until VACUUM expires them), the head
    * just points at the old state again. Files are immutable, so this
    * is pure manifest metadata. Returns the new head version. */
  def rollback(table: String, v: Int): Int = {
    val lake = RowStore.forKey(table)
    lake.commit(table) { (_, _) =>
      val have = lake.versions(table)
      require(have.contains(v),
        s"cannot roll back $table to version $v (have $have)")
      lake.readManifest(table, v)
    }
  }

  /** TAG a committed snapshot (Iceberg's `create_tag`): an immutable
    * named ref `VERSION AS OF '<tag>'` resolves and VACUUM retains.
    * Tags the current version when `v` is negative. */
  def createTag(table: String, name: String, v: Int = -1): Int = {
    val lake = RowStore.forKey(table)
    val ver = if (v >= 0) v else lake.currentVersion(table)
    lake.createTag(table, name, ver)
    ver
  }

  /** EQUALITY DELETES — Iceberg's second delete-file kind: delete by
    * KEY VALUE, no position scan. This is the shape CDC writers need
    * when they know which keys changed but not where their rows live
    * — a positional delete would first have to SCAN for positions,
    * which at 100 TB is exactly the read the delete file exists to
    * avoid. `keys` is a single-column frame of key values; EXECUTORS
    * bucket them by the table's group function and write one
    * group-tagged eq-delete delta parquet per (task, group) — key
    * bytes never ride the driver (the collect below is file-count-
    * sized metadata). Replay removes every row visible at the
    * delete's commit point whose key matches; later inserts
    * resurrect the key, and OPTIMIZE folds eq-deltas away like
    * positional ones. MOR bucket tables only. Returns the number of
    * delete files committed. */
  def equalityDelete(s: SparkSession, table: String,
      keys: org.apache.spark.sql.DataFrame): Int = {
    val lake = RowStore.forKey(table)
    import org.apache.spark.sql.functions.col
    val meta = lake.readMeta(table)
    require(meta.mor, s"$table: equality deletes are a merge-on-read " +
      "construct — COW row-level operations rewrite groups instead " +
      "(use DELETE FROM)")
    require(meta.transform == "bucket",
      s"$table: equality deletes require the bucket transform")
    require(keys.schema.length == 1,
      s"keys frame must have exactly one column, got ${keys.schema}")
    val keyField = meta.schema.fields.find(_.name == meta.keyCol).get
    // validate the key type UP FRONT: a blind Column.cast would turn
    // uncastable values into NULL eq-delete keys, which would then
    // silently delete the null-key rows of group 0 instead of erroring.
    // Exact match or lossless integral widening only.
    val inType = keys.schema.head.dataType
    require(inType == keyField.dataType ||
      (inType == IntegerType && keyField.dataType == LongType),
      s"$table: keys frame column type $inType does not match key " +
        s"column ${meta.keyCol}: ${keyField.dataType} — cast explicitly")
    val dir = lake.dataDir(table)
    val n = meta.numGroups
    // same file layout as positional deltas (meta fields + the full
    // data schema in storage names): the reader's projection
    // machinery applies unchanged
    val fileFields = RowResolve.DeltaMetaFields ++
      RowNested.flatLeaves(meta.schema.fields.toSeq)
        .map(f => f.copy(name = meta.storageOf(f.name)))
    val keyPos = RowResolve.DeltaMetaFields.length +
      RowNested.flatLeaves(meta.schema.fields.toSeq)
        .indexWhere(_.name == meta.keyCol)
    val width = fileFields.length
    val eqOp = RowResolve.EqDeleteOp
    // canonical key externalization (the GroupWriterFactory form):
    // DATE keys arrive as java.sql.Date/LocalDate and DECIMAL keys as
    // BigDecimal — grouping on those raw objects would bucket by
    // Object.hashCode (disagreeing with the write path) and crash the
    // parquet writer; fold them to the epoch-day int / unscaled long
    // the files and group function actually use
    val keyType = keyField.dataType
    def canonKey(v: Any): Any = (keyType, v) match {
      case (org.apache.spark.sql.types.DateType, d: java.sql.Date) =>
        Int.box(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaDate(d))
      case (org.apache.spark.sql.types.DateType, d: java.time.LocalDate) =>
        Int.box(d.toEpochDay.toInt)
      case (dt: org.apache.spark.sql.types.DecimalType,
          b: java.math.BigDecimal) =>
        Long.box(b.setScale(dt.scale).unscaledValue().longValueExact())
      case (dt: org.apache.spark.sql.types.DecimalType, b: BigDecimal) =>
        Long.box(b.underlying().setScale(dt.scale)
          .unscaledValue().longValueExact())
      case _ => v
    }
    val files = keys.toDF("kv")
      .select(col("kv").cast(keyField.dataType)).distinct()
      .rdd.mapPartitions { it =>
        val writers = scala.collection.mutable
          .Map.empty[Int, (String, RowFiles.FileWriter)]
        it.foreach { r =>
          val raw = r.get(0)
          // a NULL eq-delete key would delete every null-key row in
          // group 0 — a mistake, not a request; fail loudly instead
          require(raw != null,
            "equality-delete keys frame contains a NULL key")
          val v = canonKey(raw)
          val g = RowStore.groupOf(v, n)
          val (_, w) = writers.getOrElseUpdate(g, {
            val name = s"e$g-${java.util.UUID.randomUUID()}.parquet"
            (name, new RowFiles.FileWriter(s"$dir/$name", fileFields))
          })
          val vals = new Array[Any](width)
          vals(0) = Int.box(eqOp)
          vals(2) = Int.box(g)
          vals(keyPos) = v
          w.write(vals)
        }
        writers.values.foreach(_._2.close())
        writers.iterator.map { case (g, (name, _)) => (g, name) }
      }.collect()
    lake.commit(table) { (_, head) =>
      head ++ files.toSeq.map { case (g, name) =>
        RowStore.FileEntry("delta", g, name, spec = meta.specId) }
    }
    files.length
  }

  /** Table-level NDV of one column, folded from the current
    * snapshot's per-file KMV sketches — the same fold the scan's
    * reported column statistics use (q155's in-plan accuracy pin
    * reads it). None when the snapshot can't answer exactly the way
    * the scan refuses: dirty (non-base entries) or any file without
    * a sketch for the column. */
  def columnNdv(table: String, col: String): Option[Long] = {
    val lake = RowStore.forKey(table)
    val meta = lake.readMeta(table)
    val es = lake.readManifest(table, lake.currentVersion(table))
    val storage = meta.storageOf(col)
    if (es.isEmpty || es.exists(_.kind != "base") ||
      es.exists(e => !e.ndv.contains(storage))) None
    else Some(RowStore.Kmv.estimate(
      es.map(_.ndv(storage)._2).reduce(RowStore.Kmv.merge)))
  }

  /** COMPUTE TABLE STATISTICS (Iceberg's `compute_table_stats`): build
    * per-file KMV NDV sketches for existing data — the ANALYZE path
    * for tables created WITHOUT the 'ndv' property (write-time
    * tracking only covers rows written after CREATE). One distributed
    * pass: executors each read a file's named columns and reduce them
    * to a ≤K-long sketch + null count; the driver collects ONLY the
    * sketches (file-count × K longs — metadata, never rows) and
    * commits a new version whose entries carry them, adding `cols` to
    * the table's tracked set so subsequent writes keep the stats
    * current. Clean snapshots only (delta/dv entries mutate rows at
    * read time — OPTIMIZE first), matching the scan's own refusal
    * rule. Returns (files sketched, columns). */
  def computeTableStats(s: SparkSession, table: String,
      cols: Seq[String]): (Int, Int) = {
    val lake = RowStore.forKey(table)
    val meta = lake.readMeta(table)
    require(cols.nonEmpty, "compute_table_stats: no columns named")
    val fields = cols.map { c =>
      meta.schema.fields.find(_.name == c).getOrElse(
        sys.error(s"$table: ndv column $c is not in the table schema"))
    }
    fields.foreach(f => require(RowStore.Bloom.trackable(f.dataType),
      s"$table: ndv column ${f.name} has untrackable type ${f.dataType}"))
    val dir = lake.dataDir(table)
    val baseV = lake.currentVersion(table)
    val man = lake.readManifest(table, baseV)
    require(man.forall(_.kind == "base"),
      s"$table: compute_table_stats needs a clean snapshot — run " +
        "OPTIMIZE to fold delta/deletion-vector entries first")
    // executors read the named columns under their STORAGE names and
    // reduce to sketches; the collect is sketch-sized metadata
    val storageFields = fields.map(f =>
      f.copy(name = meta.storageOf(f.name)))
    val paths = man.map(e => (e.name, RowStore.entryPath(dir, e.name)))
    val sketched: Map[String, Map[String, (Long, Seq[Long])]] =
      s.sparkContext.parallelize(paths, math.max(1, math.min(64, paths.size)))
        .map { case (name, path) =>
          val rows = RowFiles.readRows(path, storageFields)
          val per = storageFields.zipWithIndex.map { case (f, i) =>
            var nulls = 0L
            val set = RowStore.Kmv.newSet()
            rows.foreach { r =>
              if (r(i) == null) nulls += 1L
              else RowStore.Bloom.hashOf(r(i))
                .foreach(RowStore.Kmv.add(set, _))
            }
            f.name -> ((nulls, RowStore.Kmv.toSeq(set)))
          }.toMap
          (name, per)
        }.collect().toMap
    lake.commit(table, evolve = m =>
        m.copy(ndvCols = (m.ndvCols ++ cols).distinct)) { (cur, _) =>
      if (cur != baseV)
        throw new java.util.ConcurrentModificationException(
          s"$table: analyzed version $baseV but the table is now at " +
            s"$cur — retry")
      man.map(e => e.copy(ndv = e.ndv ++ sketched(e.name)))
    }
    (paths.size, cols.size)
  }

  /** `add_files` MIGRATION (Iceberg's add_files procedure): register
    * parquet files that ALREADY EXIST on disk as a new table version
    * — zero data copies, file identity preserved (the manifest
    * records the files' own absolute paths; see
    * [[RowStore.entryPath]]). The reference's entire pattern is
    * "parquet snapshots already written, registered in a catalog"
    * (spark_ingest_script.py:85-105) — this is that registration
    * against the DML catalog, after which the snapshot gains
    * time travel, metadata-answered COUNT(*), CDF, and (via the
    * cross-spec row-level path) even MERGE/UPDATE/DELETE.
    *
    * Imported files land under a fresh NEGATIVE partition-spec id
    * (never colliding with the evolution counter's positive ids),
    * one file per group — group semantics within a spec only require
    * a consistent assignment, and per-file groups keep every planner
    * invariant (runtime filtering, COW replacement, change-feed
    * diffing) sound without knowing the files' internal layout. Row
    * counts come from an O(files) footer walk (no data pages), so
    * the registered snapshot still answers COUNT(*) from metadata.
    * COW tables only: MOR delta replay keys on the bucket layout,
    * which imported files don't follow. Returns
    * (files registered, rows registered). */
  /** The add_files listing rule, shared with copy_into: every
    * non-hidden *.parquet under the dir, absolute, sorted. */
  private def listParquet(sourceDir: String): Seq[String] = {
    val root = Paths.get(sourceDir)
    require(Files.isDirectory(root),
      s"add_files: $sourceDir is not a directory")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(_.toAbsolutePath.toString).toSeq.sorted
    finally walk.close()
  }

  def addFiles(table: String, sourceDir: String): (Int, Long) = {
    val files = listParquet(sourceDir)
    require(files.nonEmpty, s"add_files: no parquet files under $sourceDir")
    addFilesCore(table, files)
  }

  private def addFilesCore(table: String, files: Seq[String]): (Int, Long) = {
    val lake = RowStore.forKey(table)
    import org.apache.spark.sql.types.{DateType, DecimalType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val meta = lake.readMeta(table)
    require(!meta.mor, s"$table: add_files registers into copy-on-write " +
      "tables only (MOR delta replay keys on the bucket layout, which " +
      "imported files don't follow)")
    // struct columns store FLATTENED (RowNested's dotted-leaf layout);
    // an external file stores real parquet groups — the two layouts
    // can't mix, so refuse at registration rather than misread later
    require(!RowNested.hasStruct(meta.schema.fields.toSeq),
      s"$table: add_files into a table with STRUCT columns is not " +
        "supported (imported files store nested groups; this catalog " +
        "stores flattened leaves)")
    // registration never reads rows, so it cannot evaluate the CHECK
    // constraint — admitting unvalidated rows would both break the
    // constraint's every-writer-path contract and wedge later COW
    // rewrites (which replay every retained row through the enforcing
    // writer). Refuse loudly, like the MOR and STRUCT rules.
    require(meta.check.isEmpty,
      s"$table: add_files/copy_into cannot validate imported rows " +
        s"against the CHECK constraint (${meta.check}) — import into " +
        "an unconstrained table")
    // handshake-reserved characters: binpack packs selected entry
    // names into GroupWrite.parseCompact's ':'-segmented,
    // ','-separated option value — an imported absolute path carrying
    // either would silently mis-parse the handshake and select the
    // wrong files (r15 advisor finding). Native UUID leaves never
    // contain them, so only imports can smuggle them in: refuse at
    // registration.
    files.find(f => f.contains(":") || f.contains(","))
      .foreach(f => sys.error(
        s"add_files: path $f contains ':' or ',' — both are reserved " +
          "by the rewrite-handshake encoding; rename the file to " +
          "import it"))
    // validate every footer against the table schema UP FRONT: a file
    // whose physical type the reader can't decode must refuse at
    // registration, not crash the first scan
    var totalRows = 0L
    val counted = files.map { f =>
      val (rows, msg) = RowFiles.footerMeta(f)
      meta.schema.fields.foreach { fld =>
        val storage = meta.storageOf(fld.name)
        // STRICT presence: native files may legitimately predate an
        // ADD COLUMN (read-time NULL padding), but an import missing a
        // column under its storage name would read back all-NULL
        // forever — silent data loss dressed as a migration. Refuse.
        require(msg.containsField(storage),
          s"add_files: $f does not store column ${fld.name}" +
            (if (storage != fld.name) s" (storage name $storage)" else "") +
            " — imported files must carry the full table schema")
        val ptype = msg.getType(Seq(storage): _*)
        // a nested/group physical type must route into the same clean
        // refusal as any other incompatible storage — asPrimitiveType
        // on a group throws a raw ClassCastException
        require(ptype.isPrimitive,
          s"add_files: $f stores column ${fld.name} as nested type " +
            s"$ptype, incompatible with declared type ${fld.dataType}")
        val prim = ptype.asPrimitiveType().getPrimitiveTypeName
        val ok = fld.dataType match {
          // INT32 under a LONG column is the reader's widening path
          case LongType => prim == PrimitiveTypeName.INT64 ||
            prim == PrimitiveTypeName.INT32
          case TimestampType => prim == PrimitiveTypeName.INT64
          case d: DecimalType if d.precision <= 18 =>
            prim == PrimitiveTypeName.INT64
          case IntegerType | DateType => prim == PrimitiveTypeName.INT32
          case StringType => prim == PrimitiveTypeName.BINARY
          case _ => false
        }
        require(ok, s"add_files: $f stores column ${fld.name} as " +
          s"$prim, incompatible with declared type ${fld.dataType}")
      }
      totalRows += rows
      (f, rows)
    }
    lake.commit(table) { (_, man) =>
      // duplicate-registration guard (Iceberg's check_duplicate_files
      // default): re-importing an already-referenced path would
      // silently double rows, and a duplicated entry NAME poisons the
      // name-keyed incremental manifest encoding (#rm removes every
      // same-named copy) and conflict signatures. Entry names of
      // imports are absolute paths, so this also keeps names unique
      // table-wide.
      val existing = man.map(_.name).toSet
      files.find(existing).foreach(f => sys.error(
        s"add_files: $f is already registered in $table — refusing " +
          "duplicate file registration"))
      // one fresh negative spec per call — a second import never
      // collides group numbers with the first
      val importSpec = (man.map(_.spec) :+ 0).min - 1
      man ++ counted.zipWithIndex.map { case ((f, rows), i) =>
        RowStore.FileEntry("base", i, f, rows = Some(rows),
          spec = importSpec) }
    }
    (files.size, totalRows)
  }

  /** IDEMPOTENT BATCH INGEST (Delta's COPY INTO / Auto Loader's
    * batch shape): register every *.parquet under `sourceDir` that
    * has NOT been loaded before, skip the rest, and remember what
    * loaded. The load history is a sidecar (`ingest.log`, one
    * absolute path per line, atomic-move rewritten) UNIONED with the
    * retained manifest history's absolute references: the sidecar is
    * what survives an OPTIMIZE rewriting imports out of the manifest
    * ("loaded" is a fact about the load, not the current layout), and
    * the manifest history is what survives a crash between the
    * manifest commit and the log write (the next run derives the
    * loaded set and heals it back into the log). Returns
    * (new files, new rows, skipped). */
  def copyInto(table: String, sourceDir: String): (Int, Long, Int) = {
    val lake = RowStore.forKey(table)
    lake.commitLock.synchronized {
      val logP = Paths.get(lake.tableDir(table), "ingest.log")
      val logged: Set[String] =
        if (Files.exists(logP)) Files.readAllLines(logP).asScala.toSet
        else Set.empty
      // crash recovery: the manifest commit lands BEFORE the log
      // write, so a crash between the two would leave loaded files
      // unlogged — "loaded" is therefore the log UNION every absolute
      // path any RETAINED manifest version references (metadata-sized:
      // version count × manifest read). The next successful run heals
      // the union back into the log (below), so the window only stays
      // open until one copy_into completes — the residual hazard
      // (crash, then VACUUM expires every referencing version before
      // any re-run) requires deliberately racing retention against
      // recovery.
      val manifestLoaded = lake.versions(table)
        .flatMap(v => lake.readManifest(table, v))
        .map(_.name).filter(_.startsWith("/")).toSet
      val seen = logged ++ manifestLoaded
      val all = listParquet(sourceDir)
      val fresh = all.filterNot(seen)
      val (n, rows) =
        if (fresh.isEmpty) (0, 0L) else addFilesCore(table, fresh)
      // rewrite the log whenever it is INCOMPLETE (manifest recovery
      // found unlogged files), not only when new files ingested — a
      // re-run after a crash-between-commit-and-log that finds no new
      // files must still heal, or the VACUUM-expires-history
      // double-load hazard stays open indefinitely (r14 advisor)
      if (fresh.nonEmpty || seen != logged) {
        // torn-write-safe (the round-11 metadata rule): temp + move
        val tmp = Paths.get(lake.tableDir(table), ".ingest.log.tmp")
        Files.writeString(tmp, (seen.toSeq.sorted ++ fresh)
          .mkString("", "\n", "\n"))
        Files.move(tmp, logP,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      (n, rows, all.size - fresh.size)
    }
  }

  /** MERGE WITH SCHEMA EVOLUTION — Delta's `mergeSchema` behavior:
    * top-level columns present in the SOURCE but not the target are
    * auto-ADDED (through the ordinary ALTER ADD path, so committed
    * rows NULL-pad via read-time padding and time travel keeps the
    * pre-merge shape), then the MERGE statement runs against the
    * evolved schema. COW only — MOR delta records are projected by
    * written name against a pinned schema, the same rule that refuses
    * RENAME there. Returns the added column names (empty = the plain
    * MERGE path, byte-identical to not calling this).
    *
    * Each auto-added column commits its own ALTER version before the
    * MERGE runs; a MERGE that then FAILS triggers a schema ROLLBACK —
    * the added columns are removed again (a new version with the
    * pre-merge schema), so the statement is atomic-in-effect like
    * Delta's mergeSchema. The rollback is sound precisely because the
    * failed MERGE committed nothing (the COW commit is all-or-
    * nothing): no retained file stores values under the added names,
    * so restoring the schema needs none of user-DROP's name
    * blacklisting and the same evolution can be retried. If another
    * writer managed to commit between the ALTERs and the failure, the
    * rollback declines (the columns may now carry data; the refusal
    * rides the MERGE's error as a suppressed exception) and the
    * documented evolved-but-unmerged state remains — safe to re-run
    * either way: a re-issued call finds the columns present and
    * degenerates to the plain MERGE. */
  def mergeEvolving(s: SparkSession, table: String, sourceView: String,
      mergeSql: String): Seq[String] = {
    val lake = RowStore.forKey(table)
    val meta = lake.readMeta(table)
    require(!meta.mor, s"$table: MERGE schema evolution is not " +
      "supported for merge-on-read tables (delta records are " +
      "projected by written name)")
    val have = meta.schema.fieldNames.toSet
    val added = s.table(sourceView).schema.fields.toSeq
      .filterNot(f => have(f.name)).map { f =>
        val ddl = f.dataType match {
          case LongType      => "BIGINT"
          case IntegerType   => "INT"
          case StringType    => "STRING"
          case TimestampType => "TIMESTAMP"
          // the remaining storable scalars/arrays render via their own
          // SQL form (DOUBLE, BINARY, ARRAY<FLOAT>, DECIMAL(p,s), …);
          // structs stay out — auto-adding a nested schema from a
          // merge source is a design decision, not a convenience
          case other if RowStore.storable(other) &&
            !other.isInstanceOf[org.apache.spark.sql.types.StructType] =>
            other.sql
          case other => sys.error(s"$table: cannot auto-add column " +
            s"${f.name} of unsupported type $other")
        }
        // backtick-quoted: a source column named like a keyword (or
        // containing spaces) must not splice raw into the DDL
        s.sql(s"ALTER TABLE $table ADD COLUMNS (`${f.name}` $ddl)")
        f.name
      }
    val preMergeV =
      if (added.isEmpty) -1 else lake.currentVersion(table)
    try { s.sql(mergeSql); () }
    catch { case e: Throwable =>
      // best-effort rollback: a failure INSIDE the rollback (IO) must
      // never mask the MERGE's own error — suppress it onto `e` and
      // let the documented evolved-but-unmerged state stand
      try {
        // roll back only while provably safe: the table must still
        // sit at the pre-merge version (nothing committed data under
        // the new columns). The rollback commits its own version (same
        // entries, the restored schema) — time travel sees evolve and
        // un-evolve as two honest commits
        if (added.nonEmpty) lake.commit(table, evolve = m =>
          m.copy(schema = StructType(
            m.schema.fields.filterNot(f => added.contains(f.name))))) {
          (cur, head) =>
            if (cur != preMergeV)
              throw new java.util.ConcurrentModificationException(
                s"$table: moved past version $preMergeV during the " +
                  s"MERGE — the added columns ${added.mkString(", ")} stay")
            head
        }
      } catch { case rb: Throwable => e.addSuppressed(rb) }
      throw e
    }
    added
  }

  /** PUBLISH a staged branch (the WAP fast-forward): the branch's
    * snapshot becomes the next committed version — [[publishBranches]]
    * for one table. Returns the published version. */
  def publishBranch(table: String, name: String): Int =
    publishBranches(Seq(table -> name)).head

  /** ATOMIC MULTI-TABLE PUBLISH — the all-or-nothing WAP commit
    * across TABLES (the cross-table transaction single-table formats
    * push to an external catalog service): validate EVERY branch's
    * OCC precondition first, and only then publish them all through
    * [[RowStore.commitTables]] under the one lock nothing in this
    * process can interleave with. Each branch must fast-forward
    * cleanly from its table's current head: a table that advanced past
    * its branch's fork base no longer matches the staged snapshot, and
    * publishing it would silently drop the interleaved commits. If ANY
    * table moved, NOTHING publishes — every branch stays staged for
    * re-staging or cherry-pick. Each table's branch drops right after
    * its link. The staged audit pattern this serves: a pipeline lands
    * bronze+silver+gold (or data + index) as branches, audits them
    * TOGETHER, and downstream readers never observe one without the
    * other. Against a CRASH or a cross-process rival between two
    * links, the linked tables stay published and the rest stay staged
    * as branches; re-running publish_branches on the survivors
    * reaches the same terminal state. Returns the published version
    * per table, in input order. */
  def publishBranches(pairs: Seq[(String, String)]): Seq[Int] = {
    require(pairs.nonEmpty, "publish_branches: no (table, branch) pairs")
    val lake = RowStore.forKey(pairs.head._1)
    lake.commitLock.synchronized {
      require(pairs.map(_._1).distinct.size == pairs.size,
        "publish_branches: a table may appear once per call")
      val plans = pairs.map { case (t, b) =>
        val (base, entries) = lake.readBranchManifest(t, b)
        val cur = lake.currentVersion(t)
        if (cur != base)
          throw new java.util.ConcurrentModificationException(
            s"$t: branch $b forked at version $base but the table is " +
              s"now at $cur — NOTHING was published (all-or-nothing); " +
              "re-stage or cherry-pick that branch and retry")
        (t, cur, entries)
      }
      val branch = pairs.toMap
      lake.commitTables(plans, t => lake.dropBranch(t, branch(t)))
    }
  }

  /** CHERRY-PICK a staged branch onto a main that MOVED past its fork
    * base (Iceberg's cherrypick_snapshot, the resolution publishBranch
    * deliberately refuses): replay the branch's manifest DELTA — the
    * entries it added and the base entries it replaced/removed — on
    * top of the CURRENT manifest instead of overwriting it. Appends
    * (the only mutation branch writes stage, see GroupWrite's WAP
    * guard) always replay cleanly; a removal replays only while every
    * removed entry still sits untouched on main — if an interleaved
    * main commit rewrote or dropped one (compaction, DELETE), replaying
    * the removal would silently undo that commit's work, so refuse
    * under the same OCC contract as publish. A branch whose base IS
    * the current version degenerates to the plain fast-forward.
    * Returns the published version. */
  def cherrypickBranch(table: String, name: String): Int = {
    val lake = RowStore.forKey(table)
    lake.commitLock.synchronized {
      val v = lake.commit(table) { (cur, curEntries) =>
        val (base, entries) = lake.readBranchManifest(table, name)
        if (cur == base) entries // nothing interleaved: fast-forward
        else {
          val baseNames = lake.readManifest(table, base)
            .map(_.name).toSet
          val branchNames = entries.map(_.name).toSet
          val added = entries.filterNot(e => baseNames(e.name))
          val removed = baseNames -- branchNames
          val curNames = curEntries.map(_.name).toSet
          val conflicts = removed.filterNot(curNames)
          if (conflicts.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$table: branch $name removed ${conflicts.size} base " +
                s"file(s) the table no longer carries at version $cur " +
                s"(e.g. ${conflicts.head}) — an interleaved commit " +
                "already rewrote them; replaying the removal would " +
                "undo it. Re-stage against the current snapshot")
          // addition conflict, the removal check's mirror (r14
          // advisor): an entry NAME the branch added that is already
          // present on current main (the same external file
          // add_files-registered on both sides) would duplicate the
          // entry and double-count its rows — refuse, matching
          // add_files' own duplicate-registration guard
          val dupAdds = added.map(_.name).filter(curNames)
          if (dupAdds.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$table: branch $name added ${dupAdds.size} file(s) an " +
                s"interleaved commit already registered (e.g. " +
                s"${dupAdds.head}) — replaying the add would double " +
                "its rows. Re-stage against the current snapshot")
          curEntries.filterNot(e => removed(e.name)) ++ added
        }
      }
      lake.dropBranch(table, name)
      v
    }
  }

  /** ZERO-COPY TABLE CLONE (Delta's SHALLOW CLONE / Iceberg's
    * snapshot procedure): create `dst` with `src`'s exact metadata and
    * a v0 manifest whose entries REFERENCE src's current files by
    * absolute path — the add_files contract (leading-'/' names are
    * external: read through [[RowStore.entryPath]] verbatim, never
    * owned — dst's VACUUM and orphan cleanup sweep only its OWN data
    * dir listing, so no maintenance on the clone can delete source
    * bytes). Zero data bytes move; per-entry stats/zone-maps/blooms/
    * NDV carry over verbatim, and dv TARGETS stay in LEAF form: a
    * target is an address into rid space (rids are always
    * `leaf#pos`, and the dv blob's own content records the leaf),
    * not a file reference — absolutizing it broke the existing-vector
    * lookup on a clone, so a dv-mode DELETE against an
    * already-vectored file stacked a second vector instead of
    * replacing (r15 advisor's invariant break). The tables then
    * diverge independently: a write on either side rewrites into its
    * own data dir and drops only its own references. Same-manifest
    * group routing stays consistent because dst shares src's Meta
    * (numGroups/transform/renames). Returns the referenced entry
    * count. */
  def snapshotTable(src: String, dst: String): Int = {
    val lake = RowStore.forKey(src)
    lake.commitLock.synchronized {
      require(lake.exists(src), s"snapshot_table: $src does not exist")
      require(!lake.exists(dst),
        s"snapshot_table: $dst already exists (clones never overwrite)")
      val meta = lake.readMeta(src)
      val entries = lake.readManifest(src, lake.currentVersion(src))
      val srcData = lake.dataDir(src)
      def abs(n: String) = RowStore.entryPath(srcData, n)
      val cloned = entries.map(e => e.copy(name = abs(e.name)))
      // ROW LINEAGE: the clone inherits the source's COUNTER, not just
      // its live entries' max range end — the source counter can run
      // ahead of every live entry (INSERT OVERWRITE retires ranges),
      // and a clone that re-minted a retired id would break
      // cross-version id uniqueness when a transaction adopts it back
      val floor = if (!meta.rowids) 0L
        else lake.nextRowId(src, lake.currentVersion(src))
      lake.create(dst, meta, cloned, rowIdFloor = floor)
      cloned.size
    }
  }
}
