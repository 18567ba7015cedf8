package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `<table>.history` — the snapshot-lineage metadata table (Iceberg's
  * `history`/`snapshots` surface): one row per committed version with
  * its manifest-derived file and row counts. Metadata-sized by
  * construction — the scan reads manifests only, never data files. */
class HistoryTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.history"
  override def schema(): StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("is_current", org.apache.spark.sql.types.BooleanType,
      nullable = false)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = HistoryTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        // computed at plan time on the driver (manifest-sized) and
        // shipped in the partition — the executor only replays rows
        val vs = lake.versions(baseKey)
        val cur = vs.max
        val rows = vs.map { v =>
          val es = lake.readManifest(baseKey, v)
          // exact only when every entry carries a count and no deltas
          // mutate rows at read time — else unknown (NULL); one shared
          // rule (RowStore.exactRowCount) with the COUNT(*) pushdown
          HistoryRow(v, es.size.toLong, RowStore.exactRowCount(es),
            v == cur)
        }
        Array(HistoryPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[HistoryPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: HistoryRow = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](cur.version, cur.nFiles,
                  cur.nRows.map(Long.box).orNull, cur.isCurrent))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class HistoryRow(version: Int, nFiles: Long, nRows: Option[Long],
    isCurrent: Boolean)
case class HistoryPartition(rows: Seq[HistoryRow]) extends InputPartition

/** `<table>.files` — Iceberg's files metadata table: one row per data
  * file in the CURRENT snapshot with its group, kind, spec, recorded
  * row count and key zone map. Pure manifest metadata (zero data files
  * open) — the plan-time debugging surface for layout questions
  * ("which groups are fragmented / delta-dirty / statless?").
  *
  * Deletion-vector blobs surface as first-class rows (kind='dv') with
  * their target's leaf name and the vector's POPULATION COUNT
  * (`dv_deleted_rows`) — the decision input Iceberg's
  * rewrite_position_deletes reads: "how many vectors, covering how
  * many rows" answers whether OPTIMIZE is due without opening any
  * data file. The popcount comes from the blob itself (rows/8 bytes,
  * file-level metadata like the manifest — the parquet-open counter
  * RowCatalogSpec pins stays at zero). */
class FilesTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.files"
  override def schema(): StructType = StructType(Seq(
    StructField("grp", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("spec", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("min_k", LongType, nullable = true),
    StructField("max_k", LongType, nullable = true),
    StructField("dv_target", StringType, nullable = true),
    StructField("dv_deleted_rows", LongType, nullable = true),
    // row lineage: the file's assigned id range starts here (NULL on
    // non-rowids tables and dv entries)
    StructField("first_row_id", LongType, nullable = true)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = FilesTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        Array(FilesPartition(lake.readManifest(baseKey,
          lake.currentVersion(baseKey))))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val fp = p.asInstanceOf[FilesPartition]
            val it = fp.entries.iterator
            new PartitionReader[InternalRow] {
              private var cur: RowStore.FileEntry = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](cur.group, UTF8String.fromString(cur.kind),
                  cur.spec, cur.rows.map(Long.box).orNull,
                  cur.minK.map(Long.box).orNull,
                  cur.maxK.map(Long.box).orNull,
                  cur.dvTarget.map(UTF8String.fromString).orNull,
                  // a vector's popcount rides its manifest entry
                  (if (cur.kind == "dv") cur.rows else None)
                    .map(Long.box).orNull,
                  cur.firstRowId.map(Long.box).orNull))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class FilesPartition(entries: Seq[RowStore.FileEntry])
    extends InputPartition

/** `<table>.partitions` — Iceberg's partitions metadata table: one row
  * per (spec, group) of the CURRENT snapshot with its file counts,
  * exact row count when the manifest knows it, and on-disk byte size.
  * The operational table lake users query most after `.files` ("which
  * partitions are big / fragmented / delta-dirty?"). Pure manifest
  * metadata + filesystem stat calls — ZERO data files opened (pinned
  * in RowCatalogSpec via the parquet-open counter).
  *
  * Deletion vectors roll up per group (`n_dv_deleted`, summed vector
  * popcounts), and because rid-deletes are TERMINAL and a file
  * carries at most one vector, a group whose only non-base entries
  * are vectors still reports an EXACT live `n_rows` (base rows minus
  * popcounts) — record-granularity deltas are what make a count
  * inexact, not DVs. */
class PartitionsTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.partitions"
  override def schema(): StructType = StructType(Seq(
    StructField("spec", IntegerType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_delta_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = false),
    StructField("n_dv_deleted", LongType, nullable = false)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = PartitionsTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val es = lake.readManifest(baseKey,
          lake.currentVersion(baseKey))
        val dir = lake.dataDir(baseKey)
        // record-granularity deltas anywhere table-wide poison
        // exactness (a group<0 delta can hold records of EVERY
        // group); vectors never do (terminal rid-deletes)
        val tableWideRecords = es.exists(e =>
          e.kind != "base" && e.kind != "dv" && e.group < 0)
        val rows = es.groupBy(e => (e.spec, e.group)).toSeq
          .sortBy { case ((sp, g), _) => (sp, g) }
          .map { case ((sp, g), fs) =>
            val base = fs.filter(_.kind == "base")
            val nDelta = fs.count(_.kind != "base")
            // manifest-resident popcounts
            val dvDel = fs.filter(_.kind == "dv").flatMap(_.rows).sum
            val recordDeltas = fs.exists(e =>
              e.kind != "base" && e.kind != "dv")
            val nRows: Option[Long] =
              if (recordDeltas || tableWideRecords ||
                base.exists(_.rows.isEmpty)) None
              else Some(base.map(_.rows.get).sum - dvDel)
            val bytes = fs
              .map(e => new java.io.File(RowStore.entryPath(dir, e.name)).length()).sum
            PartitionRow(sp, g, base.size.toLong, nDelta.toLong, nRows,
              bytes, dvDel)
          }
        Array(PartitionsPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[PartitionsPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: PartitionRow = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](cur.spec, cur.grp, cur.nFiles, cur.nDelta,
                  cur.nRows.map(Long.box).orNull, cur.bytes,
                  cur.nDvDeleted))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class PartitionRow(spec: Int, grp: Int, nFiles: Long, nDelta: Long,
    nRows: Option[Long], bytes: Long, nDvDeleted: Long = 0L)
case class PartitionsPartition(rows: Seq[PartitionRow])
    extends InputPartition

/** `<table>.refs` — Iceberg's refs metadata table: one row per named
  * reference — the implicit `main` branch at the current head, every
  * immutable TAG with its pinned version, and every staged
  * write-audit-publish BRANCH with the version it forked from. The
  * "what can I time-travel to, and where would a publish land?"
  * surface; with `.history`/`.files`/`.partitions`/`.changes` this
  * completes the metadata-table family. Pure directory listing +
  * ref/manifest-header reads — ZERO data files opened (pinned in
  * RowCatalogSpec via the parquet-open counter). */
class RefsTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.refs"
  override def schema(): StructType = StructType(Seq(
    StructField("ref_name", StringType, nullable = false),
    StructField("ref_type", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = RefsTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        // computed at plan time (ref-count-sized) and shipped in the
        // partition: `main` tracks the head; a staged branch reports
        // its fork base (publish validates against it — OCC)
        val main = RefRow("main", "BRANCH",
          lake.currentVersion(baseKey))
        val tags = lake.listTags(baseKey).map { case (n, v) =>
          RefRow(n, "TAG", v) }
        val branches = lake.listBranches(baseKey).map { n =>
          RefRow(n, "BRANCH", lake.readBranchManifest(baseKey, n)._1) }
        Array(RefsPartition((Seq(main) ++ branches ++ tags)
          .sortBy(r => (r.refName, r.refType))))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[RefsPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: RefRow = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](UTF8String.fromString(cur.refName),
                  UTF8String.fromString(cur.refType), cur.version))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class RefRow(refName: String, refType: String, version: Int)
case class RefsPartition(rows: Seq[RefRow]) extends InputPartition

/** `<table>.snapshots` — Iceberg's snapshots metadata table: one row
  * per retained version with its parent, a DIFF-DERIVED operation
  * classification (append = only added files, delete = only removed,
  * overwrite = both, create = version 0, noop = identical entry list
  * — e.g. a rollback to the current state), manifest-derived file/row
  * counts, and the current-pointer flag. Pure manifest metadata —
  * ZERO data files opened (pinned in RowCatalogSpec); the lineage
  * surface `.history` summarizes, with the operation column CDC/audit
  * consumers key on. */
class SnapshotsTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.snapshots"
  override def schema(): StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("parent_version", IntegerType, nullable = true),
    StructField("operation", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("is_current", org.apache.spark.sql.types.BooleanType,
      nullable = false)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = SnapshotsTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val vs = lake.versions(baseKey)
        val cur = vs.max
        val rows = vs.map { v =>
          val es = lake.readManifest(baseKey, v)
          val nRows: Option[Long] = RowStore.exactRowCount(es)
          // parent = the previous RETAINED version (VACUUM may have
          // expired intermediate ones); None for the chain's first.
          // The diff CLASSIFIES only against the version's TRUE
          // predecessor (v-1): diffing across a vacuum gap would
          // misattribute several commits' changes to one operation —
          // and the oldest retained post-vacuum version is NOT a
          // 'create' (only v0 ever is), it's 'unknown'.
          val parent = vs.filter(_ < v).lastOption
          val op =
            if (v == 0) "create"
            else if (!parent.contains(v - 1)) "unknown"
            else {
              val prev = lake.readManifest(baseKey, v - 1)
                .map(_.name).toSet
              val now = es.map(_.name).toSet
              val added = now.diff(prev).nonEmpty
              val removed = prev.diff(now).nonEmpty
              (added, removed) match {
                case (true, true)   => "overwrite"
                case (true, false)  => "append"
                case (false, true)  => "delete"
                case (false, false) => "noop"
              }
            }
          SnapshotRow(v, parent, op, es.size.toLong, nRows, v == cur)
        }
        Array(SnapshotsPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[SnapshotsPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: SnapshotRow = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](cur.version,
                  cur.parent.map(Int.box).orNull,
                  UTF8String.fromString(cur.operation), cur.nFiles,
                  cur.nRows.map(Long.box).orNull, cur.isCurrent))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class SnapshotRow(version: Int, parent: Option[Int],
    operation: String, nFiles: Long, nRows: Option[Long],
    isCurrent: Boolean)
case class SnapshotsPartition(rows: Seq[SnapshotRow])
    extends InputPartition

/** `<table>.column_stats` — the NDV observability surface (Iceberg
  * exposes puffin stats through its table metadata the same way): one
  * row per TRACKED column of the current snapshot with the folded
  * distinct-count estimate and null count, NULL when the snapshot
  * can't answer (dirty, or a file without a sketch — same refusal
  * rule as the scan's reported statistics, so what this table shows
  * IS what the CBO sees). Pure manifest metadata — zero data files
  * opened. Distinct counts are EXACT whenever the true cardinality
  * sits under the sketch's K (the q158 fixture pins that case
  * hash-green; high-cardinality columns surface the ±~8% estimate). */
class ColumnStatsTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.column_stats"
  override def schema(): StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("ndv", LongType, nullable = true),
    StructField("n_nulls", LongType, nullable = true)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = ColumnStatsTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val meta = lake.readMeta(baseKey)
        val es = lake.readManifest(baseKey,
          lake.currentVersion(baseKey))
        val clean = es.nonEmpty && es.forall(_.kind == "base")
        val rows = meta.ndvCols.sorted.map { c =>
          val storage = meta.storageOf(c)
          if (!clean || es.exists(e => !e.ndv.contains(storage)))
            ColumnStatsRow(c, None, None)
          else ColumnStatsRow(c,
            Some(RowStore.Kmv.estimate(
              es.map(_.ndv(storage)._2).reduce(RowStore.Kmv.merge))),
            Some(es.map(_.ndv(storage)._1).sum))
        }
        Array(ColumnStatsPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[ColumnStatsPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: ColumnStatsRow = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](UTF8String.fromString(cur.column),
                  cur.ndv.map(Long.box).orNull,
                  cur.nNulls.map(Long.box).orNull))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class ColumnStatsRow(column: String, ndv: Option[Long],
    nNulls: Option[Long])
case class ColumnStatsPartition(rows: Seq[ColumnStatsRow])
    extends InputPartition

/** `<table>.manifests` — Iceberg's manifests metadata table, re-shaped
  * for the incremental-manifest chain: one row per retained version's
  * manifest FILE with its chain role (checkpoint = self-contained,
  * else the parent it chains off), its OWN entry-line count (the
  * commit's write cost — O(change), which q149's spec pins), and its
  * removal count. The observability surface for "is my chain deep, do
  * I need rewrite_manifests?". Pure manifest-header reads — ZERO data
  * files opened. */
class ManifestsTable(lake: RowStore, baseKey: String) extends Table with SupportsRead {
  override def name(): String = s"$baseKey.manifests"
  override def schema(): StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("is_checkpoint", org.apache.spark.sql.types.BooleanType,
      nullable = false),
    StructField("parent_version", IntegerType, nullable = true),
    StructField("n_entries", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = ManifestsTable.this.schema()
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(ManifestsPartition(lake.versions(baseKey).map { v =>
          val (parent, entries, removed) =
            lake.manifestFileStats(baseKey, v)
          ManifestRow(v, parent.isEmpty, parent, entries.toLong,
            removed.toLong)
        }))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] = {
            val it = p.asInstanceOf[ManifestsPartition].rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: ManifestRow = _
              override def next(): Boolean =
                { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](cur.version, cur.isCheckpoint,
                  cur.parent.map(Int.box).orNull, cur.nEntries,
                  cur.nRemoved))
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class ManifestRow(version: Int, isCheckpoint: Boolean,
    parent: Option[Int], nEntries: Long, nRemoved: Long)
case class ManifestsPartition(rows: Seq[ManifestRow])
    extends InputPartition
