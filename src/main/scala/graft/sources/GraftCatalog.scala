package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

class GraftCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catName = "graft_dml"
  private var store: RowStore = _
  /** The lake every table, scan, write and procedure of this catalog uses. */
  def lake: RowStore = store

  /** Builds the lake once, rooted at the `warehouse` option: a
    * caller-owned directory several processes may share. The default
    * is the per-application scratch dir, deleted on JVM exit. */
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    store = new RowStore(Option(options.get("warehouse")).getOrElse(
      graft.Scratch.dir(SparkSession.active, "graft_rowcat", "tables")))
  }

  // ── SQL PROCEDURES (`CALL graft_dml.system.<proc>(…)`) — Iceberg's
  // stored-procedure surface for the maintenance operations that have
  // no DML spelling: rollback, tagging, snapshot expiry, compaction,
  // branch publish. Each runs the SAME RowStoreOps/RowStore code path
  // the programmatic API uses and returns its outcome as a one-row
  // result set (a LocalScan — driver-side metadata, never data).
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan => VScan}

  /** One self-binding procedure: fixed IN parameters, one-row result. */
  private abstract class Proc(procName: String, desc: String,
      params: Seq[(String, DataType)], out: Seq[(String, DataType)])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(input: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
    override def isDeterministic: Boolean = false // mutates table state
    /** args arrive in parameters() order (strings as UTF8String). */
    def run(args: InternalRow): Array[Any]
    override def call(input: InternalRow): java.util.Iterator[VScan] = {
      val row: InternalRow = new GenericInternalRow(run(input))
      val schema = StructType(out.map { case (n, t) =>
        StructField(n, t, nullable = false) })
      java.util.List.of[VScan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  /** Procedure arg `'ns.table'` → the store key (catalog-qualified). */
  private def tkey(t: UTF8String): String = s"$catName.${t.toString}"

  private lazy val procedures: Map[String, Proc] = Seq(
    new Proc("create_tag",
      "tag the table's current version as an immutable named ref",
      Seq(("table", StringType), ("tag", StringType)),
      Seq(("tag", StringType), ("version", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val v = RowStoreOps.createTag(tkey(a.getUTF8String(0)),
          a.getUTF8String(1).toString)
        Array(a.getUTF8String(1).copy(), v)
      }
    },
    new Proc("rollback_to_snapshot",
      "commit a new head whose content is an earlier version's",
      Seq(("table", StringType), ("version", IntegerType)),
      Seq(("previous_version", IntegerType), ("current_version", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val k = tkey(a.getUTF8String(0))
        val prev = lake.currentVersion(k)
        Array(prev, RowStoreOps.rollback(k, a.getInt(1)))
      }
    },
    new Proc("expire_snapshots",
      "retain the newest keep_last versions (+ tagged ones); delete " +
        "expired manifests and orphaned files",
      Seq(("table", StringType), ("keep_last", IntegerType)),
      Seq(("retained_versions", IntegerType), ("deleted_files", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (retained, deleted) =
          RowStoreOps.vacuum(tkey(a.getUTF8String(0)), a.getInt(1))
        Array(retained.size, deleted)
      }
    },
    new Proc("rewrite_data_files",
      "compact dirty groups (fragmented or delta-bearing) into one " +
        "base file each",
      Seq(("table", StringType)),
      Seq(("compacted_groups", IntegerType), ("entries_before", IntegerType),
        ("entries_after", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (dirty, before, after) = RowStoreOps.compact(
          SparkSession.active, tkey(a.getUTF8String(0)))
        Array(dirty.size, before, after)
      }
    },
    new Proc("rewrite_data_files_sorted",
      "rewrite EVERY group range-clustered by the sort column(s) " +
        "(Iceberg's rewrite_data_files with a sort order; " +
        "comma-separate for a lexicographic multi-column spec, or " +
        "'zorder(a,b)' for a Morton-interleaved spec that bounds " +
        "every file's extent in EVERY dimension) — restores zone-map " +
        "file skipping a churned or bin-packed layout lost",
      Seq(("table", StringType), ("sort_col", StringType)),
      Seq(("rewritten_groups", IntegerType), ("entries_before", IntegerType),
        ("entries_after", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val spec = a.getUTF8String(1).toString.trim
        // an empty spec would silently degrade to the plain dirty-
        // groups bin-pack, contradicting the "rewrite EVERY group
        // range-clustered" contract — refuse loudly
        require(spec.nonEmpty && spec != "zorder()",
          "rewrite_data_files_sorted: sort_col must name at least one " +
            "column (use rewrite_data_files for the plain bin-pack)")
        val (gs, before, after) =
          if (spec.startsWith("zorder(") && spec.endsWith(")")) {
            val zcols = spec.stripPrefix("zorder(").stripSuffix(")")
              .split(",").map(_.trim).filter(_.nonEmpty).toSeq
            // 'zorder( )' / 'zorder(,)' parse to zero columns and
            // would slip past the literal 'zorder()' check above
            require(zcols.nonEmpty, "rewrite_data_files_sorted: " +
              "zorder spec must name at least one column")
            RowStoreOps.compact(SparkSession.active,
              tkey(a.getUTF8String(0)), zorderCols = zcols)
          } else {
            val cols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            require(cols.nonEmpty, "rewrite_data_files_sorted: sort_col " +
              "must name at least one column")
            RowStoreOps.compact(SparkSession.active,
              tkey(a.getUTF8String(0)), cols)
          }
        Array(gs.size, before, after)
      }
    },
    new Proc("rewrite_data_files_binpack",
      "size-aware binpack (Iceberg's binpack strategy): rewrite ONLY " +
        "base files outside [0.75, 1.8]×target_bytes toward the " +
        "target; well-sized files keep their entries and stats " +
        "verbatim, and a well-compacted table is a no-op (zero files " +
        "rewritten, no version committed)",
      Seq(("table", StringType), ("target_bytes", LongType)),
      Seq(("rewritten_files", IntegerType), ("written_files", IntegerType),
        ("skipped_well_sized", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (rw, wr, sk) = BinpackOps.binpack(SparkSession.active,
          tkey(a.getUTF8String(0)), a.getLong(1))
        Array(rw, wr, sk)
      }
    },
    new Proc("clustering_quality",
      "mean per-file zone-map extent of a column as a fraction of the " +
        "table-wide extent, from the manifest alone (zero data files " +
        "opened) — ~1.0 means churned (banded reads open everything; " +
        "sorted/zorder rewrite advised), ~1/slices after a rewrite",
      Seq(("table", StringType), ("column", StringType)),
      Seq(("base_files", IntegerType),
        ("quality", org.apache.spark.sql.types.DoubleType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (n, q) = RowStoreOps.clusteringQuality(
          tkey(a.getUTF8String(0)), a.getUTF8String(1).toString)
        Array(n, Double.box(q))
      }
    },
    new Proc("rewrite_position_deletes",
      "fold positional delete records and existing deletion vectors " +
        "into one terminal vector per touched data file WITHOUT " +
        "rewriting base parquet (Iceberg's delete-only maintenance op)",
      Seq(("table", StringType)),
      Seq(("folded_deletes", LongType), ("delete_vectors", IntegerType),
        ("dropped_delta_files", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (folded, dvs, dropped) = RowStoreOps.rewritePositionDeletes(
          SparkSession.active, tkey(a.getUTF8String(0)))
        Array(Long.box(folded), dvs, dropped)
      }
    },
    new Proc("expire_snapshots_older_than",
      "retain versions committed within the window (+ the current and " +
        "tagged ones); delete expired manifests and orphaned files",
      Seq(("table", StringType), ("older_than_ms", LongType)),
      Seq(("retained_versions", IntegerType), ("deleted_files", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (retained, deleted) = RowStoreOps.vacuumOlderThan(
          tkey(a.getUTF8String(0)), a.getLong(1))
        Array(retained.size, deleted)
      }
    },
    new Proc("rewrite_manifests",
      "collapse the current snapshot's incremental manifest chain " +
        "into one self-contained manifest",
      Seq(("table", StringType)),
      Seq(("manifests_before", IntegerType), ("manifests_after", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (before, after) =
          RowStoreOps.rewriteManifests(tkey(a.getUTF8String(0)))
        Array(before, after)
      }
    },
    new Proc("remove_orphan_files",
      "delete data files referenced by no retained manifest or branch " +
        "and older than older_than_ms (age horizon: an in-flight " +
        "write's landed-but-uncommitted task files must never sweep)",
      Seq(("table", StringType), ("older_than_ms", LongType)),
      Seq(("deleted_files", IntegerType), ("retained_files", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (deleted, retained) = RowStoreOps.removeOrphanFiles(
          tkey(a.getUTF8String(0)), a.getLong(1))
        Array(deleted, retained)
      }
    },
    new Proc("compute_table_stats",
      "build per-file NDV sketches for the named columns of an " +
        "existing table's current snapshot (one distributed pass) " +
        "and keep them current on subsequent writes",
      Seq(("table", StringType), ("columns", StringType)),
      Seq(("sketched_files", IntegerType), ("sketched_columns", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (nf, nc) = RowStoreOps.computeTableStats(SparkSession.active,
          tkey(a.getUTF8String(0)),
          a.getUTF8String(1).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq)
        Array(nf, nc)
      }
    },
    new Proc("add_files",
      "register existing parquet files under source_dir as a new " +
        "table version — zero copies, file identity preserved in the " +
        "manifest (Iceberg's add_files migration)",
      Seq(("table", StringType), ("source_dir", StringType)),
      Seq(("added_files", IntegerType), ("added_rows", LongType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (n, rows) = RowStoreOps.addFiles(tkey(a.getUTF8String(0)),
          a.getUTF8String(1).toString)
        Array(n, Long.box(rows))
      }
    },
    new Proc("publish_branch",
      "fast-forward a staged WAP branch into the next committed version",
      Seq(("table", StringType), ("branch", StringType)),
      Seq(("published_version", IntegerType))) {
      override def run(a: InternalRow): Array[Any] =
        Array(RowStoreOps.publishBranch(tkey(a.getUTF8String(0)),
          a.getUTF8String(1).toString))
    },
    new Proc("publish_branches",
      "atomically fast-forward one staged WAP branch on EACH of " +
        "several tables — all-or-nothing: if any table moved past its " +
        "branch's fork base, nothing publishes (comma-separate tables " +
        "and their branches positionally)",
      Seq(("tables", StringType), ("branches", StringType)),
      Seq(("published_tables", IntegerType),
        ("published_versions", StringType))) {
      override def run(a: InternalRow): Array[Any] = {
        val ts = a.getUTF8String(0).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val bs = a.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        require(ts.size == bs.size && ts.nonEmpty,
          "publish_branches: tables and branches must pair positionally")
        val vs = RowStoreOps.publishBranches(
          ts.map(t => tkey(UTF8String.fromString(t))).zip(bs))
        Array(vs.size, UTF8String.fromString(vs.mkString(",")))
      }
    },
    new Proc("begin_transaction",
      "open a multi-statement cross-table transaction: zero-copy " +
        "clone each comma-separated table to <table>__txn<id>; run " +
        "ANY DML against the clones, then commit_transaction / " +
        "rollback_transaction (snapshot-isolated, all-or-nothing)",
      Seq(("tables", StringType)),
      Seq(("txn_id", LongType), ("clones", StringType))) {
      override def run(a: InternalRow): Array[Any] = {
        val ts = a.getUTF8String(0).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
          .map(t => tkey(UTF8String.fromString(t)))
        val txn = Transact.begin(lake, ts)
        Array(txn.id, UTF8String.fromString(
          ts.map(t => Transact.cloneKey(t, txn.id)).mkString(",")))
      }
    },
    new Proc("commit_transaction",
      "atomically publish every clone's snapshot onto its base table " +
        "(all-or-nothing OCC: refuses if ANY base advanced since " +
        "begin_transaction) and drop the clones",
      Seq(("txn_id", LongType)),
      Seq(("committed_tables", IntegerType),
        ("committed_versions", StringType))) {
      override def run(a: InternalRow): Array[Any] = {
        val vs = Transact.commit(lake, a.getLong(0))
        Array(vs.size, UTF8String.fromString(vs.mkString(",")))
      }
    },
    new Proc("rollback_transaction",
      "abandon an open transaction: drop its clones; the base tables " +
        "were never touched",
      Seq(("txn_id", LongType)),
      Seq(("dropped_clones", IntegerType))) {
      override def run(a: InternalRow): Array[Any] =
        Array(Transact.rollback(lake, a.getLong(0)))
    },
    new Proc("gc_transactions",
      "reclaim transactions older than ttl_ms (a crashed owner's " +
        "debris): drop their clones and registry records; base tables " +
        "are untouched by construction — any process may run it",
      Seq(("ttl_ms", LongType)),
      Seq(("reclaimed", IntegerType), ("still_open", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (reclaimed, open) = Transact.gcTransactions(lake, a.getLong(0))
        Array(reclaimed, open)
      }
    },
    new Proc("cherrypick_branch",
      "replay a staged WAP branch's delta onto a main that moved past " +
        "its fork base (Iceberg's cherrypick_snapshot); refuses when an " +
        "interleaved commit rewrote files the branch removed",
      Seq(("table", StringType), ("branch", StringType)),
      Seq(("published_version", IntegerType))) {
      override def run(a: InternalRow): Array[Any] =
        Array(RowStoreOps.cherrypickBranch(tkey(a.getUTF8String(0)),
          a.getUTF8String(1).toString))
    },
    new Proc("copy_into",
      "idempotent batch ingest (Delta's COPY INTO): register the " +
        "source dir's parquet files that were never loaded before, " +
        "skip the rest — safe to re-run after partial loads or on a " +
        "growing directory",
      Seq(("table", StringType), ("source_dir", StringType)),
      Seq(("new_files", IntegerType), ("new_rows", LongType),
        ("skipped_files", IntegerType))) {
      override def run(a: InternalRow): Array[Any] = {
        val (n, rows, skipped) = RowStoreOps.copyInto(
          tkey(a.getUTF8String(0)), a.getUTF8String(1).toString)
        Array(n, Long.box(rows), skipped)
      }
    },
    new Proc("snapshot_table",
      "zero-copy shallow clone (Delta SHALLOW CLONE / Iceberg " +
        "snapshot): the new table's v0 manifest references the " +
        "source's current files by absolute path; no data bytes move " +
        "and the tables diverge independently",
      Seq(("source", StringType), ("dest", StringType)),
      Seq(("referenced_files", IntegerType))) {
      override def run(a: InternalRow): Array[Any] =
        Array(RowStoreOps.snapshotTable(tkey(a.getUTF8String(0)),
          tkey(a.getUTF8String(1))))
    }
  ).map(p => p.name() -> p).toMap

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the `system` namespace, got $ident")
    procedures.getOrElse(ident.name(),
      sys.error(s"unknown procedure ${ident.name()} " +
        s"(have ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }
  override def name(): String = catName

  /** DEFAULT column values: declaring the capability lets Spark's
    * analyzer accept `DEFAULT <expr>` in CREATE TABLE (the default
    * rides the schema's field metadata, which the manifest header's
    * schema JSON round-trips) and fill omitted columns at INSERT
    * analysis — the connector's writers always see complete rows, so
    * no storage change is involved. CREATE-time defaults only: ALTER
    * ADD COLUMN with a default would need exists-default semantics in
    * the reader's null-padding path, which the catalog does not claim. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCatalogCapability
      .SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  /** The `bucket` V2 function the writes' required distribution
    * resolves through (Iceberg's storage-partitioned-write shape):
    * Spark shuffles write input by bucket(numGroups, firstCol) BEFORE
    * the writers run, so each group's rows land in exactly one task —
    * one file per group per commit, at any parallelism. */
  override def listFunctions(ns: Array[String]): Array[Identifier] =
    Array.empty
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def key(ident: Identifier): String =
    (catName +: ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val prefix = (catName +: ns).mkString(".") + "."
    lake.listTableKeys().toArray
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix))
      // only DIRECT children: a table in a nested namespace would
      // otherwise surface here under a mangled dotted name
      .filter(!_.contains("."))
      .map(Identifier.of(ns, _))
  }

  /** The `<table>.<name>` METADATA-TABLE family (Iceberg's pattern),
    * one registry so every surface shares the identical
    * base-resolution and existence discipline: `.changes` (version
    * diffs, options from/to/mode), `.history` (snapshot lineage),
    * `.files` (current-snapshot file metadata), `.partitions`
    * (per-(spec, group) rollups), `.refs` (main/tags/branches),
    * `.manifests` (per-version manifest-file shape), `.snapshots`
    * (per-version lineage + diff-derived operation), `.column_stats`
    * (per-tracked-column NDV + null counts — what the CBO sees). */
  private val metadataTables: Map[String, String => Table] = Map(
    "changes" -> (b => new ChangesTable(lake, b, lake.readMeta(b))),
    "history" -> (b => new HistoryTable(lake, b)),
    "files" -> (b => new FilesTable(lake, b)),
    "partitions" -> (b => new PartitionsTable(lake, b)),
    "refs" -> (b => new RefsTable(lake, b)),
    "manifests" -> (b => new ManifestsTable(lake, b)),
    "snapshots" -> (b => new SnapshotsTable(lake, b)),
    "column_stats" -> (b => new ColumnStatsTable(lake, b)),
    // write-only: the row-lineage maintenance-rewrite sink
    "rewrite" -> (b => new RewriteSinkTable(lake, b, lake.readMeta(b))))

  override def loadTable(ident: Identifier): Table = {
    val k = key(ident)
    val have = lake.versions(k)
    if (have.nonEmpty)
      new RowTable(lake, k, lake.versionMeta(k, have.last), have.last)
    else {
      // a real table always wins the name; only then does `t.<meta>`
      // resolve as a metadata table of `t`
      val meta = if (ident.namespace().isEmpty) None
        else metadataTables.get(ident.name())
      meta match {
        case Some(mk) =>
          val ns = ident.namespace()
          val base = key(Identifier.of(ns.dropRight(1), ns.last))
          if (lake.exists(base)) mk(base)
          else throw new NoSuchTableException(ident)
        case None => throw new NoSuchTableException(ident)
      }
    }
  }

  /** `VERSION AS OF v` — SQL time travel: a read-only table pinned to
    * manifest v (files are immutable, so this is pure planning). The
    * SNAPSHOT-TIME schema and renames ride the manifest's metadata
    * header (Iceberg/Delta's rule): after ADD/DROP COLUMN, older
    * versions keep the shape they were committed under instead of
    * being silently re-projected through the current schema.
    *
    * A NON-numeric version resolves as a NAMED REF (Iceberg's
    * `VERSION AS OF 'ref'`): a TAG pins to its recorded committed
    * version (snapshot-time schema rules apply unchanged); a staged
    * WAP BRANCH reads the staged snapshot — the SQL spelling of the
    * `branch=<name>` read option. Tags win over branches on a name
    * collision (a tag is a committed fact, a branch a proposal). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val k = key(ident)
    val have = lake.versions(k)
    if (have.isEmpty) throw new NoSuchTableException(ident)
    val meta = lake.versionMeta(k, have.last)
    def pinned(v: Int): Table = {
      require(have.contains(v), s"no version $v for $k (have $have)")
      pinnedTable(k, meta, v)
    }
    version.toIntOption match {
      case Some(v) => pinned(v)
      case None if lake.tagExists(k, version) =>
        pinned(lake.readTag(k, version))
      case None if lake.branchExists(k, version) =>
        // branch reads plan from the STAGED manifest; version is the
        // fork base (display/metadata only — the scan ignores it)
        new RowTable(lake, k, meta, lake.readBranchManifest(k, version)._1,
          forceBranch = Some(version))
      case None => sys.error(
        s"$k has no version, tag, or staged branch named '$version'")
    }
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch; the
    * snapshot is the LATEST version committed at or before t
    * (Iceberg/Delta's as-of rule). Commit times are recorded in the
    * manifest header and strictly monotonic per table, so the mapping
    * is total and unambiguous; a timestamp before the first commit
    * fails loudly. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val k = key(ident)
    val have = lake.versions(k)
    if (have.isEmpty) throw new NoSuchTableException(ident)
    val atOrBefore = have.filter(v =>
      lake.commitTimeMs(k, v) * 1000L <= timestampMicros)
    require(atOrBefore.nonEmpty,
      s"no snapshot of $k at or before timestamp ${timestampMicros}us " +
        s"(earliest commit: ${lake.commitTimeMs(k, have.head)}ms)")
    pinnedTable(k, lake.versionMeta(k, have.last), atOrBefore.max)
  }

  /** Version `v` read through the current metadata `meta`, with the
    * schema and renames `v` was committed under. */
  private def pinnedTable(k: String, meta: RowStore.Meta, v: Int): Table = {
    val vm = lake.versionMeta(k, v)
    new RowTable(lake, k, meta.copy(schema = vm.schema, renames = vm.renames), v)
  }

  /** (transform, tparam, col, numGroups) from a declared transform.
    * SQL and programmatic forms order (literal, ref) differently, so
    * each argument is picked by type. */
  private def parseSpec(name: String, args: Array[VExpression],
      schema: StructType): (String, Long, String, Int) = {
    val litArg: Option[Long] = args.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value() match {
          case i: java.lang.Integer => i.longValue
          case l2: java.lang.Long   => l2.longValue
          case other => sys.error(s"$name: non-integer argument $other")
        }
    }
    val colArg: String = args.collectFirst { case r: NamedReference =>
      require(r.fieldNames().length == 1,
        s"$name over a nested column is not supported")
      r.fieldNames()(0)
    }.getOrElse(sys.error(s"$name transform carries no column"))
    resolveSpec(name, litArg, colArg, schema)
  }

  /** Validate + canonicalize a (transform name, literal, column) spec
    * against a schema — shared by CREATE's Transform path and ALTER's
    * `TBLPROPERTIES('partition'='…')` evolution path. */
  private def resolveSpec(name: String, litArg: Option[Long],
      colArg: String, schema: StructType): (String, Long, String, Int) = {
    val f = schema.fields.find(_.name == colArg)
      .getOrElse(sys.error(s"partition column $colArg not in schema"))
    name match {
      case "bucket" =>
        val n = litArg.getOrElse(
          sys.error("bucket transform carries no bucket count")).toInt
        require(n > 0, s"bucket(n, col): n must be positive, got $n")
        require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == StringType,
          s"bucket: unsupported column type ${f.dataType}")
        ("bucket", 0L, colArg, n)
      case "truncate" =>
        val w = litArg.getOrElse(
          sys.error("truncate transform carries no width"))
        require(w > 0, s"truncate(w, col): w must be positive, got $w")
        require(f.dataType == LongType || f.dataType == IntegerType,
          s"truncate: unsupported column type ${f.dataType} (integer only)")
        ("truncate", w, colArg, 0)
      case t @ ("days" | "hours" | "months" | "years") =>
        require(f.dataType == TimestampType,
          s"$t: column $colArg must be TIMESTAMP, got ${f.dataType}")
        (t, 0L, colArg, 0)
      case "identity" =>
        require(f.dataType == LongType || f.dataType == IntegerType,
          s"identity: unsupported column type ${f.dataType} (integer only)")
        ("identity", 0L, colArg, 0)
      case other => sys.error(
        s"unsupported partition transform $other — PARTITIONED BY (col) " +
          "/ bucket(n, col) / truncate(w, col) / " +
          "days|hours|months|years(ts) are supported")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(partitions.length <= 1,
      "RowStore tables take at most one partition transform")
    schema.fieldNames.foreach(n => require(!RowStore.Reserved(n),
      s"column name $n is reserved"))
    val spec: Option[(String, Long, String, Int)] = partitions.headOption
      .map(t => parseSpec(t.name(), t.arguments(), schema))
    // no partition transform → the FIRST column is the implied bucket
    // key; refuse the statless types there (an Array[Byte]'s hashCode
    // is identity-based — routing by it would be nondeterministic; a
    // double key has no zone-map form). Declaring PARTITIONED BY on a
    // groupable column lifts the restriction.
    if (spec.isEmpty) schema.headOption.foreach { f =>
      val bad = f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
          org.apache.spark.sql.types.FloatType |
          org.apache.spark.sql.types.BinaryType => true
        case _: org.apache.spark.sql.types.ArrayType => true
        case _: org.apache.spark.sql.types.MapType => true
        case _ => false
      }
      require(!bad, s"first column ${f.name} of type " +
        s"${f.dataType.simpleString} cannot be the implied bucket key — " +
        "declare PARTITIONED BY (bucket(n, col)) on a groupable column")
    }
    val k = key(ident)
    val numGroups = spec.map(_._4).filter(_ > 0)
      .orElse(Option(properties.get("groups")).map(_.toInt)).getOrElse(4)
    val mor = Option(properties.get("format")).contains("mor")
    require(!mor || spec.forall(_._1 == "bucket"),
      "merge-on-read tables support only the bucket transform (delta " +
        "records can target any group; an unbounded group space cannot " +
        "be planned ahead)")
    // opt-in per-column bloom filters for equality-predicate file
    // skipping: TBLPROPERTIES('bloom'='col,...') — Delta's per-column
    // bloom index surface. Long/int/timestamp/date/decimal(≤18)/string
    // columns (every type with a canonical long or string form that
    // [[RowStore.Bloom.hashOf]] tracks and the scan's pushed-literal
    // canonicalization reproduces).
    val bloomCols = Option(properties.get("bloom"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // resolve against the REAL nested schema (a struct's flat-list
    // presence marker must not masquerade as a trackable INT column)
    bloomCols.foreach { c =>
      val dt = RowNested.resolve(schema.fields.toSeq, c).getOrElse(
        sys.error(s"bloom column $c is not in the table schema"))
      require(RowStore.Bloom.trackable(dt),
        s"bloom column $c has untrackable type $dt")
    }
    // opt-in per-column NDV sketches (TBLPROPERTIES('ndv'='col,...')):
    // KMV distinct-count sketches recorded per (file, column) at
    // write time, folded at plan time into the scan's reported
    // column statistics — what CBO join-cardinality estimation needs
    // (Iceberg's puffin theta-sketch NDVs). Same trackable types as
    // the bloom filter (the same canonical hash feeds both).
    val ndvCols = Option(properties.get("ndv"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    ndvCols.foreach { c =>
      val dt = RowNested.resolve(schema.fields.toSeq, c).getOrElse(
        sys.error(s"ndv column $c is not in the table schema"))
      require(RowStore.Bloom.trackable(dt),
        s"ndv column $c has untrackable type $dt")
    }
    // deletion vectors (TBLPROPERTIES('deletes'='dv')): MOR-only —
    // COW rewrites whole groups, there is nothing for a vector to
    // mask; any other value is a loud error, not a silent default
    val delProp = Option(properties.get("deletes"))
    require(delProp.forall(_ == "dv"),
      s"unknown 'deletes' property value ${delProp.get} (only 'dv')")
    val dv = delProp.contains("dv")
    require(!dv || mor, "deletion vectors ('deletes'='dv') are a " +
      "merge-on-read construct — create the table with 'format'='mor'")
    // opt-in CHECK constraint (TBLPROPERTIES('check'='<bool expr>')):
    // validated HERE — binding errors surface at DDL, never as a
    // confusing write-task failure later
    val check = Option(properties.get("check")).map(_.trim)
      .filter(_.nonEmpty).getOrElse("")
    if (check.nonEmpty) RowCheck.validate(check, schema)
    // opt-in ROW LINEAGE (TBLPROPERTIES('rowids'='on')): Iceberg v3's
    // row-lineage / Delta's row-tracking surface — see
    // [[RowStore.Meta.rowids]]. CREATE-time only: enabling on an
    // existing table would leave every already-committed entry without
    // an id range (Iceberg gates it the same way, on format v3).
    val ridProp = Option(properties.get("rowids"))
    require(ridProp.forall(_ == "on"),
      s"unknown 'rowids' property value ${ridProp.get} (only 'on')")
    val rowids = ridProp.contains("on")
    // opt-in GENERATED COLUMNS (TBLPROPERTIES('generated'='col: expr
    // [; col: expr…]')) — Delta's GENERATED ALWAYS AS: validated HERE
    // so binding/type errors surface at DDL ([[RowGen]])
    val gen = Option(properties.get("generated")).map(_.trim)
      .filter(_.nonEmpty).getOrElse("")
    if (gen.nonEmpty) RowGen.validate(gen, schema)
    val meta = RowStore.Meta(schema, numGroups, mor,
      spec.map(_._3).getOrElse(""),
      transform = spec.map(_._1).getOrElse("bucket"),
      tparam = spec.map(_._2).getOrElse(0L),
      bloomCols = bloomCols, dv = dv, ndvCols = ndvCols, check = check,
      rowids = rowids, gen = gen)
    lake.create(k, meta) // v0 = empty table at CREATE
    new RowTable(lake, k, meta, 0)
  }

  /** Schema evolution, additive form (the lake-format default): ADD
    * COLUMN commits ONLY new metadata — no data files move; old
    * files (and therefore old `VERSION AS OF` reads) surface NULL for
    * the new column via read-time padding.
    *
    * Partition-spec EVOLUTION (Iceberg's `REPLACE PARTITION FIELD`
    * shape, surfaced through the one ALTER hook Spark SQL gives a
    * custom catalog): `ALTER TABLE t SET TBLPROPERTIES('partition' =
    * 'truncate(1000, k)')` — bumps the spec id, so files already
    * written KEEP their old group layout (the scan plans across both)
    * while every subsequent write routes by the new transform. MOR
    * tables refuse (delta records can't span spec layouts); row-level
    * ops refuse until the table is migrated (INSERT OVERWRITE). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val k = key(ident)
    lake.commitLock.synchronized {
      if (!lake.exists(k)) throw new NoSuchTableException(ident)
      val meta = lake.readMeta(k)
      val (specChanges, colChanges) = changes.partition {
        case p: TableChange.SetProperty => p.property() == "partition"
        case _ => false
      }
      require(specChanges.size <= 1,
        "at most one partition evolution per ALTER statement")
      var droppedNow = Seq.empty[String]
      var renamesNow = meta.renames
      var pcolNow = meta.bucketCol
      // navigate to the parent struct of a nested path and rewrite it
      // in place — the shared walk ADD/RENAME/DROP of "s.f" use
      def mapStruct(sch: StructType, parents: Seq[String])(
          op: StructType => StructType): StructType =
        if (parents.isEmpty) op(sch)
        else {
          val h = parents.head
          val f = sch.fields.find(_.name == h).getOrElse(
            sys.error(s"no column $h in schema"))
          val st = f.dataType match {
            case s: StructType => s
            case other => sys.error(
              s"column $h is not a struct (got ${other.simpleString})")
          }
          StructType(sch.fields.map(x =>
            if (x.name == h)
              x.copy(dataType = mapStruct(st, parents.tail)(op))
            else x))
        }
      // live flattened STORAGE names — what retained files actually
      // carry values under; every name-introduction guard checks these
      def liveStorage(sch: StructType): Set[String] =
        RowNested.flatLeaves(sch.fields.toSeq)
          .map(l => renamesNow.getOrElse(l.name, l.name)).toSet
      val newSchema = colChanges.foldLeft(meta.schema) {
        case (sch, add: TableChange.AddColumn) =>
          val path = add.fieldNames().toSeq
          val leafName = path.last
          require(!RowStore.Reserved(leafName),
            s"column name $leafName is reserved")
          // defaults resolve at CREATE time only: the capability makes
          // the analyzer route ADD COLUMN ... DEFAULT here, and storing
          // the field without its CURRENT_DEFAULT metadata would fill
          // NULL where the user asked for the default — refuse loudly
          require(add.defaultValue() == null,
            s"ADD COLUMN ${path.mkString(".")} DEFAULT is not " +
              "supported: this catalog resolves DEFAULT at CREATE " +
              "TABLE time only")
          // no field-id indirection: retained files still CONTAIN a
          // dropped column's values under its name, and readers
          // project by name — re-adding the name would resurrect them
          // (or crash on a type change) instead of NULL-padding. The
          // check runs over every FLATTENED name the addition
          // introduces (a struct column introduces its marker and all
          // leaf paths), against both the dropped blacklist and the
          // names files store ANOTHER column's values under.
          val prefix =
            if (path.length == 1) "" else path.init.mkString(".") + "."
          val newNames = RowNested.flatLeaves(Seq(
            StructField(leafName, add.dataType(), nullable = true)))
            .map(prefix + _.name)
          val live = liveStorage(sch)
          newNames.foreach { nn =>
            require(!meta.dropped.contains(nn) && !droppedNow.contains(nn),
              s"cannot re-add previously dropped column $nn: retained " +
                "files still carry its old values under that name")
            require(!live.contains(nn),
              s"cannot add column $nn: retained files store another " +
                "column's values under that name")
          }
          if (path.length == 1)
            StructType(sch.fields :+
              StructField(leafName, add.dataType(), nullable = true))
          else mapStruct(sch, path.init) { st =>
            require(!st.fieldNames.contains(leafName),
              s"cannot add duplicate field ${path.mkString(".")}")
            StructType(st.fields :+
              StructField(leafName, add.dataType(), nullable = true))
          }
        // DROP COLUMN, the other metadata-only evolution: files are
        // untouched (readers project by NAME, so a dropped column's
        // bytes simply stop being read — Iceberg's lazy-delete
        // economics). The group-key column can never drop: grouping,
        // zone maps, and the write distribution all route through it.
        case (sch, del: TableChange.DeleteColumn) =>
          val path = del.fieldNames().toSeq
          val disp = path.mkString(".")
          require(disp != meta.keyCol,
            s"cannot drop the group-key column ${meta.keyCol}")
          if (path.length == 1) {
            val name = path.head
            require(sch.fieldNames.contains(name),
              s"cannot drop missing column $name")
            // blacklist EVERY flattened storage name the column's
            // values live under — a struct column drops its marker
            // and all leaf paths (that's what retained files carry
            // the values under; == display paths unless renamed)
            val f = sch.fields.find(_.name == name).get
            val gone = RowNested.flatLeaves(Seq(f)).map(_.name)
            droppedNow = droppedNow ++
              gone.map(n => renamesNow.getOrElse(n, n))
            renamesNow = renamesNow -- gone
            StructType(sch.fields.filterNot(_.name == name))
          } else mapStruct(sch, path.init) { st =>
            val leaf = path.last
            require(st.fieldNames.contains(leaf),
              s"cannot drop missing column $disp")
            require(st.fields.length > 1,
              s"cannot drop the last field of struct " +
                s"${path.init.mkString(".")} — drop the struct column")
            val f = st.fields.find(_.name == leaf).get
            val gone = RowNested.flatLeaves(Seq(f))
              .map(l => path.init.mkString(".") + "." + l.name)
            droppedNow = droppedNow ++
              gone.map(n => renamesNow.getOrElse(n, n))
            renamesNow = renamesNow -- gone
            StructType(st.fields.filterNot(_.name == leaf))
          }
        // RENAME COLUMN — metadata-only (Iceberg's rename): files keep
        // their written name; the display→storage mapping bridges.
        case (sch, ren: TableChange.RenameColumn) =>
          require(!meta.mor, "RENAME COLUMN is not supported for " +
            "merge-on-read tables (delta records are projected by " +
            "written name)")
          val path = ren.fieldNames().toSeq
          val from = path.mkString(".")
          val toLeaf = ren.newName()
          val to = (path.init :+ toLeaf).mkString(".")
          RowStore.validateColName(toLeaf)
          require(!toLeaf.contains('.'),
            s"column name $toLeaf may not contain '.'")
          require(!RowStore.Reserved(toLeaf),
            s"column name $toLeaf is reserved")
          // renaming a whole STRUCT column would have to remap every
          // leaf path in one step — out of scope; its FIELDS rename
          def fieldAt(p: Seq[String]): Option[StructField] =
            p.foldLeft(Option(StructType(sch.fields)): Option[DataType]) {
              case (Some(st: StructType), n) =>
                st.fields.find(_.name == n).map(_.dataType)
              case _ => None
            } match {
              case Some(dt) => Some(StructField(p.last, dt))
              case None => None
            }
          require(fieldAt(path).isDefined,
            s"cannot rename missing column $from")
          require(!fieldAt(path).get.dataType.isInstanceOf[StructType],
            s"renaming a struct column ($from) is not supported — " +
              "rename its fields individually")
          require(fieldAt(path.init :+ toLeaf).isEmpty,
            s"cannot rename $from to $to: column $to already exists")
          require(!meta.dropped.contains(to) && !droppedNow.contains(to),
            s"cannot rename to previously dropped name $to: retained " +
              "files still carry its old values")
          // another live column's storage name is equally off-limits
          require(!RowNested.flatLeaves(sch.fields.toSeq)
            .map(_.name).filter(_ != from).exists(n =>
              renamesNow.getOrElse(n, n) == to),
            s"cannot rename $from to $to: retained files store another " +
              "column's values under that name")
          val storage = renamesNow.getOrElse(from, from)
          renamesNow = renamesNow - from
          if (to != storage) renamesNow = renamesNow + (to -> storage)
          if (pcolNow == from) pcolNow = to
          if (path.length == 1)
            StructType(sch.fields.map(f =>
              if (f.name == from) f.copy(name = toLeaf) else f))
          else mapStruct(sch, path.init)(st =>
            StructType(st.fields.map(f =>
              if (f.name == path.last) f.copy(name = toLeaf) else f)))
        // TYPE WIDENING — Iceberg's type-promotion rule (the fourth
        // schema-evolution leg after ADD/DROP/RENAME): ALTER COLUMN
        // int → bigint is metadata-only. Committed files keep the
        // narrow INT32 physical type; readers widen at the parquet
        // boundary (RowFiles.readRows), new files write INT64, and
        // each manifest's pinned schema makes time travel surface
        // the snapshot-time type. Narrowing (or any other change)
        // refuses loudly: committed wide values could not be read
        // back through a narrower type.
        case (sch, upd: TableChange.UpdateColumnType) =>
          val path = upd.fieldNames().toSeq
          val name = path.mkString(".")
          // nested leaves promote like top-level columns: the flat
          // leaf's physical encoding is what widens, and the reader's
          // parquet-boundary widening projects by the (dotted)
          // storage name either way. Resolve against the REAL nested
          // schema, never the flat list — there a struct column
          // appears as its INT32 presence marker and would slip
          // through the widening check as schema corruption.
          val curType = RowNested.resolve(sch.fields.toSeq, name)
            .getOrElse(
              sys.error(s"cannot alter type of missing column $name"))
          require(!curType.isInstanceOf[StructType],
            s"cannot alter the type of struct column $name — alter " +
              "its fields individually")
          val widens = (curType, upd.newDataType()) match {
            case (IntegerType, LongType) => true
            // DECIMAL PRECISION widening (Iceberg's decimal promotion:
            // same scale, more digits, within the INT64-unscaled
            // ceiling) — metadata-only like int→bigint: files store
            // the unscaled long at the UNCHANGED scale, so old and new
            // files read back identically under the wider declared
            // type, and zone maps/blooms (keyed on the unscaled form)
            // stay valid across the boundary
            case (a: org.apache.spark.sql.types.DecimalType,
                b: org.apache.spark.sql.types.DecimalType) =>
              b.scale == a.scale && b.precision > a.precision &&
                b.precision <= 18
            case _ => false
          }
          require(widens,
            s"unsupported type change ${curType.simpleString} -> " +
              s"${upd.newDataType().simpleString} for column $name: " +
              "only the widening INT -> BIGINT and same-scale DECIMAL " +
              "precision promotions are supported")
          if (path.length == 1)
            StructType(sch.fields.map(x =>
              if (x.name == name) x.copy(dataType = upd.newDataType())
              else x))
          else mapStruct(sch, path.init)(st =>
            StructType(st.fields.map(x =>
              if (x.name == path.last) x.copy(dataType = upd.newDataType())
              else x)))
        case (_, other) => throw new UnsupportedOperationException(
          s"unsupported table change: $other")
      }
      require(newSchema.nonEmpty, "cannot drop every column")
      var m2 = meta.copy(schema = newSchema,
        dropped = meta.dropped ++ droppedNow,
        renames = renamesNow, bucketCol = pcolNow)
      specChanges.headOption.foreach { case p: TableChange.SetProperty =>
        require(!meta.mor, "partition-spec evolution is not supported " +
          "for merge-on-read tables (delta records cannot span spec " +
          "layouts)")
        val (name, lit, col) = parsePartitionProperty(p.value())
        val (tf, w, c, n) = resolveSpec(name, lit, col, m2.schema)
        m2 = m2.copy(bucketCol = c, transform = tf, tparam = w,
          numGroups = if (n > 0) n else m2.numGroups,
          specId = m2.specId + 1)
      }
      // a CHECK constraint must keep binding against the evolved
      // schema: dropping or renaming a constrained column would turn
      // every later write into a confusing task failure — refuse the
      // ALTER instead (Delta's rule; widening keeps bindings valid)
      if (m2.check.nonEmpty)
        try RowCheck.validate(m2.check, m2.schema)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"this ALTER would break the table's CHECK constraint " +
              s"(${m2.check}): ${e.getMessage}")
        }
      // generated columns must keep binding too — dropping/renaming a
      // SOURCE column (or the generated column itself) refuses, same
      // rule as the CHECK constraint above
      if (m2.gen.nonEmpty)
        try RowGen.validate(m2.gen, m2.schema)
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"this ALTER would break a generated-column definition " +
              s"(${m2.gen}): ${e.getMessage}")
        }
      // schema/spec evolution COMMITS a version (same file entries,
      // new metadata header): time travel to any pre-ALTER version
      // keeps the old shape, the new head pins the new one. m2 was
      // planned against `meta`: a head another process evolved since
      // refuses rather than silently dropping that evolution.
      val v = lake.commit(k, evolve = head =>
        if (head == meta) m2
        else throw new java.util.ConcurrentModificationException(
          s"$k: table metadata changed while this ALTER was planned " +
            "— re-run it against the new schema"))((_, head) => head)
      new RowTable(lake, k, m2, v)
    }
  }

  /** `'partition'='bucket(4, k)' | 'truncate(1000, k)' | 'days(ts)'`
    * → (transform name, integer literal, column). The integer and
    * column argument may come in either order (Iceberg writes
    * truncate(col, w), Spark DDL bucket(n, col)). */
  private def parsePartitionProperty(v: String): (String, Option[Long], String) = {
    val m = java.util.regex.Pattern
      .compile("""\s*(\w+)\s*\(\s*([^)]*)\s*\)\s*""").matcher(v)
    require(m.matches(), s"cannot parse partition spec '$v' — expected " +
      "transform(args), e.g. bucket(4, k) / truncate(1000, k) / days(ts)")
    val name = m.group(1)
    val parts = m.group(2).split(",").map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty && parts.length <= 2,
      s"partition spec '$v' takes one or two arguments")
    val (lits, cols) = parts.partition(_.forall(_.isDigit))
    require(cols.length == 1,
      s"partition spec '$v' must name exactly one column")
    (name, lits.headOption.map(_.toLong), cols.head)
  }

  override def dropTable(ident: Identifier): Boolean =
    lake.drop(key(ident))

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME not supported")
}

/** `bucket(numBuckets, col)` bound to the SAME hash the writers use
  * ([[RowStore.groupOf]]) — the distribution's clustering and the
  * files' grouping provably agree. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): the row-group hash of the DML catalog"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket expects (numBuckets, col), got $inputType")
    val colType = inputType.fields(1).dataType
    require(colType == LongType || colType == IntegerType ||
      colType == StringType, s"bucket: unsupported column type $colType")
    new ScalarFunction[Int] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, colType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = s"graft.bucket($colType)"
      override def produceResult(input: InternalRow): Int = {
        val n = input.getInt(0)
        val v: Any =
          if (input.isNullAt(1)) null
          else colType match {
            case LongType    => Long.box(input.getLong(1))
            case IntegerType => Int.box(input.getInt(1))
            case StringType  => input.getUTF8String(1)
          }
        RowStore.groupOf(v, n)
      }
    }
  }
}

/** The `_group` / `_rid` metadata columns every scan can surface —
  * what the row-level rewrites read via requiredMetadataAttributes /
  * rowId, exactly Iceberg's `_file`/`_pos` shape. */
private object GroupMetaCol extends MetadataColumn {
  override def name(): String = "_group"
  override def dataType(): DataType = IntegerType
  override def isNullable: Boolean = false
}
private object RidMetaCol extends MetadataColumn {
  override def name(): String = "_rid"
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
}
/** `_row_id` (rowids tables only): the row's STABLE lineage id —
  * Iceberg v3's `_row_id` / Delta row tracking's `_metadata.row_id`.
  * Nullable: rows in a branch-staged (not yet committed) file have no
  * id until publish assigns the file's range. */
private object RowIdMetaCol extends MetadataColumn {
  override def name(): String = "_row_id"
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = true
}

class RowTable(lake: RowStore, tableKey: String, meta: RowStore.Meta, version: Int,
    forceBranch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {
  override def name(): String = tableKey
  override def schema(): StructType = meta.schema

  /** The declared table options, surfaced the way SQL asks for them
    * (`SHOW TBLPROPERTIES` / DESCRIBE EXTENDED) — the SAME keys
    * CREATE accepted, so a user can read a table's contract (format,
    * CHECK constraint, bloom/ndv opt-ins, group count) back out of
    * the catalog instead of out of tribal knowledge. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("format", if (meta.mor) "mor" else "cow")
    m.put("groups", meta.numGroups.toString)
    if (meta.dv) m.put("deletes", "dv")
    if (meta.bloomCols.nonEmpty) m.put("bloom", meta.bloomCols.mkString(","))
    if (meta.ndvCols.nonEmpty) m.put("ndv", meta.ndvCols.mkString(","))
    if (meta.check.nonEmpty) m.put("check", meta.check)
    if (meta.rowids) m.put("rowids", "on")
    if (meta.gen.nonEmpty) m.put("generated", meta.gen)
    m
  }

  /** Metadata delete for the UNCONDITIONAL case only: `DELETE FROM t`
    * (no WHERE, or one folded to true) optimizes the row-level
    * rewrite's scan into an empty relation — the scan is never
    * planned, and the COW commit (correctly) refuses a rewrite with
    * no planned scan. Spark's OptimizeMetadataOnlyDeleteFromTable
    * asks here FIRST: a truncate is a pure manifest swap (new empty
    * version, files retained for time travel / VACUUM — Iceberg's
    * truncate semantics). Any real predicate declines and takes the
    * rewrite path. */
  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    predicates.isEmpty || predicates.forall(_.name() == "ALWAYS_TRUE")
  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    lake.commit(tableKey)((_, _) => Seq.empty)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE).asJava
  override def metadataColumns(): Array[MetadataColumn] =
    if (meta.rowids) Array(GroupMetaCol, RidMetaCol, RowIdMetaCol)
    else Array(GroupMetaCol, RidMetaCol)
  /** Surface the declared layout (DESCRIBE, storage-partitioned-join
    * eligibility): the ACTIVE spec's transform — bucket by the
    * declared (or default first) column, or the temporal/range
    * transform when one was declared. */
  override def partitioning(): Array[Transform] = meta.transform match {
    case "days"     => Array(Expressions.days(meta.keyCol))
    case "hours"    => Array(Expressions.hours(meta.keyCol))
    case "months"   => Array(Expressions.months(meta.keyCol))
    case "years"    => Array(Expressions.years(meta.keyCol))
    case "identity" => Array(Expressions.identity(meta.keyCol))
    case "truncate" => Array(Expressions.apply("truncate",
      Expressions.literal(meta.tparam), Expressions.column(meta.keyCol)))
    case _          => Array(Expressions.bucket(meta.numGroups, meta.keyCol))
  }

  /** Read option `groups=g1,g2,…` (or `compact=…`, the one-option
    * OPTIMIZE handshake) statically restricts the scan to those groups
    * — the compaction read path: only dirty groups are read, so only
    * dirty groups are rewritten. The SAME `compact` key drives both
    * the read restriction and the write's manifest swap because
    * Spark's V2Writes asserts the (deduplicated) relation options and
    * the write options agree — two different keys on the same table
    * trip it. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val handshake =
      Option(options.get("compact")).map(GroupWrite.parseCompact)
    new GroupScanBuilder(lake, tableKey, meta, version, None,
      Option(options.get("groups"))
        .map(_.split(",").map(_.trim.toInt).toSet)
        .orElse(handshake.map(_._2)),
      staticFiles = handshake.flatMap(_._5),
      // streaming start version (readStream.option("from", v))
      streamFrom = Option(options.get("from")).map(_.toInt).getOrElse(0),
      // `branch=<name>` reads the STAGED snapshot (WAP audit read);
      // a `VERSION AS OF '<branch>'` table arrives branch-pinned
      branch = forceBranch.orElse(Option(options.get("branch"))))
  }

  /** INSERT INTO path: append; INSERT OVERWRITE arrives as
    * `truncate()` on the same builder and flips it to replace-all.
    * Write option `compact=g1,g2,…` commits the incoming files as the
    * REPLACEMENT of exactly those groups' base+delta entries (the
    * OPTIMIZE swap — see [[RowStoreOps.compact]]). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    Option(info.options().get("compact"))
      .map(GroupWrite.parseCompact) match {
      case Some((base, gs, sort, preserve, files)) =>
        new GroupWrite(lake, tableKey, meta, info.schema(),
          GroupWrite.Compact(base, gs, files), sortCols = sort,
          preserveLayout = preserve)
      case None =>
        Option(info.options().get("branch")) match {
          // write option `branch=<name>`: the append STAGES into the
          // named branch (WAP) — files land on disk, but no table
          // version commits until publishBranch
          case Some(b) => new GroupWrite(lake, tableKey, meta, info.schema(),
            GroupWrite.StageBranch(b))
          case None => new GroupWrite(lake, tableKey, meta, info.schema(),
            GroupWrite.Append, Option(info.queryId()).getOrElse(""))
        }
    }

  /** MERGE/UPDATE/DELETE: Spark rewrites the statement against this
    * operation's builders — copy-on-write group replacement by
    * default, delta (merge-on-read) when the table was created with
    * 'format'='mor'. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    if (meta.mor) () => new DeltaRowLevelOp(lake, tableKey, meta, info.command())
    else () => new GroupRowLevelOp(lake, tableKey, meta, info.command())
}

/** Copy-on-write row-level operation: its scan records which groups
  * survived runtime group filtering; its write replaces EXACTLY those
  * groups' files at commit. The scan↔write handshake rides this
  * object — the same contract Iceberg's copy-on-write scan/write pair
  * uses. */
class GroupRowLevelOp(lake: RowStore, tableKey: String, meta: RowStore.Meta,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  /** (spec, group) pairs the operation's (possibly runtime-pruned)
    * scan planned; None = scan never planned (plan dropped) → replace
    * nothing. SPEC-QUALIFIED because group numbers are only unique
    * within a partition spec: after an evolution, bucket 3 and
    * truncate-range 3 are different row sets, and Iceberg plans
    * row-level ops per-spec for exactly this reason — the rewrite
    * replaces old-spec groups it read and lands its output under the
    * ACTIVE spec (migration-by-touch, no table rewrite needed). */
  @volatile private[sources] var scannedGroups: Option[Set[(Int, Int)]] = None
  /** Version the operation's scan read — the optimistic-concurrency
    * base: commit refuses if another commit advanced the table past
    * it (the rewrite would silently drop that commit's changes). */
  @volatile private[sources] var baseVersion: Option[Int] = None

  override def command(): RowLevelOperation.Command = cmd
  /** rowids tables additionally declare `_row_id`, so Spark's
    * ReplaceData carries each surviving row's lineage id to the
    * writer (the WRITE_WITH_METADATA path) and the COW rewrite can
    * MATERIALIZE it — carried-over rows keep their ids across the
    * group swap. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (meta.rowids)
      Array(Expressions.column("_group"), Expressions.column("_row_id"))
    else Array(Expressions.column("_group"))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = lake.currentVersion(tableKey)
    baseVersion = Some(v)
    new GroupScanBuilder(lake, tableKey, meta, v, Some(this))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GroupWrite(lake, tableKey, meta, info.schema(),
      GroupWrite.ReplaceGroups(this))
}

/** `<table>.rewrite` — the MAINTENANCE-REWRITE WRITE SURFACE for
  * rowids tables. A maintenance rewrite (OPTIMIZE / sorted / zorder /
  * binpack) relocates rows, so it must MATERIALIZE each row's lineage
  * id into the files it writes — but `writeTo(table)` validates the
  * incoming frame against the USER schema, which `_row_id` is not
  * part of. This sink is the same table with the id as one trailing
  * writable column: [[RowStoreOps]] selects the scan's `_row_id`
  * metadata column alongside the data and appends here; the writer
  * runs in trailing-id mode and the commit is the ordinary compact
  * handshake swap. Write-only (reads go through the real table). */
class RewriteSinkTable(lake: RowStore, tableKey: String, meta: RowStore.Meta)
    extends Table with SupportsWrite {
  override def name(): String = s"$tableKey.rewrite"
  override def schema(): StructType =
    StructType(meta.schema.fields :+ StructField("_row_id", LongType))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(meta.rowids,
      s"$tableKey.rewrite is the row-lineage rewrite sink — " +
        "non-rowids tables rewrite through the table itself")
    Option(info.options().get("compact")).map(GroupWrite.parseCompact) match {
      case Some((base, gs, sort, preserve, files)) =>
        new GroupWrite(lake, tableKey, meta, meta.schema,
          GroupWrite.Compact(base, gs, files), sortCols = sort,
          preserveLayout = preserve)
      case None => sys.error(
        s"$tableKey.rewrite accepts only compact-handshake writes")
    }
  }
}
