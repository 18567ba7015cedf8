package graft.sources

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Batch write: executors bucket rows by the first-column hash and
  * write one parquet file per (task, non-empty group); commit messages
  * carry FILE METADATA only (name/group/rowcount — never rows), and the
  * driver swaps the manifest. Modes: append (INSERT), overwrite
  * (INSERT OVERWRITE via truncate()), replace-groups (the COW swap). */
object GroupWrite {
  sealed trait Mode extends Serializable
  case object Append extends Mode
  case object Overwrite extends Mode
  case class ReplaceGroups(op: GroupRowLevelOp) extends Mode
  /** WAP staging: the append lands in branch `name`'s manifest, not
    * the committed chain. */
  case class StageBranch(name: String) extends Mode
  /** OPTIMIZE: the incoming files replace EXACTLY these groups'
    * base+delta entries — a group that resolved to zero visible rows
    * writes no file but still sheds its old entries. `base` is the
    * version the compaction read, for the OCC commit check. */
  /** OPTIMIZE: the incoming files replace entries of EXACTLY these
    * groups — the WHOLE groups' base+delta entries by default, or
    * (binpack mode, `files` defined) only the NAMED base files within
    * them, leaving well-sized group-mates untouched. `base` is the
    * version the rewrite read, for the OCC commit check. */
  case class Compact(base: Int, groups: Set[Int],
    files: Option[Set[String]] = None) extends Mode

  /** Option value codec for the compact handshake:
    * `<ver>:<g1>,<g2>[:sort=<col>[,<col>…] | :layout=preserve
    * [:files=<leaf>[,<leaf>…]]]` — the optional third segment asks
    * for the SORT-ORDERED rewrite (Iceberg's rewrite_data_files with
    * a sort order; several columns = the lexicographic multi-column
    * sort spec), or for LAYOUT-PRESERVING mode: the incoming
    * partitioning (a Morton-key range shuffle built by
    * [[RowStoreOps.compact]], or the binpack slicing built by
    * [[RowStoreOps.binpack]]) IS the clustering, so the write must
    * not impose its own distribution. A `files=` segment restricts
    * the rewrite to the NAMED base files (size-aware binpack: the
    * scan plans only them, the commit replaces only them). Every
    * segment form carries '=', a character RowStore's metadata
    * layout reserves out of column names — so none can collide with
    * a user column (a bare sentinel like "zorder" could: a column
    * literally named zorder would silently flip the sorted rewrite
    * into an unsorted bin-pack). One option value carries the whole
    * handshake because Spark's V2Writes asserts scan and write
    * options agree. Returns (base version, groups, sort columns,
    * preserve-layout, file subset). */
  def parseCompact(v: String)
      : (Int, Set[Int], Seq[String], Boolean, Option[Set[String]]) = {
    val parts = v.split(":")
    val groups = parts(1).split(",").map(_.trim.toInt).toSet
    var sort = Seq.empty[String]
    var preserve = false
    var files: Option[Set[String]] = None
    parts.drop(2).foreach {
      case "layout=preserve" => preserve = true
      case seg if seg.startsWith("sort=") =>
        sort = seg.stripPrefix("sort=")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case seg if seg.startsWith("files=") =>
        files = Some(seg.stripPrefix("files=")
          .split(",").map(_.trim).filter(_.nonEmpty).toSet)
      case seg => sys.error(
        s"compact handshake: unrecognized segment '$seg'")
    }
    require(sort.isEmpty || !preserve,
      "compact handshake: sort= and layout=preserve are exclusive")
    (parts(0).toInt, groups, sort, preserve, files)
  }
}

class GroupWrite(lake: RowStore, tableKey: String, meta: RowStore.Meta,
    writeSchema: StructType, mode: GroupWrite.Mode,
    queryId: String = "", sortCols: Seq[String] = Seq.empty,
    preserveLayout: Boolean = false)
    extends WriteBuilder with Write with BatchWrite with SupportsTruncate
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def truncate(): WriteBuilder = {
    require(!mode.isInstanceOf[GroupWrite.StageBranch],
      s"$tableKey: INSERT OVERWRITE into a branch is not supported — " +
        "branches stage appends only (WAP)")
    new GroupWrite(lake, tableKey, meta, writeSchema, GroupWrite.Overwrite, queryId)
  }

  // storage-aligned write: cluster incoming rows by the group hash so
  // each group is written by exactly one task — one file per touched
  // group per commit instead of (tasks × groups) fragments. Temporal/
  // range transforms cluster by the raw column (equal values co-locate
  // ⊆ equal partition values; Spark resolves identity natively, no V2
  // function needed) — a group may then span tasks, which the
  // one-file-per-(task, group) model already allows.
  //
  // SORT-ORDERED REWRITE (Iceberg's rewrite_data_files with a sort
  // order): ask Spark for an ORDERED distribution on the sort column
  // instead — the engine RANGE-partitions the rows, so each task
  // holds one contiguous slice of the sort column across all groups,
  // and the unchanged one-file-per-(task, group) writer then emits
  // range-disjoint files whose zone maps are tight on the sort
  // column. That is exactly what restores file skipping on a churned
  // table: bin-packed compaction leaves one group-wide file whose
  // [min, max] spans everything; the sorted rewrite splits it into
  // slices a pushed range prunes. No writer changes — the clustering
  // IS the feature, delegated to Spark's range shuffle.
  // Z-ORDER REWRITE (preserveLayout): the clustering was ALREADY built
  // upstream — RowStoreOps.compact range-shuffled the rows by the
  // normalized Morton key (a derived column no identity transform can
  // name), so the write declares NO distribution and the engine keeps
  // the incoming layout; the unchanged one-file-per-(task, group)
  // writer then emits files whose per-column zone maps are tight in
  // EVERY interleaved dimension.
  override def requiredDistribution(): Distribution =
    if (preserveLayout) Distributions.unspecified()
    else if (sortCols.nonEmpty) Distributions.ordered(sortCols.toArray.map(c =>
      Expressions.sort(Expressions.identity(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)))
    else meta.transform match {
      case "bucket" => Distributions.clustered(Array[VExpression](
        Expressions.bucket(meta.numGroups, meta.keyCol)))
      case _ => Distributions.clustered(Array[VExpression](
        Expressions.identity(meta.keyCol)))
    }
  // within-file order rides along for free on the sorted rewrite —
  // parquet page stats inside each file then line up with the file's
  // zone map (the Iceberg sort-rewrite layout)
  override def requiredOrdering(): Array[SortOrder] =
    sortCols.toArray.map(c => Expressions.sort(Expressions.identity(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
  // pin the sorted rewrite's range-partition count: an unpinned count
  // lets AQE coalesce a small rewrite to ONE slice, which silently
  // recreates the group-wide files the rewrite exists to split. The
  // count is DATA-derived (rows / target-file-rows, floor 8 — see
  // RowStore.rewriteSlices), not core-count-derived: the session's
  // shuffle parallelism made the same rewrite write 4× more files at
  // local[32] than local[8] for a table whose right slicing is a
  // property of its size.
  override def requiredNumPartitions(): Int =
    if (sortCols.nonEmpty) lake.rewriteSlices(tableKey, 8)
    else 0

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GroupWriterFactory(lake.dataDir(tableKey), writeSchema,
      meta.keyCol, meta.numGroups, meta.transform, meta.tparam,
      meta.renames, meta.bloomCols, meta.ndvCols, meta.check,
      // ROW LINEAGE: only the row-RELOCATING writes materialize ids —
      // COW group swaps (carried ids ride Spark's metadata
      // projection) and maintenance rewrites (trailing-column carry
      // via the `t.rewrite` surface). Plain appends stay virtual.
      matRowIds = meta.rowids && (mode.isInstanceOf[GroupWrite.ReplaceGroups]
        || mode.isInstanceOf[GroupWrite.Compact]),
      trailingRowId = meta.rowids && mode.isInstanceOf[GroupWrite.Compact],
      gen = meta.gen)

  /** `writeStream.toTable` — the native streaming APPEND (Delta's
    * shape): each epoch commits one manifest version, and a
    * RE-DELIVERED epoch (post-failure replay of a batch whose commit
    * already landed) is recognized from the recorded high-water mark
    * and skipped — files written by the replay are simply never
    * referenced, which is exactly how manifest-based exactly-once
    * works. Append-only: OVERWRITE/complete modes refuse at plan. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(mode == GroupWrite.Append,
      s"streaming writes into $tableKey are append-only (got $mode)")
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      override def createStreamingWriterFactory(info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
        new org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
          private val inner = new GroupWriterFactory(
            lake.dataDir(tableKey), writeSchema, meta.keyCol,
            meta.numGroups, meta.transform, meta.tparam, meta.renames,
            meta.bloomCols, meta.ndvCols, meta.check, gen = meta.gen)
          override def createWriter(partitionId: Int, taskId: Long,
              epochId: Long): DataWriter[InternalRow] =
            inner.createWriter(partitionId, taskId)
        }
      // the replay check and the epoch record stay atomic with the
      // publish: both sit under the (reentrant) commit lock
      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        lake.commitLock.synchronized {
          require(queryId.nonEmpty,
            s"$tableKey: streaming write without a query id")
          if (epochId > lake.lastStreamEpoch(tableKey, queryId)) {
            val added = messages.flatMap(_.asInstanceOf[FilesMessage].files)
              .map(_.entry("base", meta.specId)).toSeq
            val v = lake.commit(tableKey,
              Seq(s"#ep\t$queryId\t$epochId"))((_, head) => head ++ added)
            lake.recordStreamEpoch(tableKey, queryId, epochId, v)
          }
        }
      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit = ()
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.flatMap(_.asInstanceOf[FilesMessage].files)
      .map(_.entry("base", meta.specId)).toSeq
    mode match {
      case GroupWrite.StageBranch(name) =>
        // WAP staging: fold into the branch manifest (stacked audit
        // appends compose); NO table version commits. Fork base is
        // recorded on first stage — publish validates against it.
        lake.commitLock.synchronized {
          val cur = lake.currentVersion(tableKey)
          val (base, existing) =
            if (lake.branchExists(tableKey, name))
              lake.readBranchManifest(tableKey, name)
            else (cur, lake.readManifest(tableKey, cur))
          lake.writeBranchManifest(tableKey, name, base,
            existing ++ added)
        }
        return
      case _ => ()
    }
    // each mode validates against the head RowStore.commit hands it;
    // after a cross-process publish loss it runs again against the new
    // head (ReplaceGroups' per-group signature check and Compact's base
    // check re-fire naturally; a REAL conflict surfaces as
    // ConcurrentModificationException, never a silent clobber)
    lake.commit(tableKey) { (cur, old) =>
      mode match {
        case GroupWrite.StageBranch(_) =>
          sys.error("unreachable: staged above")
        case GroupWrite.Append    => old ++ added
        case GroupWrite.Overwrite => added
        case GroupWrite.ReplaceGroups(op) =>
          // a rewrite commit whose scan was never planned has nothing
          // sound to replace — defaulting to "replace nothing, append
          // the rewrite's files" would duplicate every carried-over
          // row, so fail loudly instead
          require(op.baseVersion.isDefined && op.scannedGroups.isDefined,
            s"$tableKey: row-level operation committing without a " +
              "planned scan — refusing to append rewrite output over " +
              "intact groups")
          val base = op.baseVersion.get
          // replace exactly the (spec, group) pairs the operation's
          // scan read; a group the runtime filter pruned keeps its
          // files verbatim, and after a spec evolution an untouched
          // OLD-spec group is never replaced by a rewrite of the
          // same NUMBER under the active spec
          val replaced = op.scannedGroups.get
          // optimistic concurrency, Iceberg's validate-then-swap: the
          // rewrite was computed against `base`'s snapshot. Appends
          // and rewrites of OTHER groups compose — only a group this
          // commit replaces that CHANGED since its scan is a real
          // conflict (the swap would silently drop that change).
          // Per-group file signatures (incl. table-wide deltas, which
          // affect every group) decide; untouched → rebase onto the
          // current manifest, touched → refuse and let the caller
          // retry against the new snapshot.
          if (base != cur) {
            val baseMan =
              try lake.readManifest(tableKey, base)
              catch { case _: Exception =>
                throw new java.util.ConcurrentModificationException(
                  s"$tableKey: row-level operation read version $base " +
                    "whose manifest is no longer retained — cannot " +
                    "validate the rewrite; retry the statement")
              }
            def sig(man: Seq[RowStore.FileEntry], sg: (Int, Int)) =
              man.filter(e => (e.spec == sg._1 && e.group == sg._2) ||
                (e.kind != "base" && e.group < 0)).toSet
            val conflicting = replaced.filter(sg =>
              sig(baseMan, sg) != sig(old, sg))
            if (conflicting.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"$tableKey: row-level operation read version $base but " +
                  s"(spec, group) pairs ${conflicting.toSeq.sorted
                    .mkString(",")} changed by version $cur — retry " +
                  "the statement")
          }
          // spec-qualified swap: replace exactly the (spec, group)
          // pairs the scan read; the rewrite's own files (in `added`)
          // all carry the ACTIVE spec, so a cross-spec MERGE migrates
          // the groups it touched and leaves the rest in place
          old.filterNot(e => e.kind == "base" &&
            replaced((e.spec, e.group))) ++ added
        case GroupWrite.Compact(base, gs, fileSubset) =>
          if (base != cur)
            throw new java.util.ConcurrentModificationException(
              s"$tableKey: compaction planned at version $base but the " +
                s"table is now at $cur — retry")
          // dropping a compacted group's deltas is only sound when
          // every delta entry is group-tagged (ours always are; an
          // untagged table-wide delta would re-apply onto the freshly
          // resolved base rows)
          require(old.forall(e => e.kind == "base" || e.group >= 0),
            s"$tableKey has untagged delta files — cannot compact")
          fileSubset match {
            case Some(fs) =>
              // BINPACK swap: replace ONLY the named base files;
              // well-sized group-mates keep their entries (and their
              // stats) verbatim. Sound only while the touched groups
              // carry no deltas — a delta replays against rids the
              // subset rewrite would renumber — which the planner
              // guarantees and this re-checks against the head.
              require(!old.exists(e => e.kind != "base" && gs(e.group)),
                s"$tableKey: binpack over delta-bearing groups — " +
                  "run rewrite_data_files first")
              old.filterNot(e => e.kind == "base" &&
                e.spec == meta.specId && fs(e.name)) ++ added
            case None =>
              old.filterNot(e => e.spec == meta.specId && gs(e.group)) ++
                added
          }
      }
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class FileMeta(group: Int, name: String, minK: Option[Long],
    maxK: Option[Long], rows: Option[Long] = None,
    minS: Option[String] = None, maxS: Option[String] = None,
    colsN: Map[String, (Long, Long)] = Map.empty,
    colsS: Map[String, (String, String)] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    ndv: Map[String, (Long, Seq[Long])] = Map.empty) {
  /** The manifest entry recording this file as `kind` under `spec`. */
  def entry(kind: String, spec: Int): RowStore.FileEntry =
    RowStore.FileEntry(kind, group, name, minK, maxK, rows, spec, minS,
      maxS, colsN, colsS, blooms, ndv)
}
/** One task's deletion-vector output against ONE target file (dv
  * mode): the bitmap blob is written EXECUTOR-SIDE and only this
  * fixed-size handle rides the commit message — payload O(touched
  * files), never O(deleted rows). (Through r15 the raw bitmap words
  * rode here and unioned on the driver: bitmap bytes ∝ deleted
  * rows/8 per file, the lake layer's last row-proportional driver
  * flow — r15 verdict item 1.) `card` is the blob's set-bit count. */
case class DvWritten(group: Int, target: String, name: String,
    card: Long)
case class FilesMessage(files: Seq[FileMeta],
    dvs: Seq[DvWritten] = Seq.empty) extends WriterCommitMessage

/** Deletion-vector blob resolution shared by the MOR delete commit
  * and `rewrite_position_deletes`: turns per-task blob HANDLES into
  * final manifest entries while keeping the driver at O(touched
  * files) — a target covered by exactly one new blob and no existing
  * vector adopts that blob verbatim (the common case: one writer per
  * file, first delete); a target needing a union (several tasks split
  * its deletes, or it already carries a vector) merges in ONE
  * distributed pass where EXECUTORS read, union, and write — the
  * driver sees names only. Preserves the at-most-one-vector-per-file
  * invariant by construction: every touched target resolves to
  * exactly one new entry and its replaced predecessor is dropped. */
object DvMerge {
  /** `handles` = (group, target leaf, blob leaf name, popcount)
    * written this commit; `existing` = target leaf → manifest entry
    * of the target's current vector (only touched targets need be
    * present). Returns (new dv entries sorted by (group, target),
    * replaced existing entry names, consumed partial blob leaf names
    * — the merged-away inputs the caller deletes AFTER its publish).
    * Every produced entry carries its vector's POPCOUNT in `rows`, so
    * the `.files`/`.partitions` metadata tables report deleted-row
    * counts from the manifest alone — zero blob opens at plan time. */
  def resolve(dir: String, specId: Int,
      handles: Seq[(Int, String, String, Long)],
      existing: Map[String, RowStore.FileEntry])
      : (Seq[RowStore.FileEntry], Set[String], Seq[String]) = {
    val byTarget = handles.groupBy(h => (h._1, h._2)).toSeq
      .sortBy(_._1._2)
    val (direct, needMerge) = byTarget.partition { case ((_, t), hs) =>
      hs.size == 1 && !existing.contains(t) }
    val directEntries = direct.map { case ((g, t), hs) =>
      RowStore.FileEntry("dv", g, hs.head._3, rows = Some(hs.head._4),
        spec = specId, dvTarget = Some(t)) }
    val tasks = needMerge.map { case ((g, t), hs) =>
      (g, t, hs.map(h => s"$dir/${h._3}") ++
        existing.get(t).map(e => RowStore.entryPath(dir, e.name)).toSeq) }
    val mergedEntries = run(dir, tasks).map { case (g, t, n, card) =>
      RowStore.FileEntry("dv", g, n, rows = Some(card), spec = specId,
        dvTarget = Some(t)) }
    val replaced = needMerge
      .flatMap { case ((_, t), _) => existing.get(t).map(_.name) }.toSet
    val consumed = needMerge.flatMap(_._2).map(_._3)
    ((directEntries ++ mergedEntries)
      .sortBy(e => (e.group, e.dvTarget.get)), replaced, consumed)
  }

  /** The distributed union: one task per target reads the named blobs
    * (absolute paths), unions them, and writes `dv<g>-<uuid>.bin`
    * under `dir` — executor IO ∝ its own target's bitmap, driver
    * traffic O(targets). Returns (group, target, name, popcount). */
  private def run(dir: String, tasks: Seq[(Int, String, Seq[String])])
      : Seq[(Int, String, String, Long)] = {
    if (tasks.isEmpty) return Seq.empty
    SparkSession.active.sparkContext
      .parallelize(tasks, math.min(tasks.size, 32)).map {
        case (g, target, blobs) =>
          var w: Array[Long] = null
          blobs.foreach { p =>
            val (t, ww) = RowStore.Dv.read(p)
            require(t == target,
              s"dv blob $p targets $t, expected $target")
            w = if (w == null) ww else RowStore.Dv.union(w, ww)
          }
          val name = s"dv$g-${UUID.randomUUID()}.bin"
          RowStore.Dv.write(s"$dir/$name", target, w)
          (g, target, name, RowStore.Dv.cardinality(w).toLong)
      }.collect().toSeq
  }

  /** Existing vector per TOUCHED target, keyed by target LEAF name
    * (rid space is leaf-named, and every dv entry's target is a leaf:
    * [[resolve]] writes it so, and clones keep it). */
  def existingVectors(man: Seq[RowStore.FileEntry],
      touched: Set[String]): Map[String, RowStore.FileEntry] =
    man.filter(e => e.kind == "dv" && e.dvTarget.exists(touched))
      .map(e => e.dvTarget.get -> e).toMap
}

/** `matRowIds` (row lineage, rewrite paths only): the writer appends
  * the reserved MATERIALIZED `_rowid` column to every file it writes —
  * carried rows store their lineage id, fresh rows store null (and
  * inherit from the file's committed range). `trailingRowId`
  * additionally interprets a width-plus-one row as DATA + trailing id
  * (the maintenance-rewrite handshake, which cannot ride Spark's
  * metadata projection); exclusive with the op-prefixed ReplaceData
  * layout by construction — compact writes never go through
  * ReplaceData. */
class GroupWriterFactory(dir: String, writeSchema: StructType,
    bucketCol: String, numGroups: Int,
    transform: String = "bucket", tparam: Long = 0L,
    renames: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    ndvCols: Seq[String] = Seq.empty,
    check: String = "",
    matRowIds: Boolean = false,
    trailingRowId: Boolean = false,
    gen: String = "")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fields = writeSchema.fields.toSeq
      // GENERATED columns, compiled executor-side like the CHECK
      // constraint ([[RowGen]]): fills/validates BEFORE the check
      // runs, so a constraint over a generated column sees the
      // computed value
      private val genFill: (InternalRow, Boolean) => InternalRow =
        if (gen.isEmpty) null else RowGen.compile(gen, writeSchema)
      // CHECK constraint, compiled executor-side from the string (the
      // factory ships only `check`); evaluated on the LOGICAL row
      // before externalization, so the error names user-facing values
      private val violation: InternalRow => Boolean =
        if (check.isEmpty) null else RowCheck.compile(check, writeSchema)
      private def enforce(r: InternalRow): Unit =
        if (violation != null && violation(r))
          sys.error(s"CHECK constraint ($check) violated by a written " +
            s"row — the statement is aborted, nothing was committed")
      // struct columns store as FLATTENED leaves (RowNested): every
      // per-column structure below (stats, blooms, sketches, the file
      // schema itself) is indexed by FLAT position and keyed by flat
      // display/storage names — nested leaves get zone maps for free
      private val flatFields = RowNested.flatLeaves(fields)
      // files ALWAYS store a renamed column under its storage name, so
      // pre- and post-rename files stay mutually readable (nested
      // leaves rename by their dotted display path)
      private val fileFields = flatFields.map(f =>
        f.copy(name = renames.getOrElse(f.name, f.name)))
      // rewrite outputs carry the materialized lineage-id column LAST
      // (reserved name — never renamed, never user-visible)
      private val outFields =
        if (matRowIds) fileFields :+ StructField("_rowid", LongType)
        else fileFields
      private val bucketIdx = flatFields.indexWhere(_.name == bucketCol)
      private val writers =
        scala.collection.mutable.Map.empty[Int, (String, RowFiles.FileWriter)]
      // zone-map stats of the bucket column per file: numeric keys
      // track exact [min, max]; string keys track the exact extrema in
      // UTF8 order and commit TRUNCATED bounds ([[RowStore.StrBounds]]
      // — Iceberg's string-stats model). A null key, or a string whose
      // prefix the truncation can't bound soundly, leaves the file
      // statless = never skipped.
      private val stats =
        scala.collection.mutable.Map.empty[Int, (Long, Long)]
      private val sstats =
        scala.collection.mutable.Map.empty[Int, (String, String)]
      private val statless = scala.collection.mutable.Set.empty[Int]
      // PER-COLUMN zone maps (Iceberg's lower/upper bounds for every
      // column): exact extrema of each column's NON-NULL values per
      // (group, column). Numeric slots in `cmins`/`cmaxs` (has-flag in
      // `chas`), string extrema in `csmin`/`csmax` (truncated at
      // commit). NULLs are simply not tracked — no pushed comparison
      // shape accepts NULL, so a file whose non-null range misses the
      // window is skippable regardless of its NULL rows.
      private case class ColStats(cmins: Array[Long], cmaxs: Array[Long],
        chas: Array[Boolean], csmin: Array[String], csmax: Array[String])
      private val colStats =
        scala.collection.mutable.Map.empty[Int, ColStats]
      // opt-in per-column blooms: distinct value hashes per
      // (group, column index), capped — an overflowing (group, col)
      // records NO bloom (a saturated filter skips nothing), which
      // also bounds writer memory at MaxDistinct longs per slot
      private val bloomIdx = bloomCols
        .map(c => flatFields.indexWhere(_.name == c)).filter(_ >= 0)
      private val bloomVals = scala.collection.mutable
        .Map.empty[(Int, Int), scala.collection.mutable.Set[Long]]
      private val bloomOver = scala.collection.mutable.Set.empty[(Int, Int)]
      // opt-in per-column KMV distinct-count sketches: the K smallest
      // distinct hashes per (group, column) — bounded writer state
      // (K longs per slot) at ANY cardinality, unlike the bloom's
      // distinct-set which must cap and drop out
      private val ndvIdx = ndvCols
        .map(c => flatFields.indexWhere(_.name == c)).filter(_ >= 0)
      private val ndvSk = scala.collection.mutable
        .Map.empty[(Int, Int), java.util.TreeSet[java.lang.Long]]
      // per-(group, column) NULL counts ride with the sketch:
      // catalyst's ColumnStat.hasCountStats gates join estimation on
      // BOTH distinctCount and nullCount being known
      private val ndvNulls = scala.collection.mutable
        .Map.empty[(Int, Int), Long]
      private def trackNdv(g: Int, vals: Array[Any]): Unit =
        ndvIdx.foreach { i =>
          if (vals(i) == null)
            ndvNulls((g, i)) = ndvNulls.getOrElse((g, i), 0L) + 1L
          else RowStore.Bloom.hashOf(vals(i)).foreach(h =>
            RowStore.Kmv.add(ndvSk.getOrElseUpdate((g, i),
              RowStore.Kmv.newSet()), h))
        }
      private def trackBlooms(g: Int, vals: Array[Any]): Unit =
        bloomIdx.foreach { i =>
          if (!bloomOver((g, i))) RowStore.Bloom.hashOf(vals(i)).foreach { h =>
            val set = bloomVals.getOrElseUpdate((g, i),
              scala.collection.mutable.Set.empty[Long])
            set += h
            if (set.size > RowStore.Bloom.MaxDistinct) {
              bloomOver += ((g, i)); bloomVals.remove((g, i)); ()
            }
          }
        }

      private def trackStats(g: Int, v: Any): Unit = v match {
        case l: java.lang.Long =>
          val k = l.longValue
          stats.get(g) match {
            case Some((mn, mx)) =>
              stats(g) = (math.min(mn, k), math.max(mx, k))
            case None => stats(g) = (k, k)
          }
        case i: java.lang.Integer => trackStats(g, Long.box(i.longValue))
        case s: String =>
          import RowStore.StrBounds.cmp
          sstats.get(g) match {
            case Some((mn, mx)) => sstats(g) = (
              if (cmp(s, mn) < 0) s else mn, if (cmp(s, mx) > 0) s else mx)
            case None => sstats(g) = (s, s)
          }
        case _ => statless += g; ()
      }

      private def trackColStats(g: Int, vals: Array[Any]): Unit = {
        import RowStore.StrBounds.cmp
        val cs = colStats.getOrElseUpdate(g, ColStats(
          new Array[Long](flatFields.length), new Array[Long](flatFields.length),
          new Array[Boolean](flatFields.length),
          new Array[String](flatFields.length), new Array[String](flatFields.length)))
        var i = 0
        while (i < vals.length) {
          vals(i) match {
            case null => ()
            case l: java.lang.Long =>
              val k = l.longValue
              if (!cs.chas(i)) { cs.cmins(i) = k; cs.cmaxs(i) = k; cs.chas(i) = true }
              else {
                if (k < cs.cmins(i)) cs.cmins(i) = k
                if (k > cs.cmaxs(i)) cs.cmaxs(i) = k
              }
            case n: java.lang.Integer =>
              val k = n.longValue
              if (!cs.chas(i)) { cs.cmins(i) = k; cs.cmaxs(i) = k; cs.chas(i) = true }
              else {
                if (k < cs.cmins(i)) cs.cmins(i) = k
                if (k > cs.cmaxs(i)) cs.cmaxs(i) = k
              }
            case s: String =>
              if (cs.csmin(i) == null) { cs.csmin(i) = s; cs.csmax(i) = s }
              else {
                if (cmp(s, cs.csmin(i)) < 0) cs.csmin(i) = s
                if (cmp(s, cs.csmax(i)) > 0) cs.csmax(i) = s
              }
            case _ => ()
          }
          i += 1
        }
      }

      // shared flat externalizer, compiled once per writer (canonical
      // long forms for zone maps and blooms; structs flatten to
      // marker + leaves)
      private val externalize: InternalRow => Array[Any] =
        RowNested.externalizer(fields)

      // group-route, track stats, and write one externalized row;
      // `stamp` is the row's carried lineage id (rewrite paths only —
      // null = fresh row, inherits from the file's committed range).
      // Stats/blooms/sketches see the DATA values only: the id column
      // is addressing, not data.
      private def emit(vals: Array[Any], stamp: java.lang.Long): Unit = {
        val g =
          if (bucketIdx < 0) 0
          else RowStore.partValueOf(transform, tparam, numGroups,
            vals(bucketIdx))
        val (_, w) = writers.getOrElseUpdate(g, {
          val name = s"g$g-${UUID.randomUUID()}.parquet"
          (name, new RowFiles.FileWriter(s"$dir/$name", outFields))
        })
        if (bucketIdx >= 0) trackStats(g, vals(bucketIdx)) else statless += g
        trackColStats(g, vals)
        trackBlooms(g, vals)
        trackNdv(g, vals)
        w.write(if (matRowIds) vals :+ (stamp: Any) else vals)
      }

      override def write(row: InternalRow): Unit = {
        // Defense for the no-metadata ReplaceData layout (op-code int
        // prefixed): with requiredMetadataAttributes declared Spark's
        // DataAndMetadataWritingSparkTask strips it before us, so an
        // unexpected width fails LOUDLY rather than corrupting rows.
        if (row.numFields == fields.length) {
          // exact-width one-arg rows are USER data (plain INSERT,
          // streaming, a MERGE's not-matched inserts) → strict fill
          val r = if (genFill == null) row else genFill(row, true)
          enforce(r); emit(externalize(r), null)
        } else if (row.numFields == fields.length + 1 && trailingRowId) {
          // maintenance-rewrite carry: DATA columns + trailing lineage
          // id (the `t.rewrite` write surface — never op-prefixed).
          // The fill reads only the schema-width prefix; the stamp
          // comes off the ORIGINAL wide row.
          val r = if (genFill == null) row else genFill(row, false)
          enforce(r)
          val stamp: java.lang.Long =
            if (row.isNullAt(fields.length)) null
            else Long.box(row.getLong(fields.length))
          emit(externalize(r), stamp)
        } else if (row.numFields == fields.length + 1) {
          val opc = row.getInt(0)
          require(opc == RowDeltaUtils.WRITE_OPERATION ||
            opc == RowDeltaUtils.DELETE_OPERATION ||
            opc == RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
            s"unexpected op code $opc in op-prefixed write row")
          if (opc == RowDeltaUtils.DELETE_OPERATION) return
          val logical0 = new OffsetRow(row, 1)
          val logical =
            if (genFill == null) logical0 else genFill(logical0, false)
          enforce(logical); emit(externalize(logical), null)
        } else sys.error(s"write row has ${row.numFields} fields, " +
          s"schema has ${fields.length}")
      }

      // metadata-carrying form (WRITE_WITH_METADATA rows): the source
      // group rides `metadata`, but this writer re-buckets by content,
      // so the group slot is advisory only. The SECOND metadata slot —
      // `_row_id`, declared only by rowids tables' row-level ops — is
      // the carried lineage id the rewrite materializes.
      // two-arg rows are the engine's own (carried/updated rows of
      // the COW swap) → recompute, never refuse: the incoming value
      // is the PRE-statement one when an UPDATE changed a source
      override def write(metadata: InternalRow, record: InternalRow): Unit = {
        val r = if (genFill == null) record else genFill(record, false)
        enforce(r)
        val stamp: java.lang.Long =
          if (matRowIds && metadata.numFields > 1 && !metadata.isNullAt(1))
            Long.box(metadata.getLong(1))
          else null
        emit(externalize(r), stamp)
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_._2.close())
        FilesMessage(writers.map { case (g, (n, w)) =>
          val st = if (statless(g)) None else stats.get(g)
          val sst = if (statless(g)) None
            else sstats.get(g).flatMap { case (mn, mx) =>
              RowStore.StrBounds.truncated(mn, mx) }
          // per-column bounds keyed by STORAGE name (`fileFields` —
          // what the scan translates pushed display names to); an
          // unsoundly-truncatable string column just drops its entry
          val (cn, cs) = colStats.get(g).map { c =>
            val nums = flatFields.indices.collect {
              case i if c.chas(i) =>
                fileFields(i).name -> (c.cmins(i), c.cmaxs(i)) }.toMap
            val strs = flatFields.indices.flatMap { i =>
              Option(c.csmin(i)).flatMap(mn =>
                RowStore.StrBounds.truncated(mn, c.csmax(i)))
                .map(fileFields(i).name -> _) }.toMap
            (nums, strs)
          }.getOrElse((Map.empty[String, (Long, Long)],
            Map.empty[String, (String, String)]))
          // blooms keyed by STORAGE name like the other per-column
          // stats; sized to this file's distinct count
          val bl = bloomIdx.flatMap { i =>
            bloomVals.get((g, i)).filter(_.nonEmpty).map { hs =>
              val m = RowStore.Bloom.sizedBits(hs.size)
              fileFields(i).name ->
                RowStore.Bloom.enc(m, RowStore.Bloom.build(hs, m))
            }
          }.toMap
          // ndv sketches keyed by STORAGE name like every other
          // per-column stat. ALWAYS emitted for a tracked column —
          // an all-NULL file records (nulls, empty sketch), which is
          // a VALID exact observation (0 distinct non-null values);
          // omitting it would make the plan-time fold refuse NDV for
          // the whole table over one legitimate file
          val nd = ndvIdx.map { i =>
            fileFields(i).name -> ((ndvNulls.getOrElse((g, i), 0L),
              ndvSk.get((g, i)).map(RowStore.Kmv.toSeq)
                .getOrElse(Seq.empty[Long])))
          }.toMap
          FileMeta(g, n, st.map(_._1), st.map(_._2), Some(w.rows.toLong),
            sst.map(_._1), sst.map(_._2), cn, cs, bl, nd)
        }.toSeq)
      }
      override def abort(): Unit = writers.values.foreach(_._2.close())
      override def close(): Unit = ()
    }
}

/** Merge-on-read row-level operation ([[SupportsDelta]]): the engine
  * hands per-row insert/update/delete calls keyed by `_rid`; one delta
  * parquet file per writer task records them, the manifest appends it,
  * and NO base file is rewritten (pinned in RowCatalogSpec). */
class DeltaRowLevelOp(lake: RowStore, tableKey: String, meta: RowStore.Meta,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {
  /** OCC base, as in [[GroupRowLevelOp]]: delta records reference
    * `_rid`s of this snapshot — replaying them over a different one
    * could hit relocated/compacted rows. */
  @volatile private[sources] var baseVersion: Option[Int] = None

  override def command(): RowLevelOperation.Command = cmd
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_rid"))
  /** rowids tables additionally declare `_row_id`: the delta writer
    * stamps an UPDATE record with its target row's lineage id, so the
    * id survives even when the target file stores MATERIALIZED ids
    * (a rewrite output) that position inheritance could not recover
    * after the update replaced the row's data. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (meta.rowids)
      Array(Expressions.column("_group"), Expressions.column("_row_id"))
    else Array(Expressions.column("_group"))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = lake.currentVersion(tableKey)
    baseVersion = Some(v)
    new GroupScanBuilder(lake, tableKey, meta, v, None)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new RowDeltaWrite(lake, tableKey, meta, info.schema(), Some(this))
}

class RowDeltaWrite(lake: RowStore, tableKey: String, meta: RowStore.Meta,
    rowSchema: StructType, op: Option[DeltaRowLevelOp] = None)
    extends DeltaWriteBuilder with DeltaWrite
    with DeltaBatchWrite {
  override def build(): DeltaWrite = this
  override def toBatch: DeltaBatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new RowDeltaWriterFactory(lake.dataDir(tableKey), rowSchema,
      meta.keyCol, meta.numGroups, meta.dv, meta.check, meta.rowids,
      meta.gen)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[FilesMessage])
    // test seam: DeletionVectorSpec pins that the serialized message
    // payload is O(touched files), not O(deleted rows)
    if (lake.commitBytesProbe != null)
      lake.commitBytesProbe(RowStore.serializedSize(messages))
    // rowids tables record each delta file's RECORD count (`rows`),
    // so row-lineage assignment can reserve the file's id range —
    // insert records inherit firstRowId + record index. Other tables
    // keep rows=None, the shape every metadata consumer expects.
    val added = msgs.flatMap(_.files).map(_.entry("delta", meta.specId)).toSeq
    // DV MODE: the bitmap blobs were written EXECUTOR-SIDE (one per
    // (task, target)); this commit only RESOLVES their handles — the
    // Delta/Iceberg-v3 invariant: AT MOST ONE deletion vector per
    // data file, however many delete commits touched it, so replay
    // cost tracks touched-file count, never deleted-row count. Sound
    // because rid-deletes are terminal (see [[RowStore.Dv]]):
    // carrying merged earlier deletions at this commit's manifest
    // position cannot change any snapshot's resolution. The common
    // case (one writer per target, first delete) adopts the task's
    // blob verbatim; a target needing a union merges in one
    // distributed pass ([[DvMerge]]) — the driver handles names and
    // popcounts only, never bitmap words.
    val handles: Seq[(Int, String, String, Long)] = msgs.flatMap(_.dvs)
      .map(d => (d.group, d.target, d.name, d.card)).toSeq
    val dir = lake.dataDir(tableKey)
    // existing vector per TOUCHED target only: the target rides the
    // manifest entry (`dvTarget`), so commit IO is proportional to
    // this commit's touched files — never to the table's total
    // vector count (the economics the feature exists for)
    def resolveAt(man: Seq[RowStore.FileEntry])
        : (Seq[RowStore.FileEntry], Set[String], Seq[String]) = {
      val existing =
        if (handles.isEmpty) Map.empty[String, RowStore.FileEntry]
        else DvMerge.existingVectors(man, handles.map(_._2).toSet)
      DvMerge.resolve(dir, meta.specId, handles, existing)
    }
    // resolve OUTSIDE the commit lock: DvMerge's union pass is a
    // (small) distributed job, and running it under the process-wide
    // lock would stall every other table's commit for its duration.
    // The commit re-validates the head and re-resolves in the rare
    // case it moved (the first pass's merged blobs then become
    // unreferenced orphans — swept, never dangling).
    val preCur = lake.currentVersion(tableKey)
    val preResolved = resolveAt(lake.readManifest(tableKey, preCur))
    var consumed = Seq.empty[String]
    lake.commit(tableKey) { (cur, man) =>
      op.flatMap(_.baseVersion).filter(_ != cur).foreach { v =>
        throw new java.util.ConcurrentModificationException(
          s"$tableKey: delta operation read version $v but the table " +
            s"is now at $cur — its _rids may no longer resolve; retry")
      }
      val (dvAdded, replacedDv, merged) =
        if (cur == preCur) preResolved else resolveAt(man)
      consumed = merged
      man.filterNot(e => e.kind == "dv" && replacedDv(e.name)) ++
        added ++ dvAdded
    }
    // merged-away partial blobs were never referenced by any manifest
    // — reclaim them now that the publish landed (a failed commit
    // leaves them as orphans, never dangling refs)
    consumed.foreach { n =>
      Files.deleteIfExists(Paths.get(dir, n)); ()
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class RowDeltaWriterFactory(dir: String, rowSchema: StructType,
    bucketCol: String, numGroups: Int,
    dvMode: Boolean = false, check: String = "",
    rowids: Boolean = false, gen: String = "")
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val fields = rowSchema.fields.toSeq
      // GENERATED columns on the MOR record path: update postimages
      // and inserts fill/validate like the COW writer
      private val genFill: (InternalRow, Boolean) => InternalRow =
        if (gen.isEmpty) null else RowGen.compile(gen, rowSchema)
      // CHECK constraint on the MOR record path: update postimages and
      // inserts are validated; deletes carry no data to check
      private val violation: InternalRow => Boolean =
        if (check.isEmpty) null else RowCheck.compile(check, rowSchema)
      private def enforce(r: InternalRow): Unit =
        if (violation != null && violation(r))
          sys.error(s"CHECK constraint ($check) violated by a written " +
            s"row — the statement is aborted, nothing was committed")
      // delta records carry the FLATTENED leaf layout like base files
      // (RowNested) — the reader's projection machinery is shared
      private val flatFields = RowNested.flatLeaves(fields)
      private val bucketIdx = flatFields.indexWhere(_.name == bucketCol)
      // rowids tables carry the lineage-id stamp as a trailing record
      // column: UPDATE records store their target's id (reads prefer
      // it over position inheritance), insert/delete records null-pad
      private val fileSchema = RowResolve.DeltaMetaFields ++ flatFields ++
        (if (rowids) Seq(StructField("_rowid", LongType)) else Seq.empty)
      // one delta file per (task, touched group): group-tagged in the
      // manifest, so reads replay only the deltas that can affect the
      // group they're resolving
      private val writers =
        scala.collection.mutable.Map.empty[Int, (String, RowFiles.FileWriter)]
      // dv mode: deletes accumulate as per-target position bitmaps
      // instead of positional records — updates/inserts keep the
      // record path (Delta's split: DVs carry deletes only)
      private val dvBits = scala.collection.mutable
        .Map.empty[(Int, String), scala.collection.mutable.BitSet]
      private def writer(g: Int): RowFiles.FileWriter =
        writers.getOrElseUpdate(g, {
          val name = s"d$g-${UUID.randomUUID()}.parquet"
          (name, new RowFiles.FileWriter(s"$dir/$name", fileSchema))
        })._2

      private val dataVals: InternalRow => Array[Any] =
        RowNested.externalizer(fields)

      private def rec(op: Int, rid: String, grp: Int, row: InternalRow,
          stamp: java.lang.Long = null): Unit =
        writer(grp).write(
          Array[Any](Int.box(op), rid, Int.box(grp)) ++ dataVals(row) ++
            (if (rowids) Seq[Any](stamp) else Seq.empty))

      /** metadata = [_group] (the row's RESIDENT group — where the rid
        * lives, not where the new values would hash; MOR never
        * relocates rows, compaction does). id = [_rid]. */
      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        val rid = id.getUTF8String(0).toString
        if (dvMode) {
          // rid = "<file leaf>#<pos>": fold the position into the
          // target's bitmap; any file kind's rids qualify (a delta
          // insert's rid deletes the same way a base rid does)
          val cut = rid.lastIndexOf('#')
          require(cut > 0, s"malformed row id '$rid'")
          val set = dvBits.getOrElseUpdate(
            (metadata.getInt(0), rid.substring(0, cut)),
            scala.collection.mutable.BitSet.empty)
          set += rid.substring(cut + 1).toInt
          ()
        } else rec(RowResolve.DeleteOp, rid, metadata.getInt(0), null)
      }
      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        // update postimages recompute (non-strict): the generated
        // slot carries the PRE-update value when a source changed
        val r = if (genFill == null) row else genFill(row, false)
        enforce(r)
        // second metadata slot = the target row's lineage id (rowids
        // tables declare [_group, _row_id]) — stamped into the record
        val stamp: java.lang.Long =
          if (rowids && metadata.numFields > 1 && !metadata.isNullAt(1))
            Long.box(metadata.getLong(1))
          else null
        rec(RowResolve.UpdateOp, id.getUTF8String(0).toString,
          metadata.getInt(0), r, stamp)
      }
      override def insert(row: InternalRow): Unit = {
        val r = if (genFill == null) row else genFill(row, true)
        enforce(r)
        val vals = dataVals(r)
        val g = if (bucketIdx < 0) 0
          else RowStore.groupOf(vals(bucketIdx), numGroups)
        writer(g).write(Array[Any](Int.box(RowResolve.InsertOp), null,
          Int.box(g)) ++ vals ++
          (if (rowids) Seq[Any](null) else Seq.empty))
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_._2.close())
        FilesMessage(writers.map { case (g, (n, w)) =>
          FileMeta(g, n, None, None,
            if (rowids) Some(w.rows.toLong) else None) }.toSeq,
          // the blob is written HERE, executor-side — the message
          // carries only its (group, target, name, popcount) handle,
          // so driver commit traffic is O(touched files) however many
          // rows this task deleted. An adopted blob becomes the
          // target's vector verbatim; a racing duplicate from a task
          // retry is simply never referenced (orphan-swept), the same
          // contract as data files.
          dvBits.map { case ((g, target), bits) =>
            val name = s"dv$g-${UUID.randomUUID()}.bin"
            RowStore.Dv.write(s"$dir/$name", target, bits.toBitMask)
            DvWritten(g, target, name, bits.size.toLong) }.toSeq)
      }
      override def abort(): Unit = writers.values.foreach(_._2.close())
      override def close(): Unit = ()
    }
}
