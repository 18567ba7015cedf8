package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

class GroupScanBuilder(lake: RowStore, tableKey: String, meta: RowStore.Meta, version: Int,
    op: Option[GroupRowLevelOp], staticGroups: Option[Set[Int]] = None,
    streamFrom: Int = 0, branch: Option[String] = None,
    staticFiles: Option[Set[String]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.{EqualTo => SEq, Filter => SFilter, GreaterThan => SGt, GreaterThanOrEqual => SGe, In => SIn, LessThan => SLt, LessThanOrEqual => SLe}

  // ── COUNT(*)/MIN(key)/MAX(key) from manifest metadata (Iceberg's
  // snapshot-summary answer): every base file records its exact row
  // count and the key column's [min, max] at commit, so an unfiltered
  // count — and, for a LONG key column, the key's global extrema —
  // of a CLEAN snapshot is a plan-time fold over the manifest: zero
  // files opened. Engages ONLY when provably exact: no delta files at
  // this version (deltas add/remove/move rows at read time), no
  // static group restriction (the compact handshake), no row-level
  // operation scan, no branch read, single partition spec (a retired
  // spec's stats were computed on ITS key column), and every entry
  // carries the needed stat (a legacy/statless entry refuses). Any
  // WHERE leaves residual filters, which blocks aggregate pushdown in
  // Spark's own rule — so a filtered aggregate never reaches this
  // path.
  private var aggPushed = false
  private var pushedValues: Seq[(Long, DataType)] = Seq.empty

  // one manifest read per scan build: the (tableKey, version) manifest
  // is immutable, and supportCompletePushDown/pushAggregation/build
  // would otherwise each re-read it
  private lazy val manifestEntries: Seq[RowStore.FileEntry] =
    lake.readManifest(tableKey, version)

  private lazy val manifestCount: Option[Long] =
    RowStore.exactRowCount(manifestEntries)

  /** Key extrema from per-file zone maps — defined only when every
    * base file carries stats on the ACTIVE spec's (LONG) key column
    * and the fold is over at least one file (the empty case must
    * return SQL NULL, which declining the pushdown handles for us). */
  private lazy val manifestMinMax: Option[(Long, Long)] = {
    val es = manifestEntries
    val base = es.filter(_.kind == "base")
    val keyIsLong =
      meta.schema.fields.find(_.name == meta.keyCol).exists(_.dataType == LongType)
    if (es.exists(_.kind != "base") || base.isEmpty || !keyIsLong ||
      base.exists(e => e.minK.isEmpty || e.spec != meta.specId)) None
    else Some((base.flatMap(_.minK).min, base.flatMap(_.maxK).max))
  }

  private def keyColRef(
      e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames().sameElements(Array(meta.keyCol))
      case _ => false
    }

  private def namedCol(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }

  /** ANY-column extrema from the per-column zone maps (`colsN` —
    * Iceberg's lower/upper bounds for every column), the non-key
    * extension of [[manifestMinMax]]: defined for LONG and TIMESTAMP
    * columns of a clean snapshot where EVERY base file carries bounds
    * for the column's storage name. A statless, legacy, or pre-ADD
    * file refuses; so does an all-NULL file (it records no bounds) —
    * which is also why the refusal is REQUIRED for correctness there:
    * SQL MIN/MAX ignores NULLs, but a file of only NULLs contributes
    * no extrema, and "no entry" is indistinguishable from "not
    * tracked". Unlike the key-slot stats, `colsN` means the same
    * thing under every partition spec (bounds are a property of the
    * column's data, not of the layout), so mixed-spec snapshots
    * qualify. Returns the folded (min, max) with the column's output
    * type (timestamps fold as their internal micros). */
  private def colMinMax(colName: String): Option[((Long, Long), DataType)] = {
    val dt = meta.schema.fields.find(_.name == colName).map(_.dataType)
    val eligible = dt.exists {
      case LongType | TimestampType |
        org.apache.spark.sql.types.DateType => true
      // decimal bounds are the unscaled long at the declared scale —
      // exact, and the emit path rebuilds the Decimal (≤18 digits)
      case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
      case _ => false
    }
    if (!eligible) None
    else {
      val es = manifestEntries
      val base = es.filter(_.kind == "base")
      val storage = meta.storageOf(colName)
      if (es.exists(_.kind != "base") || base.isEmpty ||
        base.exists(e => !e.colsN.contains(storage))) None
      else {
        val bs = base.map(_.colsN(storage))
        Some(((bs.map(_._1).min, bs.map(_._2).max), dt.get))
      }
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushAggregationCheck(agg)

  private def pushAggregationCheck(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    op.isEmpty && staticGroups.isEmpty && branch.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      // nonEmpty matters: a count-over-count query collapses to an
      // EMPTY aggregation (0 output columns, 1 row) that a vacuous
      // forall would accept and then answer with the wrong arity
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => manifestCount.isDefined
        case m: Min => (keyColRef(m.column) && manifestMinMax.isDefined) ||
          namedCol(m.column).exists(colMinMax(_).isDefined)
        case m: Max => (keyColRef(m.column) && manifestMinMax.isDefined) ||
          namedCol(m.column).exists(colMinMax(_).isDefined)
        case _ => false
      }
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    aggPushed = pushAggregationCheck(agg)
    if (aggPushed) pushedValues = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => (manifestCount.get, LongType: DataType)
      case m: Min if keyColRef(m.column) && manifestMinMax.isDefined =>
        (manifestMinMax.get._1, LongType: DataType)
      case m: Max if keyColRef(m.column) && manifestMinMax.isDefined =>
        (manifestMinMax.get._2, LongType: DataType)
      case m: Min =>
        val ((lo, _), dt) = colMinMax(namedCol(m.column).get).get
        (lo, dt)
      case m: Max =>
        val ((_, hi), dt) = colMinMax(namedCol(m.column).get).get
        (hi, dt)
      case other => sys.error(s"unreachable pushed agg $other")
    }
    aggPushed
  }

  // default = full data schema; Spark prunes to referenced data +
  // metadata columns (so the parquet reads project, and a COUNT(*)
  // scan reads only footers)
  private var required: StructType = meta.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** FILE SKIPPING (zone maps): range predicates narrow a per-column
    * [lo, hi] window the scan checks against each base file's manifest
    * stats — the KEY column's window additionally drives partition
    * pruning for the monotonic transforms; every other column prunes
    * via the per-column bounds ([[RowStore.FileEntry.colsN]]/`colsS`,
    * Iceberg's every-column lower/upper bounds). CONSERVATIVE on every
    * axis: all filters come back as residuals (Spark re-evaluates them
    * — a skipping bug can cost performance, never correctness),
    * non-numeric and unrecognized shapes are ignored, and the scan
    * only ever skips clean groups on plain reads (see
    * planInputPartitions). */
  private var keyLo = Long.MinValue
  private var keyHi = Long.MaxValue
  // string-key window (both sides INCLUSIVE — strict string bounds
  // have no clean ±1, so Gt/Lt widen to Ge/Le: a sound over-scan)
  private var strLo: Option[String] = None
  private var strHi: Option[String] = None
  // per-COLUMN windows, keyed by STORAGE name (what the manifest's
  // per-column bounds are recorded under — stable across RENAME)
  private val colWinN =
    scala.collection.mutable.Map.empty[String, (Long, Long)]
  private val colWinS =
    scala.collection.mutable.Map.empty[String, (Option[String], Option[String])]
  // EQUALITY constraints for bloom probing, storage-name-keyed: each
  // pushed Eq/In contributes one constraint a file must satisfy (for
  // In, matching ANY listed hash suffices); files without a bloom for
  // the column are never skipped by it
  private val colEqCons =
    scala.collection.mutable.Buffer.empty[(String, Seq[Long])]
  private var accepted: Array[SFilter] = Array.empty

  private def narrow(lo: Long, hi: Long): Unit = {
    keyLo = math.max(keyLo, lo); keyHi = math.min(keyHi, hi)
  }
  private def narrowS(lo: Option[String], hi: Option[String]): Unit = {
    import RowStore.StrBounds.cmp
    lo.foreach(l => strLo = Some(strLo.filter(cmp(_, l) > 0).getOrElse(l)))
    hi.foreach(h => strHi = Some(strHi.filter(cmp(_, h) < 0).getOrElse(h)))
  }
  private def narrowCol(c: String, lo: Long, hi: Long): Unit = {
    val (l0, h0) = colWinN.getOrElse(c, (Long.MinValue, Long.MaxValue))
    colWinN(c) = (math.max(l0, lo), math.min(h0, hi))
  }
  private def narrowColS(c: String, lo: Option[String],
      hi: Option[String]): Unit = {
    import RowStore.StrBounds.cmp
    val (l0, h0) = colWinS.getOrElse(c,
      (None, None): (Option[String], Option[String]))
    val nl = lo.map(l => l0.filter(cmp(_, l) > 0).getOrElse(l)).orElse(l0)
    val nh = hi.map(h => h0.filter(cmp(_, h) < 0).getOrElse(h)).orElse(h0)
    colWinS(c) = (nl, nh)
  }
  /** Filterable columns by FLATTENED display name — nested leaves
    * ("props.k") participate in pushdown, zone maps, and blooms like
    * any top-level column (Spark's DSv2 V1-filter translation pushes
    * nested predicates with dot-joined names; declared names never
    * contain dots, so the path reading is unambiguous). Struct
    * presence markers ride along harmlessly: no comparison filter is
    * ever pushed against a struct itself. */
  private lazy val flatByName: Map[String, org.apache.spark.sql.types.StructField] =
    RowNested.flatLeaves(meta.schema.fields.toSeq)
      .map(f => f.name -> f).toMap

  /** Pushed-filter literal → the key's internal long form. TIMESTAMP
    * literals arrive as java.sql/java.time values (by the session's
    * java8API setting), never as raw micros — converting them is what
    * makes day-range predicates on a `days(ts)` table prune files and
    * groups at all. */
  private def num(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  /** Pushed STRING literal (string-keyed tables' zone-map window). */
  private def str(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  /** Column-aware literal canonicalization: DATE literals (java.sql /
    * java.time, per the session's java8API setting) fold to their
    * epoch-day long, DECIMAL literals to the unscaled long AT THE
    * COLUMN'S DECLARED SCALE — the identical canonical forms the
    * writer's zone maps and blooms recorded, which is what lets point
    * lookups on decimal-cents and date columns skip files. A literal
    * whose scale can't be matched exactly (or overflows long) simply
    * declines — no pruning, never a wrong prune. */
  private def litLong(c: String, v: Any): Option[Long] =
    // the COLUMN's declared type decides the canonical form FIRST: a
    // raw Integer/Long literal against a DATE/DECIMAL column must
    // DECLINE (not be taken verbatim as epoch-day/unscaled — a wrong
    // canonical form would prune the wrong files), and only the
    // plain long-shaped types fall through to the generic matcher
    flatByName.get(c).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.DateType) => v match {
        case d: java.sql.Date => Some(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaDate(d).toLong)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => None
      }
      case Some(d: org.apache.spark.sql.types.DecimalType) => v match {
        case b: java.math.BigDecimal =>
          try Some(b.setScale(d.scale).unscaledValue().longValueExact())
          catch { case _: ArithmeticException => None }
        case b: BigDecimal =>
          try Some(b.underlying().setScale(d.scale)
            .unscaledValue().longValueExact())
          catch { case _: ArithmeticException => None }
        case x: org.apache.spark.sql.types.Decimal =>
          try Some(x.toJavaBigDecimal.setScale(d.scale)
            .unscaledValue().longValueExact())
          catch { case _: ArithmeticException => None }
        case _ => None
      }
      case _ => num(v)
    }

  override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
    val k = meta.keyCol
    // a filter on ANY schema column narrows that column's window
    // (storage-name-keyed); the KEY column's window additionally
    // narrows the legacy key range (partition pruning, retro skipping
    // of pre-per-column-stats manifests)
    def known(n: String): Option[String] =
      flatByName.get(n).map(_ => meta.storageOf(n))
    def handleN(n: String, lo: Long, hi: Long): Boolean =
      known(n).exists { st =>
        narrowCol(st, lo, hi); if (n == k) narrow(lo, hi); true }
    def handleS(n: String, lo: Option[String], hi: Option[String]): Boolean =
      known(n).exists { st =>
        narrowColS(st, lo, hi); if (n == k) narrowS(lo, hi); true }
    // a pushed literal's bloom hash — the same externalized form the
    // writer hashed (timestamps via micros, dates via epoch days,
    // decimals via the unscaled long — all through the mix(long) path)
    def bloomH(c: String, v: Any): Option[Long] =
      litLong(c, v).flatMap(x => RowStore.Bloom.hashOf(Long.box(x)))
        .orElse(str(v).flatMap(RowStore.Bloom.hashOf))
    def eqCons(n: String, hs: Seq[Long]): Unit =
      known(n).foreach(st => colEqCons += ((st, hs)))
    accepted = filters.filter {
      case SEq(c, v) =>
        val ok = litLong(c, v).exists(x => handleN(c, x, x)) ||
          str(v).exists(x => handleS(c, Some(x), Some(x)))
        if (ok) bloomH(c, v).foreach(h => eqCons(c, Seq(h)))
        ok
      case SGt(c, v) =>
        litLong(c, v).exists(x => handleN(c, x + 1, Long.MaxValue)) ||
        str(v).exists(x => handleS(c, Some(x), None))
      case SGe(c, v) =>
        litLong(c, v).exists(x => handleN(c, x, Long.MaxValue)) ||
        str(v).exists(x => handleS(c, Some(x), None))
      case SLt(c, v) =>
        litLong(c, v).exists(x => handleN(c, Long.MinValue, x - 1)) ||
        str(v).exists(x => handleS(c, None, Some(x)))
      case SLe(c, v) =>
        litLong(c, v).exists(x => handleN(c, Long.MinValue, x)) ||
        str(v).exists(x => handleS(c, None, Some(x)))
      case SIn(c, vs) if vs.nonEmpty && vs.forall(litLong(c, _).isDefined) =>
        val xs = vs.flatMap(litLong(c, _))
        val ok = handleN(c, xs.min, xs.max)
        if (ok) eqCons(c, xs.toSeq.flatMap(x =>
          RowStore.Bloom.hashOf(Long.box(x))))
        ok
      case SIn(c, vs) if vs.nonEmpty && vs.forall(str(_).isDefined) =>
        import RowStore.StrBounds.cmp
        val xs = vs.flatMap(str)
        val ok = handleS(c,
          Some(xs.reduce((a, b) => if (cmp(a, b) <= 0) a else b)),
          Some(xs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)))
        if (ok) eqCons(c, xs.toSeq.flatMap(RowStore.Bloom.hashOf))
        ok
      case _ => false
    }
    filters // everything is residual
  }
  override def pushedFilters(): Array[SFilter] = accepted

  override def build(): Scan =
    if (aggPushed) new ManifestAggScan(pushedValues)
    else new GroupScan(lake, tableKey, meta, version,
    required, op, staticGroups,
    if (keyLo == Long.MinValue && keyHi == Long.MaxValue) None
    else Some((keyLo, keyHi)), streamFrom, branch, (strLo, strHi),
    colWinN.toMap, colWinS.toMap, colEqCons.toSeq, staticFiles)
}

/** Manifest-planned scan: one partition per surviving group, carrying
  * that group's base files (+ the table's delta files for MOR). With a
  * row-level operation attached it implements runtime group filtering:
  * Spark evaluates the DML condition first and hands back
  * `In(_group, …)`, and only those groups are planned — and therefore
  * only those groups are rewritten. */
class GroupScan(lake: RowStore, tableKey: String, meta: RowStore.Meta, version: Int,
    required: StructType, op: Option[GroupRowLevelOp],
    staticGroups: Option[Set[Int]] = None,
    keyRange: Option[(Long, Long)] = None,
    streamFrom: Int = 0, branch: Option[String] = None,
    strRange: (Option[String], Option[String]) = (None, None),
    colWinN: Map[String, (Long, Long)] = Map.empty,
    colWinS: Map[String, (Option[String], Option[String])] = Map.empty,
    colEq: Seq[(String, Seq[Long])] = Seq.empty,
    staticFiles: Option[Set[String]] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The (tableKey, version) manifest is immutable, and Spark calls
    * outputPartitioning/estimateStatistics/planInputPartitions
    * repeatedly per scan while planning a multi-join query — read and
    * parse it once per scan instance. */
  private lazy val versionEntries: Seq[RowStore.FileEntry] =
    lake.readManifest(tableKey, version)

  /** STORAGE-PARTITIONED JOIN eligibility: a plain read of a clean
    * single-spec bucket table reports KeyGroupedPartitioning over the
    * SAME `bucket(n, key)` V2 function the writers cluster by — so two
    * co-bucketed catalog tables JOIN WITH ZERO SHUFFLE under
    * `spark.sql.sources.v2.bucketing.enabled` (SPARK-37375, Iceberg's
    * SPJ). Guarded to exactly the cases where one partition == one
    * bucket: no row-level op scan, no compact restriction, no branch,
    * bucket transform, and every file on the active spec (after an
    * evolution two partitions can share a group NUMBER — not a valid
    * key grouping). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val singleSpecBucket = meta.transform == "bucket" &&
      op.isEmpty && staticGroups.isEmpty && branch.isEmpty &&
      versionEntries.forall(_.spec == meta.specId)
    if (singleSpecBucket)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(Expressions.bucket(meta.numGroups, meta.keyCol)),
          meta.numGroups)
    else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)
  }

  /** Manifest-derived size estimate — what lets Catalyst's join
    * planning AUTO-BROADCAST a small catalog table (without it, a DSv2
    * scan defaults to "unknown = huge" and a dimension-sized DML table
    * always shuffle-joins). Sum of this version's on-disk file sizes:
    * an UNDERestimate of row-format in-memory size, but parquet
    * encodes denser than runtime rows by less than the 10 MB default
    * threshold's safety margin; estimates feed planning only, never
    * correctness. */
  private lazy val cachedStats: Statistics = {
    val dir = lake.dataDir(tableKey)
    // stats must describe what THIS scan reads (the DSv2 contract is
    // post-pushdown): a branch read's bytes come from the STAGED
    // manifest, not the committed one — otherwise a huge staged
    // snapshot would report the tiny committed size as authoritative
    // and Catalyst would auto-broadcast the audit side
    val statEntries = branch match {
      case Some(b) => lake.readBranchManifest(tableKey, b)._2
      case None    => versionEntries
    }
    val bytes = statEntries
      .map(e => new java.io.File(RowStore.entryPath(dir, e.name)).length()).sum
    // exact row count rides along ONLY for the plain unfiltered whole-
    // table read of a clean snapshot (the shared exactRowCount rule):
    // a pushed range, compact restriction, or row-level-op scan reads
    // a SUBSET, and claiming the full count as exact would mislead the
    // CBO in exactly the direction that breaks joins
    val plainRead = op.isEmpty && staticGroups.isEmpty &&
      keyRange.isEmpty && strRange == ((None, None)) &&
      colWinN.isEmpty && colWinS.isEmpty && colEq.isEmpty
    val rows: Option[Long] =
      if (plainRead) RowStore.exactRowCount(statEntries) else None
    // PER-COLUMN statistics for CBO (SPARK-41378's DSv2 channel,
    // Iceberg's puffin-NDV shape): distinct counts folded from the
    // opt-in per-file KMV sketches, plus exact min/max from the
    // per-column zone maps for plain integer columns. Reported only
    // for the same clean plain read the exact row count qualifies
    // for — a pushed range reads a SUBSET, and full-table NDVs
    // against a subset would mislead join estimation in exactly the
    // direction that breaks plans. Unknown is never guessed: a
    // statless/legacy/delta-bearing snapshot reports nothing.
    val colStats: Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (!plainRead || branch.nonEmpty ||
        statEntries.exists(_.kind != "base")) Map.empty
      else {
        val base = statEntries
        meta.ndvCols.flatMap { c =>
          val storage = meta.storageOf(c)
          if (base.isEmpty || base.exists(e => !e.ndv.contains(storage)))
            None
          else {
            val merged = base.map(_.ndv(storage)._2)
              .reduce(RowStore.Kmv.merge)
            val est = RowStore.Kmv.estimate(merged)
            val nulls = base.map(_.ndv(storage)._1).sum
            // exact bounds ride along for plain integer columns (the
            // colsN fold) — internal forms ARE the boxed values there
            val bounds: Option[(Any, Any)] =
              meta.schema.fields.find(_.name == c).map(_.dataType) match {
                case Some(LongType)
                  if base.forall(_.colsN.contains(storage)) =>
                  val bs = base.map(_.colsN(storage))
                  Some((Long.box(bs.map(_._1).min),
                    Long.box(bs.map(_._2).max)))
                case Some(IntegerType)
                  if base.forall(_.colsN.contains(storage)) =>
                  val bs = base.map(_.colsN(storage))
                  Some((Int.box(bs.map(_._1).min.toInt),
                    Int.box(bs.map(_._2).max.toInt)))
                case _ => None
              }
            Some(Expressions.column(c) -> (new org.apache.spark.sql
              .connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(est)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(nulls)
              override def min(): java.util.Optional[Object] =
                bounds.map(b => java.util.Optional.of(
                  b._1.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                bounds.map(b => java.util.Optional.of(
                  b._2.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
            }))
          }
        }.toMap
      }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats.asJava
    }
  }
  override def estimateStatistics(): Statistics = cachedStats

  private var groupKeep: Option[Set[Int]] = None

  /** Runtime-filterable on `_group` — but ONLY when this scan actually
    * outputs it (the row-level operation scans, which read it via
    * requiredMetadataAttributes). Advertising an attribute the plan
    * can't resolve would break UNRELATED joins against this table
    * (e.g. a MERGE whose source is another catalog table). */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("_group"))
      Array(Expressions.column("_group"))
    else Array.empty

  /** Streaming read of the TABLE (Delta's `readStream.table` shape):
    * offset = committed version, one version per micro-batch, each
    * batch the files that commit ADDED. Sound only for APPEND-ONLY
    * history — a commit that replaced/removed files (DML, OPTIMIZE,
    * INSERT OVERWRITE) or wrote deltas fails loudly at plan time
    * instead of silently re-emitting or dropping rows. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // the stream plans from the COMMITTED manifest chain; silently
    // serving it for a branch read would hand the WAP auditor data
    // that excludes everything staged on the branch
    require(branch.isEmpty,
      s"$tableKey: streaming reads of a WAP branch are not supported " +
        "— audit a staged branch with a batch read")
    // Spark's STREAMING relation resolves to the FULL metadata-
    // extended output — [data ++ metadataColumns()] — and the
    // streaming execution path skips the batch pruning rewrite, so
    // the executed plan reads ORDINALS in that layout whatever the
    // projection was. Serve exactly that layout (each metadata column
    // is cheap reader-side arithmetic); a width-pruned reader here
    // crashes codegen on the first metadata reference.
    val streamOut = StructType(meta.schema.fields ++
      Seq(StructField("_group", IntegerType, nullable = false),
        StructField("_rid", StringType, nullable = false)) ++
      (if (meta.rowids) Seq(StructField("_row_id", LongType))
      else Seq.empty))
    new AppendTableStream(lake, tableKey, meta, streamFrom,
      new GroupReaderFactory(streamOut, meta.schema, meta.renames,
        meta.keyCol))
  }

  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      parseGroupPredicate(p).foreach { ks =>
        groupKeep = Some(groupKeep.fold(ks)(_ intersect ks))
      }
    }

  /** `IN(_group, ints…)` / `=(_group, int)` → the kept-group set; any
    * other shape (or any non-int literal) is IGNORED — under-pruning
    * is sound (the operation re-applies its own condition), silently
    * dropping a value would over-prune. */
  private def parseGroupPredicate(p: Predicate): Option[Set[Int]] = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit}
    val ch = p.children()
    val onGroup = ch.headOption.exists {
      case r: NamedReference => r.fieldNames().sameElements(Array("_group"))
      case _ => false
    }
    if (!onGroup || (p.name() != "IN" && p.name() != "=")) None
    else {
      val vals = ch.drop(1).map {
        case l: VLit[_] => l.value() match {
          case i: java.lang.Integer => Some(i.intValue)
          case _ => None
        }
        case _ => None
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.flatten.toSet)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // a branch read plans from the STAGED manifest (WAP audit); all
    // other machinery is identical — staged entries are ordinary
    // immutable files the branch commit added
    val entries = branch match {
      case Some(b) => lake.readBranchManifest(tableKey, b)._2
      case None    => versionEntries
    }
    val baseEntries = entries.filter(_.kind == "base")
    // "deltas" = every read-time mutation entry: positional/equality
    // delta records AND deletion-vector blobs (kind "dv") — both replay
    // against base rows, both make a group dirty
    val deltas = entries.filter(_.kind != "base")
    val dir = lake.dataDir(tableKey)
    // SPEC EVOLUTION boundary: files written under a retired partition
    // spec keep their original group layout; a plain read plans across
    // every spec. Rewriting machinery stays on the ACTIVE spec only —
    // group numbers are not comparable across specs, so row-level ops,
    // the OPTIMIZE handshake, and MOR deltas refuse loudly until the
    // table is migrated (INSERT OVERWRITE rewrites everything under
    // the active spec).
    val multiSpec = entries.exists(_.spec != meta.specId)
    if (multiSpec) {
      // row-level operations DO span specs (Iceberg's per-spec
      // planning): the scan records (spec, group) pairs and the COW
      // commit replaces exactly those, with the rewrite's output
      // landing under the ACTIVE spec — touched old-spec groups
      // migrate as a side effect, untouched ones keep their layout.
      // The compaction handshake and MOR deltas stay single-spec
      // (group-number ambiguity has no qualified channel there).
      require(staticGroups.isEmpty,
        s"$tableKey: OPTIMIZE across partition specs is not supported")
      require(deltas.isEmpty,
        s"$tableKey: delta files across partition specs are not supported")
    }
    // partition identity = (spec, group): after an evolution two files
    // can share a group NUMBER while meaning different row sets
    // (bucket 3 vs epoch-day 3). The active spec plans EVERY bucket
    // group (bounded space; MOR delta inserts may target a group with
    // no base file yet); unbounded transforms (days/truncate) plan
    // only groups the manifest observed — an unobserved group has no
    // rows, so nothing is lost.
    val observed = baseEntries.map(e => (e.spec, e.group)).distinct
    val active: Seq[(Int, Int)] =
      if (meta.transform == "bucket")
        (0 until meta.numGroups).map(g => (meta.specId, g))
      else Seq.empty
    // PARTITION PRUNING for the monotonic transforms (truncate/days/
    // hours/months/years — NOT bucket): group g only holds rows whose
    // transform value IS g, so a pushed key range [lo, hi] bounds the
    // reachable groups to [T(lo), T(hi)] regardless of file stats
    // (covers statless files too — this is the time-series lake
    // table's day-range scan). Only ACTIVE-spec groups prune: a
    // retired spec's group numbers mean a different layout.
    // each side saturates to its OPEN bound when the range is
    // one-sided (the Long.MinValue/MaxValue sentinels — transforming
    // those would wrap Int and silently plan zero groups) or when the
    // literal falls outside the transform's group space (identity/
    // truncate throw there) — under-prune, never wrap or throw; the
    // residual filter re-checks rows regardless
    val groupRange: Option[(Int, Int)] =
      keyRange.filter(_ => meta.transform != "bucket").map {
        case (lo, hi) =>
          def side(v: Long, open: Int): Int =
            if (v == Long.MinValue || v == Long.MaxValue) open
            else try RowStore.partValueOf(meta.transform, meta.tparam,
              meta.numGroups, Long.box(v))
            catch { case scala.util.control.NonFatal(_) => open }
          (side(lo, Int.MinValue), side(hi, Int.MaxValue))
      }
    val kept = (observed ++ active).distinct.sorted
      .filter { case (sp, g) => groupKeep.forall(_.contains(g)) &&
        staticGroups.forall(_.contains(g)) &&
        groupRange.forall { case (glo, ghi) =>
          sp != meta.specId || (g >= glo && g <= ghi) } }
    // the COW write replaces exactly what this plan read — qualified
    // by spec, since a group NUMBER means different rows per spec
    op.foreach(_.scannedGroups = Some(kept.toSet))
    var planned, skipped = 0
    val parts = kept.map { case (sp, g) =>
      val groupDeltas = deltas.filter(e => e.group == g || e.group < 0)
      // BINPACK restriction (files= handshake segment): plan ONLY the
      // named base files — the size-aware rewrite reads exactly the
      // under/oversized files and the commit replaces exactly them.
      // Sound only on delta-free groups (a delta replays against rids
      // the subset rewrite renumbers) — the planner guarantees it and
      // this refuses loudly if the manifest disagrees.
      if (staticFiles.nonEmpty)
        require(groupDeltas.isEmpty,
          s"$tableKey: file-subset (binpack) scan over a delta-bearing " +
            "group — run rewrite_data_files first")
      val base = baseEntries.filter(e => e.spec == sp && e.group == g)
        .filter(e => staticFiles.forall(_.contains(e.name)))
      // FILE SKIPPING by manifest stats — only when provably sound:
      // plain reads (a COW rewrite replaces whole groups with what it
      // read, so a skipped file's rows would vanish) of CLEAN groups
      // (an update delta can move a row's key outside its base file's
      // stats). Statically-restricted scans (the OPTIMIZE handshake
      // read, whose output REPLACES the group wholesale) never skip
      // either — a filtered compact read would silently drop skipped
      // files' rows from the rewritten group. Files from a RETIRED
      // spec never skip: their stats were computed on that spec's key
      // column, which the pushed range may not refer to. Statless
      // files never skip.
      val visible =
        if (op.nonEmpty || staticGroups.nonEmpty || groupDeltas.nonEmpty ||
          (keyRange.isEmpty && strRange == ((None, None)) &&
            colWinN.isEmpty && colWinS.isEmpty && colEq.isEmpty) ||
          sp != meta.specId) base
        else base.filter { e =>
          import RowStore.StrBounds.cmp
          val numOk = (e.minK, e.maxK, keyRange) match {
            case (Some(mn), Some(mx), Some((lo, hi))) =>
              mx >= lo && mn <= hi
            case _ => true
          }
          // string zone maps: TRUNCATED bounds, so [minS, maxS] is a
          // superset of the file's true key range — intersecting it
          // with the pushed window under-prunes, never over-prunes
          val strOk = (e.minS, e.maxS) match {
            case (Some(mn), Some(mx)) =>
              strRange._1.forall(lo => cmp(mx, lo) >= 0) &&
                strRange._2.forall(hi => cmp(mn, hi) <= 0)
            case _ => true
          }
          // PER-COLUMN zone maps: a file survives only if every pushed
          // column window intersects the file's recorded bounds for
          // that column — any column a file carries no bounds for
          // simply can't skip it (under-prune, never over-prune)
          val colNOk = colWinN.forall { case (cn, (lo, hi)) =>
            e.colsN.get(cn) match {
              case Some((mn, mx)) => mx >= lo && mn <= hi
              case None => true
            }
          }
          val colSOk = colWinS.forall { case (cn, (lo, hi)) =>
            e.colsS.get(cn) match {
              case Some((mn, mx)) =>
                lo.forall(l => cmp(mx, l) >= 0) &&
                  hi.forall(h => cmp(mn, h) <= 0)
              case None => true
            }
          }
          // BLOOM probes: a file skips only when its recorded filter
          // answers "definitely absent" for EVERY value of some
          // pushed equality constraint — zone maps can't skip a point
          // lookup on an unclustered column, this can. No bloom for
          // the column (not opted in, overflowed, or pre-property
          // files) → never skipped by it
          val bloomOk = colEq.forall { case (cn, hs) =>
            e.blooms.get(cn) match {
              case Some(enc) =>
                val (m, words) = RowStore.Bloom.dec(enc)
                hs.exists(h => RowStore.Bloom.contains(words, m, h))
              case None => true
            }
          }
          numOk && strOk && colNOk && colSOk && bloomOk
        }
      planned += visible.size
      skipped += base.size - visible.size
      // replay sequence in manifest (= commit) order: the group's
      // surviving base entries interleaved with its delta entries
      // exactly as the manifest lists them — what gives equality
      // deletes their commit-scoped semantics
      val visibleNames = visible.map(_.name).toSet
      val ordered = entries.collect {
        case e if e.kind == "base" && e.spec == sp && e.group == g &&
          visibleNames(e.name) => ("base", RowStore.entryPath(dir, e.name))
        case e if e.kind != "base" && (e.group == g || e.group < 0) =>
          (e.kind, RowStore.entryPath(dir, e.name))
      }
      // ROW LINEAGE: the group's leaf→firstRowId map, shipped only
      // when the projection actually asks for `_row_id` (O(files)
      // longs per partition; nothing rides otherwise). Keyed by LEAF
      // name — the rid address space (`leaf#pos`) the ids inherit
      // from.
      val rowIdBase: Map[String, Long] =
        if (!required.fieldNames.contains("_row_id")) Map.empty
        else (visible ++ groupDeltas).flatMap(e =>
          e.firstRowId.map(f =>
            e.name.substring(e.name.lastIndexOf('/') + 1) -> f)).toMap
      GroupFilesPartition(g, visible.map(e => RowStore.entryPath(dir, e.name)),
        // group-tagged delta files: only this group's records can be
        // inside (records re-check, so an untagged file stays sound)
        groupDeltas.map(e => RowStore.entryPath(dir, e.name)), ordered,
        rowIdBase): InputPartition
    }.toArray
    lake.lastPlannedBaseFiles.set(planned)
    lake.lastSkippedBaseFiles.set(skipped)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GroupReaderFactory(required, meta.schema, meta.renames,
      meta.keyCol)
}

/** `ordered` is the group's (kind, path) replay sequence in MANIFEST
  * (= commit) order — what equality-delete semantics need; empty means
  * bases-then-deltas (always correct for positional-only replay, the
  * shape the append-stream planner emits). */
case class GroupFilesPartition(group: Int, baseFiles: Seq[String],
    deltaFiles: Seq[String],
    ordered: Seq[(String, String)] = Seq.empty,
    rowIdBase: Map[String, Long] = Map.empty) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** The partition's bucket value — must type-match the reported
    * KeyGroupedPartitioning expression's result (bucket → INT). */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](group))
}

/** One-row scan answering completely-pushed manifest-metadata
  * aggregates (COUNT(*) and MIN/MAX of any zone-map-eligible column)
  * — no data file is ever opened. Each pushed slot carries its OUTPUT
  * type alongside the folded long: counts/BIGINT extrema emit as
  * Long, timestamps as their micros long, dates re-box as the
  * epoch-day Int, and decimals rebuild from the unscaled long at the
  * column's declared scale (see createReaderFactory). */
class ManifestAggScan(values: Seq[(Long, DataType)]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    values.zipWithIndex.map { case ((_, dt), i) =>
      StructField(s"agg_$i", dt, nullable = false) })
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GroupFilesPartition(0, Seq.empty, Seq.empty))
  override def createReaderFactory(): PartitionReaderFactory = {
    // box each folded long in ITS output type's internal form: dates
    // are Int epoch days, decimals rebuild from the unscaled long at
    // the declared scale, counts/longs/timestamps stay Long
    val boxed: Array[Any] = values.map {
      case (v, org.apache.spark.sql.types.DateType) => Int.box(v.toInt)
      case (v, d: org.apache.spark.sql.types.DecimalType) =>
        org.apache.spark.sql.types.Decimal(v, d.precision, d.scale)
      case (v, _) => Long.box(v)
    }.toArray
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = new GenericInternalRow(boxed)
          override def close(): Unit = ()
        }
    }
  }
}

class GroupReaderFactory(required: StructType, dataSchema: StructType,
    renames: Map[String, String] = Map.empty, keyCol: String = "")
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GroupFilesPartition]
    val dataNames = dataSchema.fieldNames.toSet
    val projected = required.fields.filter(f => dataNames(f.name)).toSeq
    // a delta-bearing group may carry EQUALITY deletes, whose replay
    // compares key values — read the key alongside the projection
    // (group-sized extra column, dropped at emit) even when the query
    // pruned it
    val wanted =
      if (part.deltaFiles.nonEmpty && keyCol.nonEmpty &&
        !projected.exists(_.name == keyCol))
        projected ++ dataSchema.fields.find(_.name == keyCol)
      else projected
    // ROW LINEAGE: when `_row_id` is asked for, also read the
    // reserved MATERIALIZED id column (`_rowid` — present only in
    // rewrite-written files; everything else null-pads), appended
    // LAST so every data offset below stays put. A row's id is the
    // materialized value when one exists, else firstRowId + position
    // — Iceberg v3's inheritance rule.
    val wantRowId = required.fieldNames.contains("_row_id")
    val wantedRid =
      if (wantRowId)
        wanted :+ StructField("_rowid", org.apache.spark.sql.types.LongType)
      else wanted
    // resolve over the FLATTENED leaf layout (RowNested): structs
    // read back from their marker + dotted-path leaf columns and
    // reassemble at emit; files store a renamed leaf under its
    // STORAGE name — project by that, emit under the display name
    val wantedFlat = RowNested.flatLeaves(wantedRid)
    val keyIdx = wantedFlat.indexWhere(_.name == keyCol)
    val matIdx = if (wantRowId) wantedFlat.length - 1 else -1
    val wantedOff = RowNested.offsets(wanted)
    val wantedByName = wanted.map(f => f.name -> f).toMap
    val wantedStorage = wantedFlat.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name)))
    val items =
      if (part.ordered.nonEmpty) part.ordered
      else part.baseFiles.map(("base", _)) ++
        part.deltaFiles.map(("delta", _))
    val rows = RowResolve.resolveOrdered(part.group, items,
      wantedStorage, keyIdx)
    // per-field emit plan, compiled ONCE per reader (optimization
    // round 16, guide §1.2 step 2): the old per-row loop re-matched
    // every field NAME and did two hash-map lookups per cell; rows
    // here are group-sized, so that dispatch sat on every DML read's
    // hot path. Kinds: 0=_group (constant), 1=_rid, 2=_row_id,
    // 3=data field (internalize via precomputed field+offset).
    val nOut = required.fields.length
    val kinds = new Array[Int](nOut)
    val emitFields = new Array[StructField](nOut)
    val emitOffs = new Array[Int](nOut)
    val groupBox: Any = Int.box(part.group)
    required.fields.zipWithIndex.foreach { case (f, i) =>
      f.name match {
        case "_group"  => kinds(i) = 0
        case "_rid"    => kinds(i) = 1
        case "_row_id" => kinds(i) = 2
        // a PRUNED struct in `required` flows through as-is: its
        // pruned field list shaped both the flat projection and
        // these offsets, so only the asked-for leaves were read
        // and exactly they reassemble
        case n =>
          kinds(i) = 3
          emitFields(i) = wantedByName(n)
          emitOffs(i) = wantedOff(n)
      }
    }
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: (String, Array[Any]) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = {
        val out = new Array[Any](nOut)
        var i = 0
        while (i < nOut) {
          out(i) = kinds(i) match {
            case 0 => groupBox
            case 1 => UTF8String.fromString(cur._1)
            // _row_id = materialized `_rowid` when the row's file
            // stores one (rewrite outputs), else the entry's
            // firstRowId + the row's position in its ORIGINAL file
            // (the rid address, which MOR updates preserve). Null for
            // files no commit has assigned yet (staged branches).
            case 2 =>
              cur._2(matIdx) match {
                case l: java.lang.Long => l
                case _ =>
                  val rid = cur._1
                  val cut = rid.lastIndexOf('#')
                  part.rowIdBase.get(rid.substring(0, cut)).map(b =>
                    Long.box(b + rid.substring(cut + 1).toLong)).orNull
              }
            case _ =>
              RowNested.internalize(emitFields(i), cur._2, emitOffs(i))
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = ()
    }
  }
}
