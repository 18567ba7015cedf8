package graft.sources

import org.apache.spark.sql.SparkSession

/** SIZE-AWARE BINPACK (r14 verdict item 8 — Iceberg's
  * rewrite_data_files binpack strategy with its size band):
  * [[RowStoreOps.compact]] rewrites whole dirty GROUPS; this op plans
  * at FILE granularity against a target size — only files outside the
  * band [0.75×target, 1.8×target] (Iceberg's MIN_FILE_SIZE /
  * MAX_FILE_SIZE defaults) are read and rewritten, well-sized
  * group-mates keep their entries (and their zone maps, blooms, NDV
  * sketches) byte-verbatim. A well-compacted table is a provable
  * NO-OP: zero files planned, zero versions committed — the property
  * that makes a scheduled OPTIMIZE affordable at 100 TB, where "the
  * maintenance pass rewrote everything again" is the classic failure.
  *
  * Planning is manifest + one `File.length()` per base file (driver,
  * metadata-sized — the same stat the `.files` metadata table
  * surfaces). The rewrite reads ONLY the selected files (the
  * `files=` handshake segment restricts the scan), slices rows into
  * ~target-sized output via a per-group partition-id column + an
  * explicit `repartitionByRange` (AQE never coalesces user-specified
  * counts), and commits by replacing exactly the selected entries.
  *
  * Scope rules (all loud): active-spec only (migrate first), and only
  * DELTA-FREE groups — a delta replays against `leaf#pos` rids that a
  * file-subset rewrite would renumber; delta-bearing groups belong to
  * `rewrite_data_files`, which folds them. Undersized files pack only
  * when ≥2 share a group (a lone small file re-written alone is the
  * same file — wasted IO); an oversized file always splits. */
object BinpackOps {

  /** Returns (files rewritten, files written, well-sized skipped). */
  def binpack(s: SparkSession, table: String, targetBytes: Long)
      : (Int, Int, Int) = {
    require(targetBytes > 0, s"$table: target_bytes must be positive")
    val lake = RowStore.forKey(table)
    val meta = lake.readMeta(table)
    val base = lake.currentVersion(table)
    val man = lake.readManifest(table, base)
    require(man.forall(_.spec == meta.specId),
      s"$table: binpack across partition specs is not supported — " +
        "migrate with INSERT OVERWRITE onto the active spec first")
    val dir = lake.dataDir(table)
    // delta-bearing groups are out of scope (group < 0 = table-wide
    // delta poisons every group)
    val deltaGroups = man.filter(_.kind != "base").map(_.group).toSet
    val allDirty = deltaGroups.exists(_ < 0)
    val lo = (targetBytes * 3) / 4
    val hi = (targetBytes * 9) / 5
    def sizeOf(e: RowStore.FileEntry): Long =
      new java.io.File(RowStore.entryPath(dir, e.name)).length()
    val eligible = man.filter(e => e.kind == "base" && e.group >= 0 &&
      !allDirty && !deltaGroups.contains(e.group))
    val plans: Seq[(Int, Seq[(RowStore.FileEntry, Long)])] = eligible
      .groupBy(_.group).toSeq.sortBy(_._1).flatMap { case (g, es) =>
        val sized = es.map(e => (e, sizeOf(e)))
        val under = sized.filter(_._2 < lo)
        val over = sized.filter(_._2 > hi)
        val selected =
          if (over.nonEmpty) under ++ over
          else if (under.size >= 2) under
          else Seq.empty
        if (selected.isEmpty) None else Some(g -> selected)
      }
    // well-sized = ELIGIBLE files the size band kept — files in
    // delta-bearing groups were never size-checked and must not be
    // reported as well-sized (review finding)
    val skipped = eligible.size - plans.map(_._2.size).sum
    if (plans.isEmpty) return (0, 0, skipped)

    // per-group output slice count from the selected byte total —
    // merge-dominated groups round to 1, an oversized file splits
    val slices = plans.map { case (g, sel) =>
      val bytes = sel.map(_._2).sum
      (g, math.max(1L, math.round(bytes.toDouble / targetBytes)).toInt)
    }
    val offsets = slices.scanLeft(0) { case (off, (_, k)) => off + k }
    val totalSlices = offsets.last
    val selNames = plans.flatMap(_._2.map(_._1.name))
    val hs = s"$base:" + plans.map(_._1).mkString(",") +
      ":layout=preserve:files=" + selNames.mkString(",")

    import org.apache.spark.sql.functions.{col, lit, pmod, when, xxhash64}
    val src = s.read.option("compact", hs).table(table)
    val dataCols = src.columns.map(col).toIndexedSeq
    // slice id: group offset + row-hash mod the group's slice count —
    // rows spread ~evenly by bytes, each range partition holds ONE
    // slice, and the writer's one-file-per-(task, group) rule emits
    // exactly one ~target-sized file per slice. The id is made
    // CONTINUOUS (integer slice + uniform in-slice fraction) so the
    // range partitioner's sampled quantiles fall ON slice boundaries:
    // with bare integer ids and as many partitions as distinct
    // values, quantile bounds routinely lump two adjacent slices into
    // one partition (observed: a 3-way split produced 2 files), while
    // the continuous form keeps every partition ≈ one slice, with
    // only boundary bleed between NEIGHBORS — which stays within the
    // same group's file-count budget.
    val rowHash = xxhash64(dataCols: _*)
    val pid = slices.zip(offsets).foldLeft(lit(-1.0)) {
      case (acc, ((g, k), off)) =>
        // the fraction applies ONLY to splitting groups (k > 1): a
        // merge-target group keeps ONE exact pid value, which no range
        // bound can straddle — without this, boundary bleed split a
        // k=1 group's rows across two partitions and the "packed"
        // file came out as two (observed under the 4-partition config)
        val slice =
          if (k == 1) lit(off.toDouble)
          else lit(off.toDouble) +
            pmod(rowHash, lit(k.toLong)).cast("double") +
            pmod(rowHash, lit(997L)).cast("double") / 997.0
        when(col("_group") === g, slice).otherwise(acc)
    }
    // ROW LINEAGE: rowids tables carry `_row_id` through the slicing
    // shuffle into the `.rewrite` sink, which materializes it
    val outCols = dataCols ++
      (if (meta.rowids) Seq(col("_row_id")) else Seq.empty)
    val outNames = src.columns.toIndexedSeq ++
      (if (meta.rowids) Seq("_row_id") else Seq.empty)
    val sink = if (meta.rowids) s"$table.rewrite" else table
    src.select(outCols :+ col("_group"): _*)
      .withColumn("_pid", pid)
      .repartitionByRange(totalSlices, col("_pid"))
      .select(outNames.map(col): _*)
      .writeTo(sink).option("compact", hs).append()

    val after = lake.readManifest(table, lake.currentVersion(table))
    val written = after.map(_.name).toSet -- man.map(_.name).toSet
    (selNames.size, written.size, skipped)
  }
}
