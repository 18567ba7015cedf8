package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streamed-ANN segment compaction (s16) — the file-level contract
  * the query row can't see: after compaction every cell directory
  * holds EXACTLY ONE parquet file, the total file count strictly
  * shrinks, and a probe therefore opens fewer files for the same
  * served rows (the per-cell read cost the maintenance op exists to
  * bound). */
class SegmentCompactSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("compaction leaves one file per cell and shrinks probe opens") {
    val s = spark
    // drive the s16 fixture end to end (builds base + 4 appended
    // segments + the compacted layout, and its own pins must hold)
    val row = SparkEntry.queries("s16_ann_segment_compact")(s, SparkSuite.sf)
      .collect().head
    assert(row.getBoolean(row.fieldIndex("compact_recall_ok")))
    assert(row.getBoolean(row.fieldIndex("served_identical")))
    assert(row.getBoolean(row.fieldIndex("segments_compacted")))

    val idxDir = graft.Scratch.dir(s, "graft_s16_idx", SparkSuite.sf)
    val comp = java.nio.file.Paths.get(s"$idxDir/compacted/seg")
    assert(java.nio.file.Files.isDirectory(comp))
    // exactly one parquet file inside every cell=N directory
    val cellDirs = {
      val st = java.nio.file.Files.list(comp)
      try {
        val it = st.iterator()
        val buf = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
        while (it.hasNext) { buf += it.next() }
        buf.toSeq.filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("cell="))
      } finally st.close()
    }
    assert(cellDirs.nonEmpty, "compacted layout must keep cell dirs")
    cellDirs.foreach { cd =>
      val st = java.nio.file.Files.list(cd)
      val n = try {
        val it = st.iterator()
        var c = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.endsWith(".parquet")) c += 1
        }
        c
      } finally st.close()
      assert(n == 1, s"cell dir $cd holds $n parquet files, want 1")
    }
    // the grown (uncompacted) layout holds strictly more files, and at
    // least one cell holds several — the read amplification the
    // compactor removes; probing any cell set therefore opens fewer
    // files against the compacted layout
    import graft.operators.Similarity
    val before = Similarity.segmentFileCount(s"$idxDir/base/assigned") +
      Similarity.segmentFileCount(s"$idxDir/streamed/seg")
    val after = Similarity.segmentFileCount(s"$idxDir/compacted/seg")
    assert(after == cellDirs.size)
    assert(after < before,
      s"expected fewer files after compaction: $after vs $before")
  }
}
