package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{SketchFunctions, VectorFunctions}

/** Approximate-nearest-neighbor search over the embedding column
  * (builder-prompt north star).
  *
  *  - s01 brute-force: exact top-k cosine per query — the baseline and
  *    the recall oracle. Query side is tiny → broadcast it; the big side
  *    streams through one scan, top-k via ranking window on the query
  *    key. At scale this is one pass over the corpus per query batch.
  *  - s02 LSH (random hyperplanes): 8 tables × 6 sign bits → buckets;
  *    candidates are the union of the query's buckets, exact rescore
  *    inside. The bucket join replaces the O(corpus) scan with
  *    O(candidates) — the 100 TB path. Hyperplanes come from a seeded
  *    PRNG so the operator is deterministic.
  */
object Similarity {

  private[graft] val K = 3
  private[graft] val NQ = 5 // vec_id < NQ are the query vectors

  /** Session-scoped IVF index cache: (quantizer cell assignment,
    * centroid table) per (session, dataset). The fit is the build-once
    * index cost; rebuilding it per query would charge every search with
    * index construction.
    *
    * Lifecycle: [[graft.SessionLruCache]] (session-keyed, LRU-bounded —
    * round-3 advisor). */
  private val ivfCache = new graft.SessionLruCache[(DataFrame, DataFrame)](4)

  /** FAISS's trainer discipline: quantizer/codebook KMeans fits train
    * on a BOUNDED deterministic sample (portable-hash ppm gate on
    * vec_id, ≤ [[TrainCap]] vectors), never the full corpus — at
    * 100 TB a full-corpus sweep per codebook fit is the wrong build
    * (the encode pass touches the corpus once; training never should).
    * The recall gates (s04/s06/s08–s11/st35) remain the contract that
    * sampling didn't hurt. At harness SFs the corpus sits under the
    * cap, so the gate keeps every vector and results are unchanged. */
  private[operators] val TrainCap = 100000L
  private[operators] def trainSample(df: DataFrame, corpusRows: Long): DataFrame =
    if (corpusRows <= TrainCap) df
    else {
      val ppm = math.max(1L, TrainCap * 1000000L / corpusRows)
      df.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) < lit(ppm))
    }

  private[operators] def ivfIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfIndexFor(s, d, Tables(s, d, "embeddings"))

  /** The same IVF fit over ANY (vec_id, embedding) source — what lets
    * the multimodal encoder output (s11) share the index machinery
    * with the native embeddings table. `source` is by-name: on a cache
    * hit the frame is never constructed. */
  private[graft] def ivfIndexFor(s: SparkSession, cacheKey: String,
      source: => DataFrame): (DataFrame, DataFrame) =
    ivfCache.getOrElseUpdate(s, cacheKey)(ivfFit(s, source))

  /** Coarse-quantizer cell count — shared by the fit and the segment
    * compactor's one-task-per-cell repartition. */
  private[graft] val NCells = 16

  private def ivfFit(s: SparkSession, source: DataFrame): (DataFrame, DataFrame) = {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val nCells = NCells
      // sized BEFORE the repartition/vectorize lineage: on a parquet
      // source this count folds to footer metadata, no data pages
      val corpusRows = source.count()
      val e = source
        .transform(Tables.spread)
        .withColumn("fv", array_to_vector(col("embedding")))
      // a coarse quantizer only partitions space — 5 iterations is
      // plenty and halves the fit cost vs the default 20. The fit
      // trains on the bounded sample ([[trainSample]]); the one
      // full-corpus pass is the transform (cell assignment) below,
      // which a real index build pays by definition.
      val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(trainSample(e, corpusRows))
      val assigned = model.transform(e)
        .select(col("vec_id"), col("embedding"), col("cell"))
        .localCheckpoint() // materialized index: reused by every query
      // centroid list is tiny: rank cells per query by centroid cosine
      val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat))
      }.toSeq
      (assigned, s.createDataFrame(cents).toDF("cell", "centroid"))
  }

  /** INTEGER-EXACT IVF fit (s03's quantizer, round-13 promotion from
    * rows-only): the coarse quantizer re-expressed in portable int64
    * arithmetic so DuckDB replays the ENTIRE index — seeds, Lloyd
    * refinements, final assignment — bit-for-bit and s03 graduates to
    * a fully hash-checked row (the s07 discipline applied to a whole
    * index build).
    *
    *  - vectors enter as fixed-point floor(x·10⁶) int64 (exact from
    *    float in both engines);
    *  - the NCells seeds are the vectors with the smallest portable
    *    hash of "ivf:vec_id" (ties by vec_id) — a deterministic
    *    pseudo-random spread with no PRNG to port, selected by
    *    distributed top-k (TakeOrderedAndProject), never a global
    *    sort;
    *  - two Lloyd refinements: assignment is argmin of the int64
    *    squared distance (ties to the lowest cell), centroid
    *    recomputation is the sign-safe integer floor-mean
    *    (sum − pmod(sum, n)) div n — every intermediate exact;
    *  - the ML-KMeans index (ivfFit) stays the build for the
    *    engine-internal consumers (s06/s10/s15/s16/st35) where only
    *    the recall CONTRACT is checked.
    *
    * Magnitudes: |sv| ≲ 2²², diff² ≲ 2⁴⁴, ×64 dims ≲ 2⁵⁰ — no
    * overflow. The s04 ivf gate (recall ≥ 0.3 at every SF) pins that
    * the portable quantizer still indexes well. */
  private def ivfIntFit(s: SparkSession, source: DataFrame): (DataFrame, DataFrame) = {
    val sv = source
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("sv"))
      .transform(Tables.spread)
      .localCheckpoint()
    val hk = graft.functions.PortableHashFunctions.polyHash(
      concat(lit("ivf:"), col("vec_id").cast("string")))
    // top-k then a 16-row window: the cell numbering sort runs on
    // NCells rows, not the corpus
    val wSeed = Window.orderBy(col("hk"), col("vec_id"))
    val cents0 = sv.select(col("vec_id"), col("sv"), hk.as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(NCells)
      .withColumn("cell", (row_number().over(wSeed) - 1).cast("int"))
      .select(col("cell"), col("sv").as("cent"))
    def assign(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist2").asc, col("cell").asc)
      sv.crossJoin(broadcast(cents))
        .withColumn("dist2", expr(
          "aggregate(zip_with(sv, cent, (x, y) -> (x - y) * (x - y)), " +
            "0L, (a, v) -> a + v)"))
        .withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col("vec_id"), col("embedding"), col("sv"), col("cell"))
    }
    def recompute(assigned: DataFrame): DataFrame =
      assigned.select(col("cell"), posexplode(col("sv")).as(Seq("i", "v")))
        .groupBy(col("cell"), col("i"))
        .agg(sum(col("v")).as("sv_sum"), count(lit(1)).as("cnt"))
        .withColumn("m", expr("(sv_sum - pmod(sv_sum, cnt)) div cnt"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(i, m))), " +
          "x -> x.m)").as("cent"))
    val c1 = recompute(assign(cents0))
    val c2 = recompute(assign(c1)).localCheckpoint()
    (assign(c2).localCheckpoint(), c2)
  }

  private[graft] def ivfIntIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfCache.getOrElseUpdate(s, s"$d#int")(
      ivfIntFit(s, Tables(s, d, "embeddings")))

  /** The integer-exact IVF fit over an ARBITRARY (vec_id, embedding)
    * source — the catalog-served consumers (s17, st40): same fit, same
    * cache, caller-chosen source and cache key. */
  private[graft] def ivfIntIndexFor(s: SparkSession, cacheKey: String,
      source: => DataFrame): (DataFrame, DataFrame) =
    ivfCache.getOrElseUpdate(s, cacheKey)(ivfIntFit(s, source))

  /** s03's probe over a fitted integer index: the NQ query vectors,
    * 3-cell integer routing, exact double-cosine rescore — the one
    * probe shape every s03-oracle consumer replays. */
  private[graft] def ivfIntProbe(assigned: DataFrame, cents: DataFrame)
      : DataFrame = {
    val q = assigned.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("sv").as("qsv"))
    rescore(probeCellsInt(q, cents, nProbe = 3), assigned)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Cell routing in the integer index's own exact metric: rank cells
    * per query by int64 ‖qsv − cent‖², ties to the lowest cell. */
  private def probeCellsInt(q: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("cell").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("dist2", expr(
        "aggregate(zip_with(qsv, cent, (x, y) -> (x - y) * (x - y)), " +
          "0L, (a, v) -> a + v)"))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))
  }

  /** SEGMENT COMPACTION — OPTIMIZE's mirror for the persisted ANN
    * index (the st35 maintenance gap): union base + streamed segments
    * and rewrite as EXACTLY ONE file per cell. Hash-repartitioning on
    * the cell id puts each cell's rows in one task, and partitionBy
    * then writes one file per (task, cell) — so the invariant holds
    * at any parallelism, the same one-file-per-group discipline the
    * DML writer's clustered distribution gives OPTIMIZE. Row set is
    * untouched: serving from the compacted layout is IDENTICAL, not
    * merely recall-equivalent (s16 pins that).
    *
    * Micro-batch appends land as FILES under a shared segment root, so
    * `dirs` stays root-count-sized (base + streamed) — but a caller
    * compacting many independent roots must not pay a LEFT-DEEP union
    * (plan depth = #roots; the analyzer recursion gets slower than the
    * IO). Spark refuses one multi-path scan over partitioned roots with
    * different parents (CONFLICTING_DIRECTORY_STRUCTURES — "load them
    * separately and then union"), so the flat form is a BALANCED
    * pairwise union: depth log₂(#roots), same rows. */
  private[graft] def compactSegments(s: SparkSession, dirs: Seq[String],
      outDir: String): Unit = {
    require(dirs.nonEmpty, "compactSegments: no segment directories " +
      "(an empty list would loop, not fail)")
    def treeUnion(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.size == 1) dfs.head
      else treeUnion(dfs.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a)    => a
      }.toSeq)
    treeUnion(dirs.map(dir => s.read.parquet(dir)
        .select(col("vec_id"), col("embedding"), col("cell"))))
      .repartition(NCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
  }

  /** Parquet leaf-file count under one segment directory (the s16 /
    * SegmentCompactSpec accounting). */
  private[graft] def segmentFileCount(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) 0
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(f =>
        f.getFileName.toString.endsWith(".parquet")).count().toInt
      finally walk.close()
    }
  }

  /** Cell routing: rank cells per query by centroid cosine, keep the
    * top `nProbe` → (q_id, qv, cell). */
  private def probeCells(queryVecs: DataFrame, centsDf: DataFrame,
      nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    queryVecs.crossJoin(broadcast(centsDf))
      .withColumn("ccos", VectorFunctions.cosineSim(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))
  }

  /** Exact cosine rescore of the probed cells' candidates → top-K per
    * query. */
  private def rescore(probed: DataFrame, candidates: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    candidates
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("cell"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("n_id"),
        col("rank").cast("int").as("rank"),
        (round(col("cos"), 6) + 0.0).as("cos"))
  }

  /** The in-session IVF probe path (s03). */
  private def ivfProbe(assigned: DataFrame, centsDf: DataFrame,
      nProbe: Int = 3): DataFrame = {
    val q = assigned.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    rescore(probeCells(q, centsDf, nProbe), assigned)
  }

  /** The SERVED probe path (s06): ensure the index is persisted, load
    * it, route, and rescore only the routed cells — exposed to
    * PersistedIndexSpec for the partition-pruning plan pin. */
  private[graft] def servedProbe(s: SparkSession, d: String,
      nProbe: Int = 3): DataFrame = {
    val idxDir = graft.Scratch.dir(s, "graft_ivfidx", d)
    graft.Scratch.materializeOnce(idxDir) {
      val (assigned, centsDf) = ivfIndex(s, d)
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$idxDir/assigned")
      centsDf.write.mode("overwrite").parquet(s"$idxDir/cents")
    }
    val centsDf = s.read.parquet(s"$idxDir/cents")
    // query vectors from the base table — the index scan inside the
    // probe is the only read of the loaded index
    val q = Tables(s, d, "embeddings").filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    probePersistedDirs(s, centsDf, q, Seq(s"$idxDir/assigned"), nProbe)
  }

  /** SERVE against persisted cell-partitioned index segment(s): route
    * queries by centroid cosine, then read ONLY the probed cells'
    * directories of every segment (the router collect is
    * centroid-sized — plan-time metadata, never data) and
    * exact-rescore. Multiple `dirs` is the grown-index case (st35): a
    * base segment plus stream-appended segments sharing the same
    * cell layout, each partition-pruned independently. */
  private[graft] def probePersistedDirs(s: SparkSession, cents: DataFrame,
      q: DataFrame, dirs: Seq[String], nProbe: Int = 3,
      euclidRouter: Boolean = false): DataFrame = {
    val probed =
      if (euclidRouter) probeCellsEuclid(q, cents, nProbe)
      else probeCells(q, cents, nProbe)
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val segs = dirs.map(dir =>
      s.read.parquet(dir).select(col("vec_id"), col("embedding"), col("cell"))
        .filter(col("cell").isin(cells: _*)))
    rescore(probed, segs.reduce(_ unionByName _))
  }

  /** Cell routing by EUCLIDEAN distance — the router that matches the
    * KMeans builder's residency rule. On these fixtures the
    * centroid-cosine router leaves true neighbors in cells ranked
    * 7–12 of 16 (cosine direction ≠ Euclidean residency), capping
    * recall near 0.33; ranking cells by ‖q − centroid‖² instead puts
    * 11 of 15 exact pairs inside the top-5 cells at every SF
    * (measured) — the FAISS discipline of routing in the index's own
    * metric. */
  private[operators] def probeCellsEuclid(queryVecs: DataFrame, centsDf: DataFrame,
      nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("cell").asc)
    queryVecs.crossJoin(broadcast(centsDf))
      .withColumn("dist2", euclidDist2("qv"))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))
  }

  /** ‖v − centroid‖² as one aggregate expression — ONE definition for
    * the router and the writer-side assignment, so ranking and
    * residency can never drift apart metric-wise. */
  private def euclidDist2(vecCol: String): org.apache.spark.sql.Column =
    expr(s"aggregate(zip_with($vecCol, centroid, " +
      "(x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 0D, " +
      "(a, v) -> a + v * v)")

  /** Assign vectors to a persisted index's cells by EUCLIDEAN argmin —
    * the SAME rule the KMeans quantizer used at build time (probe
    * ranking is cosine, but residency must match the builder or
    * streamed vectors land in cells the router never associates with
    * them). 16 candidate rows per vector against the broadcast
    * centroid table, integer window argmin — narrow at any scale. */
  private[graft] def assignToCells(batch: DataFrame, cents: DataFrame): DataFrame = {
    // the centroid table is collected once at plan time (NCells rows —
    // the same planning-fetch class as the probe router's cell
    // collect; the old crossJoin(broadcast(cents)) materialized it
    // per batch anyway), then the argmin folds per ROW as one narrow
    // codegen'd projection: array_min over (dist², cell) structs
    // replicates the crossJoin+window's (dist2 asc, cell asc) pick
    // EXACTLY — the per-pair distance keeps euclidDist2's
    // zip_with/aggregate double arithmetic in the same fold order
    // (CAST(float AS DOUBLE) is exact widening, so centroid literals
    // are the same doubles the cast produced), and struct ordering is
    // (d asc, c asc), the same tie rule — with NO 16× row
    // multiplication, NO exchange and NO sort (optimization round 17,
    // guide §2.4: the window exchange + its sort were one of the two
    // jobs every st35 micro-batch paid).
    val cs = cents.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    def d2(cv: Seq[Float]) = aggregate(
      zip_with(col("embedding"), array(cv.map(v => lit(v.toDouble)): _*),
        (x, y) => x.cast("double") - y),
      lit(0d), (a, v) => a + v * v)
    val best = array_min(array(cs.map { case (cell, cv) =>
      struct(d2(cv).as("d"), lit(cell).as("c")) }: _*))
    batch.select(col("vec_id"), col("embedding"),
      best.getField("c").as("cell"))
  }

  /** Exact top-K baseline over an arbitrary (vec_id, embedding)
    * corpus — the in-plan truth the streaming-upsert gate compares
    * against. */
  private[graft] def exactTopK(corpus: DataFrame): DataFrame = {
    val q = corpus.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    corpus.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("n_id"))
  }

  /** Recall@K gate vs the exact baseline — ONE definition of the
    * contract shape s04 (in-session LSH/IVF) and s06 (persisted index)
    * must meet: (n_pairs, hits/n ≥ threshold). Gates compose by
    * crossJoining further gates' boolean (dropping the repeated
    * n_pairs). */
  private[graft] def recallGate(exact: DataFrame, approx: DataFrame,
      threshold: Double, okCol: String): DataFrame = {
    val pair = Seq("q_id", "n_id")
    val n = exact.select(pair.map(col): _*).agg(count(lit(1)).as("n_pairs"))
    val hits = exact.select(pair.map(col): _*)
      .join(approx.select(pair.map(col): _*), pair, "left_semi")
      .agg(count(lit(1)).as("hits"))
    n.crossJoin(hits).select(col("n_pairs"),
      (col("hits").cast("double") / col("n_pairs") >= threshold).as(okCol))
  }

  /** Multi-table random-hyperplane LSH: `nTables` independent tables of
    * `nBits` sign bits each. One table of many bits over-partitions a
    * small/medium corpus into singleton buckets (zero recall); several
    * small tables union their candidate sets — the standard
    * recall/selectivity trade. Emits one (table_id, bucket) row per
    * table per vector. Bucket computation is the fused LshBuckets
    * Catalyst expression (one loop; the unrolled-SQL form put 3072
    * multiply terms in the plan and dominated the query's runtime). */
  private[operators] def bucketed(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("buckets", SketchFunctions.lshBuckets8x6(col(vecCol)))
      .select(col("*"),
        posexplode(col("buckets")).as(Seq("table_id", "bucket")))
      .drop("buckets")

  /** QUERY-side multi-probe bucket expansion: 8 probes per table (all
    * subsets of the three weakest-margin bit flips) from the fused
    * LshProbeBuckets expression. The index keeps the single-bucket
    * layout — multi-probe lifts recall at fixed index size, paying only
    * an 8× larger (still query-count-sized) probe list on the
    * broadcast side. */
  private[operators] def probeBucketed(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("pbuckets", SketchFunctions.lshProbeBuckets8x6(col(vecCol)))
      .select(col("*"), posexplode(col("pbuckets")).as(Seq("ppos", "bucket")))
      .withColumn("table_id", (col("ppos") / 8).cast("int"))
      .drop("pbuckets", "ppos")

  /** Session-scoped PQ index cache: (encoded corpus, codebook). Like
    * ivfCache, the fit is build-once index cost. */
  private val pqCache =
    new graft.SessionLruCache[(DataFrame, Seq[Seq[Seq[Double]]])](4)

  private val PqM = 16    // subspaces
  private val PqSub = 4   // dims per subspace (16×4 = the 64-dim table)
  private val PqCodes = 16

  /** Product-quantization fit + encode: per-subspace k-means codebooks
    * (PqM=16 independent PqSub=4-dim fits, seeded — the classic PQ
    * trainer), then ONE narrow encode pass assigning each vector's 16
    * subvectors to their nearest centroid via a fused argmin expression
    * — no per-(vector, code) row explosion. The codebook is 16·16·4
    * doubles (driver/broadcast-sized by construction, like the IVF
    * centroid table); codes are 16 small ints per vector (16 bytes vs
    * 256 float bytes — 16× scan-traffic compression at 100 TB; the s09
    * comment explains why 16×4 beats 8×8 on these embeddings). */
  private def pqIndex(s: SparkSession, d: String): (DataFrame, Seq[Seq[Seq[Double]]]) =
    pqCache.getOrElseUpdate(s, d) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      // encode L2-NORMALIZED vectors: the ADC score is then a true
      // cosine estimate (a raw-dot ADC ranks by magnitude·angle and
      // diverges from the cosine baseline badly enough to fail the
      // recall gate)
      val corpusRows = Tables(s, d, "embeddings").count() // footer-only
      val e = Tables(s, d, "embeddings")
        .transform(Tables.spread)
        .withColumn("nrm", expr("greatest(sqrt(aggregate(embedding, " +
          "CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * " +
          "CAST(x AS DOUBLE))), CAST(1e-12 AS DOUBLE))"))
        .withColumn("nv",
          expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)"))
      // the 16 per-subspace fits read ONE materialized bounded sample
      // ([[trainSample]] + localCheckpoint) — before this, each fit
      // re-ran the scan+normalize pipeline over the FULL corpus (16
      // sequential sweeps: the dominant bench fixture, and the wrong
      // build at 100 TB). The corpus is touched exactly once more, by
      // the encode pass below.
      val train = trainSample(e, corpusRows).select(col("nv"))
        .localCheckpoint()
      // the 16 subspace fits are INDEPENDENT (disjoint slices of the
      // same materialized sample) — run them concurrently. Each fit
      // is a handful of tiny jobs whose wall clock is dominated by
      // job-scheduling overhead, so sequential fits paid 16× that
      // overhead: the dominant bench fixture (34 s of r11's 79 s
      // fixture total). Spark supports concurrent job submission from
      // one session; the checkpointed sample makes the shared input
      // race-free. Seeds stay per-subspace, so the codebook is
      // unchanged — only the wall clock.
      val cb: Seq[Seq[Seq[Double]]] = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.sequence((0 until PqM).map { m => Future {
          val sub = train.withColumn("fv", array_to_vector(
            expr(s"slice(nv, ${m * PqSub + 1}, $PqSub)")))
          new KMeans().setK(PqCodes).setSeed(42L + m).setMaxIter(5)
            .setFeaturesCol("fv").setPredictionCol("code").fit(sub)
            .clusterCenters.map(_.toArray.toSeq).toSeq
        }}.toSeq), scala.concurrent.duration.Duration(20, "min"))
      }
      // codes ONLY — materializing the float vectors alongside would
      // forfeit the compression the index exists for; rescore reads
      // vectors from the base table
      val codes = e.withColumn("cb", typedLit(cb))
        .select(col("vec_id"), expr(
          s"""transform(sequence(0, ${PqM - 1}), m ->
             |  aggregate(
             |    transform(sequence(0, ${PqCodes - 1}), c ->
             |      named_struct('c', c, 'd',
             |        aggregate(sequence(0, ${PqSub - 1}), CAST(0 AS DOUBLE),
             |          (a, i) -> a +
             |            (nv[m * $PqSub + i] - cb[m][c][i]) *
             |            (nv[m * $PqSub + i] - cb[m][c][i])))),
             |    named_struct('c', -1, 'd', CAST('Infinity' AS DOUBLE)),
             |    (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END).c)
             |""".stripMargin).as("code"))
        .localCheckpoint() // the compressed index: built once
      (codes, cb)
    }

  /** The s09 search path: per-query ADC lookup table → code-only
    * shortlist (top-50 by approximate cosine) → exact rescore top-K. */
  private[graft] def pqTopK(s: SparkSession, d: String): DataFrame = {
    val (codes, cb) = pqIndex(s, d)
    val lutQ = Tables(s, d, "embeddings").filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .withColumn("cb", typedLit(cb))
      .withColumn("lut", expr(
        s"""transform(sequence(0, ${PqM - 1}), m ->
           |  transform(sequence(0, ${PqCodes - 1}), c ->
           |    aggregate(sequence(0, ${PqSub - 1}), CAST(0 AS DOUBLE),
           |      (a, i) -> a + CAST(qv[m * $PqSub + i] AS DOUBLE) * cb[m][c][i])))
           |""".stripMargin))
      .select(col("q_id"), col("qv"), col("lut"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id").asc)
    val shortlist = codes.select(col("vec_id").as("n_id"), col("code"))
      .join(broadcast(lutQ), col("q_id") =!= col("n_id"))
      .withColumn("adc", expr(
        s"aggregate(sequence(0, ${PqM - 1}), CAST(0 AS DOUBLE), " +
          "(a, m) -> a + lut[m][code[m]])"))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= 50)
      .select(col("q_id"), col("qv"), col("n_id"), col("adc"))
    val vn = Tables(s, d, "embeddings")
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    shortlist.join(vn, "n_id")
      .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc"), col("cos"))
  }

  /** The s10 IVFPQ search path: coarse cells bound WHICH vectors are
    * scored (s03's routing), PQ codes bound WHAT is read per vector
    * (s09's compression) — candidates = probed cells' code entries
    * only, ADC-scored via the per-query LUT, exact rescore on the
    * top-50. Residual-free composition (codes quantize the vectors,
    * not their cell residuals): cheaper to build, a little recall
    * pessimal vs classic IVFPQ — which is exactly what the in-plan
    * gate measures. */
  private[graft] def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    val (assigned, centsDf) = ivfIndex(s, d)
    val (codes, cb) = pqIndex(s, d)
    // the serving index: cell-routed code entries — the inverted list
    // a real IVFPQ index stores (cell → [vec_id, 16-byte code])
    val index = assigned.select(col("vec_id"), col("cell"))
      .join(codes, "vec_id")
    val q = Tables(s, d, "embeddings").filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val lutQ = q.withColumn("cb", typedLit(cb))
      .withColumn("lut", expr(
        s"""transform(sequence(0, ${PqM - 1}), m ->
           |  transform(sequence(0, ${PqCodes - 1}), c ->
           |    aggregate(sequence(0, ${PqSub - 1}), CAST(0 AS DOUBLE),
           |      (a, i) -> a + CAST(qv[m * $PqSub + i] AS DOUBLE) * cb[m][c][i])))
           |""".stripMargin))
      .select(col("q_id"), col("lut"))
    val routed = probeCells(q, centsDf, 5).join(lutQ, "q_id")
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id").asc)
    val shortlist = index.join(broadcast(routed), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", expr(
        s"aggregate(sequence(0, ${PqM - 1}), CAST(0 AS DOUBLE), " +
          "(a, m) -> a + lut[m][code[m]])"))
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"), col("adc"))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= 50)
    val vn = Tables(s, d, "embeddings")
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    shortlist.join(vn, "n_id")
      .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("n_id"))
  }

  /** Block-decomposed EXACT corpus-wide top-K: every vector's true
    * top-K neighbors — the recall restatement for s08. Two scale
    * disciplines compose: the d05 block trick (B ordered block tasks
    * hash-join on block ids, so neither side is a corpus-sized
    * broadcast and no BroadcastNestedLoopJoin appears) and the s05
    * aggregate shape (TopKByAggregate keeps a k-bounded heap per query,
    * so the shuffle after scoring carries ≤K pairs per query per map
    * task instead of sort-spilling |corpus| candidates per query).
    *
    * Session-cached (the ivfCache discipline): the O(n²) exact pass is
    * the GATE's restatement, not the operator under measurement — it
    * was 7.3 s of s08's bench wall at sf0.1, recomputed identically on
    * every invocation. */
  private val exactSelfCache = new graft.SessionLruCache[DataFrame](4)

  private def exactSelfTopK(s: SparkSession, d: String): DataFrame =
    exactSelfCache.getOrElseUpdate(s, d)(
      exactSelfTopKUncached(s, d).localCheckpoint())

  private def exactSelfTopKUncached(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 8
    val e = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(B)).cast("int").as("bid"))
    // driver-side block task list (B rows, a LocalRelation): the query
    // side replicates once per candidate block; candidates stream.
    val tasks = (0 until B).flatMap(i => (0 until B).map(j => (i, j)))
      .toDF("bi", "bj")
    val left = e.join(broadcast(tasks), col("bid") === col("bi"))
      .select(col("bj"), col("vec_id").as("q_id"), col("embedding").as("qv"))
    val right = e.select(col("bid").as("bj2"),
      col("vec_id").as("n_id"), col("embedding").as("nv"))
    left.join(right, col("bj") === col("bj2"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKFunctions.topkBy(
        VectorFunctions.cosineSim(col("qv"), col("nv")), col("n_id"), K)
        .as("top"))
      .select(col("q_id"), explode(col("top")).as("entry"))
      .select(col("q_id"), col("entry.payload").as("n_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(

    // ── s01: exact top-k cosine per query vector (brute force).
    "s01_ann_bruteforce" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .transform(Tables.spread)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      c.join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("n_id"),
          col("rank").cast("int").as("rank"),
          (round(col("cos"), 6) + 0.0).as("cos")) // +0.0: normalize -0.0
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── s18: RANGE SEARCH (radius query) — the fixed-threshold dual
    // of s01's top-k: every corpus vector within cosine ≥ 0.25 of each
    // query vector, however many there are (the retrieval shape dedup
    // and hard-negative mining actually want — "all near X", not
    // "exactly k"). Same 100 TB plan as s01/s05: queries broadcast
    // (bounded build side), the corpus streams one pass, the radius
    // predicate filters map-side so the shuffle carries only members —
    // for unbroadcastable query batches the d05 block decomposition
    // applies unchanged. Unrounded double threshold compare is the
    // PROVEN d05 discipline (hash-green at 0.35 since round 6); the
    // nearest cos sits ≥ 3e-5 from 0.25 at every SF, 10 decades above
    // double noise.
    "s18_ann_range_search" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .transform(Tables.spread)
      c.join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .filter(col("cos") >= 0.25)
        .select(col("q_id"), col("n_id"),
          (round(col("cos"), 6) + 0.0).as("cos"))
        .orderBy(col("q_id"), col("n_id"))
    }),

    // ── s19: IVF-PROBED RANGE SEARCH — s18's sublinear sibling (the
    // d05↔d12 pairing applied to radius queries): route each query to
    // its 6 nearest IVF cells in the index's own metric (Euclid, the
    // s06 discipline), rescore ONLY the probed cells' members with
    // exact cosine at the s18 threshold. The rescore is exact, so
    // false positives are structurally zero — counted in-plan by an
    // anti-join (the d12 discipline), not assumed — and the traded
    // quantity is recall alone, gated in-plan vs the exact member set
    // (the s04 contract). At 100 TB the probe reads 6/16 of the
    // corpus per query batch instead of all of it, and cell routing
    // is centroid-sized plan metadata.
    "s19_ann_range_ivf" -> ((s, d) => {
      val (assigned, cents) = ivfIndex(s, d)
      val q = assigned.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val exact = assigned
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .filter(VectorFunctions.cosineSim(col("qv"), col("nv")) >= 0.25)
        .select(col("q_id"), col("n_id"))
      val probed = probeCellsEuclid(q, cents, nProbe = 6)
      val members = assigned
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
          col("cell"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .filter(VectorFunctions.cosineSim(col("qv"), col("nv")) >= 0.25)
        .select(col("q_id"), col("n_id"))
      val fp = members.join(exact, Seq("q_id", "n_id"), "left_anti")
        .agg((count(lit(1)) === 0).as("zero_false_pos"))
      recallGate(exact, members, 0.7, "range_ivf_recall_ok")
        .crossJoin(fp)
    }),

    // ── s05: batch kNN JOIN — same exact semantics as s01 but at query
    // BATCH scale (100 queries) and with per-query top-k computed by
    // the custom bounded TopKByAggregate instead of a ranking window.
    // The difference is the 100 TB plan: the window form sorts EVERY
    // scored (query, candidate) pair through the q_id shuffle
    // (|batch|·|corpus| rows), while the aggregate form reduces
    // map-side to a k-bounded heap — the shuffle carries at most k
    // pairs per query PER MAP TASK and merge is O(k). ObjectHashAgg
    // partial/final, one corpus pass. Query batches too big to
    // broadcast would take d05's block decomposition on the join; the
    // aggregate shape is unchanged.
    "s05_knn_batch" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .transform(Tables.spread)
      c.join(broadcast(q), col("q_id") =!= col("n_id"))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKFunctions.topkBy(
          VectorFunctions.cosineSim(col("qv"), col("nv")),
          col("n_id"), K).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("q_id"), col("entry.payload").as("n_id"),
          (col("pos") + 1).cast("int").as("rank"),
          (round(col("entry.ord"), 6) + 0.0).as("cos"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── s02: LSH-bucketed ANN — 8 tables × 6 sign bits; the query side
    // is MULTI-PROBED (8 buckets per table: every subset of the three
    // weakest-margin bit flips), candidates are the union of the
    // probed buckets across tables (distinct), then exact cosine
    // rescore. The bucket join replaces the full scan; multi-probe
    // lifts recall@3 from 0.4 (single-probe) to ≥0.93 at every SF —
    // gated at 0.8 by s04 — with zero extra index size.
    "s02_ann_lsh" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val q = probeBucketed(emb.filter(col("vec_id") < NQ), "embedding")
        .select(col("vec_id").as("q_id"), col("table_id"), col("bucket"))
      val c = bucketed(emb, "embedding")
        .select(col("vec_id").as("n_id"), col("table_id"), col("bucket"))
      val cands = c.join(broadcast(q), Seq("table_id", "bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id")).distinct()
      val vq = Tables(s, d, "embeddings")
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val vn = Tables(s, d, "embeddings")
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      cands.join(broadcast(vq), "q_id").join(vn, "n_id")
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("n_id"),
          col("rank").cast("int").as("rank"),
          (round(col("cos"), 6) + 0.0).as("cos")) // +0.0: normalize -0.0
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── s03: IVF (inverted-file) ANN — coarse k-means quantizer,
    // vectors assigned to their nearest centroid cell, queries probe
    // the 3 nearest cells, exact cosine rescore inside the probed
    // cells. The centroid set is tiny and broadcast; at 100 TB the
    // cell assignment is one narrow pass and each query touches
    // ~nProbe/nCells of the corpus. The index is built ONCE per
    // session and dataset — repeat queries, and the bench's min-of-2,
    // measure the probe path. Round 13: the quantizer is the
    // INTEGER-EXACT portable k-means (ivfIntFit) — seeds, Lloyd
    // steps, assignment, and routing all exact int64, so the DuckDB
    // oracle replays the whole index and this row is fully
    // hash-checked (the last ANN rows-only entry retired with s02's).
    "s03_ann_ivf" -> ((s, d) => {
      val (assigned, cents) = ivfIntIndex(s, d)
      ivfIntProbe(assigned, cents)
    }),

    // ── s17: IVF SERVED FROM THE LAKE CATALOG — the round-14 bridge:
    // the index input is no longer plain parquet but the VERSIONED DML
    // table (q164's ARRAY<FLOAT> surface), and specifically a
    // TIME-TRAVEL read of the pre-MERGE snapshot: the table takes an
    // update wave AFTER v1, and the probe must still reproduce s03's
    // result BIT-FOR-BIT because `VERSION AS OF 1` is the fixture
    // verbatim — which is exactly the production contract (an ANN
    // index is built against a snapshot, not against whatever the
    // table mutated into while the build ran). Oracle = the s03 SQL
    // unchanged; a leak of post-merge vectors into the index input, a
    // lossy array round-trip through the blob codec, or a time-travel
    // resolution bug all break the hash.
    "s17_ann_catalog_served" -> ((s, d) => {
      graft.Tables(s, d, "embeddings").createOrReplaceTempView("s17_emb")
      s.sql("DROP TABLE IF EXISTS graft_dml.ns.embsrv")
      s.sql("CREATE TABLE graft_dml.ns.embsrv (vec_id BIGINT, " +
        "embedding ARRAY<FLOAT>, label INT) " +
        "PARTITIONED BY (bucket(4, vec_id))")
      s.sql("INSERT INTO graft_dml.ns.embsrv " +
        "SELECT vec_id, embedding, label FROM s17_emb") // v1 = fixture
      // the post-snapshot churn the time-travel read must NOT see
      s.sql("""MERGE INTO graft_dml.ns.embsrv t
        USING (SELECT vec_id FROM s17_emb WHERE vec_id % 3 = 0) m
        ON t.vec_id = m.vec_id
        WHEN MATCHED THEN UPDATE SET
          embedding = transform(t.embedding, x -> -x)""")
      val (assigned, cents) = ivfIntIndexFor(s, s"$d#dml-int",
        s.sql("SELECT vec_id, embedding " +
          "FROM graft_dml.ns.embsrv VERSION AS OF 1"))
      ivfIntProbe(assigned, cents)
    }),

    // ── s06: PERSISTED IVF index — the build/save/serve split every
    // production ANN deployment runs: the index (cell assignment +
    // centroids) is WRITTEN as parquet, cell-partitioned, and serving
    // LOADS it — the builder and the searcher are different jobs,
    // possibly different clusters, and the index outlives both. Serving
    // is ROUTED: the probed cell ids (≤ nProbe·|queries|, computed from
    // the tiny broadcast centroid table) become a static IN filter on
    // the index scan's PARTITION column, so the scan reads only the
    // probed cells' directories — ~nProbe/nCells of the index
    // regardless of corpus size (PersistedIndexSpec pins the
    // PartitionFilters and the pruned partition count; the cell-list
    // collect is router work over centroids, dimension-sized like q69's
    // bounds fetch, never data). The served result must meet the SAME
    // recall contract as the in-session index (s04's ivf gate):
    // persistence and routing may cost nothing in quality, and that
    // contract — not the engine-specific neighbor lists — is the green
    // CORRECTNESS row.
    "s06_ann_persisted" -> ((s, d) => {
      val exact = queries("s01_ann_bruteforce")(s, d)
      recallGate(exact, servedProbe(s, d), 0.3, "persisted_recall_ok")
    }),

    // ── s07: SCALAR-QUANTIZED (SQ8) search — the memory-compression
    // scale path next to LSH's and IVF's candidate pruning: vectors
    // compress to one byte per dimension (4× less scan traffic at
    // 100 TB; the first stage of every PQ/SQ deployment), the cheap
    // integer-dot pass ranks candidates on codes alone, and only the
    // top-10 get the exact float rescore. Quantization is
    // INTEGER-EXACT by construction — floats scale to fixed-point
    // via floor (never round: half-way ties differ across engines),
    // per-dimension [min, max] come off one aggregate, and
    // code = (s−min)·255 div (max−min) is all int64 — so unlike
    // s02/s03 the whole result is differentially checkable: DuckDB
    // replays quantization, code ranking, and rescore bit-for-bit.
    // The [min,max] table rides as a broadcast 1-row array frame
    // (in-plan, the q97-bounds pattern), never a collect.
    "s07_ann_quantized" -> ((s, d) => {
      val dim = 64
      val sv = Tables(s, d, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("sv"))
      val bounds = sv
        .select(posexplode(col("sv")).as(Seq("i", "v")))
        .groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .agg(expr("transform(array_sort(collect_list(struct(i, mn))), x -> x.mn)").as("mnl"),
          expr("transform(array_sort(collect_list(struct(i, mx))), x -> x.mx)").as("mxl"))
      val codes = sv.crossJoin(broadcast(bounds))
        .select(col("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), i -> " +
            "CASE WHEN mxl[i] = mnl[i] THEN 0L " +
            "ELSE ((sv[i] - mnl[i]) * 255) div (mxl[i] - mnl[i]) END)")
            .as("code"))
        .localCheckpoint() // the compressed index: built once, scanned once
      val qc = codes.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("code").as("qcode"))
      val wq = Window.partitionBy(col("q_id"))
        .orderBy(col("qdot").desc, col("n_id").asc)
      val shortlist = codes.select(col("vec_id").as("n_id"), col("code"))
        .join(broadcast(qc), col("q_id") =!= col("n_id"))
        .withColumn("qdot",
          expr("aggregate(zip_with(qcode, code, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
        .withColumn("qrank", row_number().over(wq))
        .filter(col("qrank") <= 10)
        .select(col("q_id"), col("n_id"))
      val vq = Tables(s, d, "embeddings")
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val vn = Tables(s, d, "embeddings")
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      shortlist.join(broadcast(vq), "q_id").join(vn, "n_id")
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("n_id"),
          col("rank").cast("int").as("rank"),
          (round(col("cos"), 6) + 0.0).as("cos"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── s09: PRODUCT-QUANTIZED (PQ) ANN — the codebook compression
    // next to SQ8's per-dimension scalars: 16 per-subspace k-means
    // codebooks (16 codes × 4 dims each) over L2-NORMALIZED vectors,
    // every vector encoded to 16 code ids (16 bytes vs 256 floats —
    // the 16× memory/scan cut IVFPQ serves billion-vector indexes
    // with). Search is ASYMMETRIC DISTANCE COMPUTATION: each query
    // precomputes a 16×16 dot-product lookup table against the
    // codebook (query-count-sized, broadcast), a candidate's
    // approximate cosine is 16 table lookups — no float vector is
    // touched until the top-50 shortlist's exact rescore. Config is
    // data-driven: these embeddings are near-isotropic with a tight
    // cosine spread, so 8×8-dim subspaces left too much quantization
    // noise (recall 0.27); halving the subspace dim quartered the
    // per-cell variance and lifted recall@3 to 0.93. Quality is the
    // s04 discipline: recall@3 vs the exact baseline thresholded
    // in-plan (gate 0.6), so codebook drift or an encode/LUT index
    // bug fails CORRECTNESS. At 100 TB: fit on a sample, encode in
    // one narrow pass (the cache makes it build-once), scan codes not
    // vectors; compose with s03's IVF cells for the full IVFPQ shape.
    "s09_ann_pq" -> ((s, d) => {
      recallGate(queries("s01_ann_bruteforce")(s, d), pqTopK(s, d), 0.6,
        "pq_recall_ok")
    }),

    // ── s10: IVFPQ — the two orthogonal ANN economies composed the
    // way billion-vector serving indexes (FAISS IVFPQ, ScaNN) ship:
    // the coarse quantizer bounds WHICH vectors are touched (5 of 16
    // cells per query), the product codes bound WHAT is read per
    // touched vector (16 bytes, ADC lookups), and floats appear only
    // in the top-50 exact rescore. Both index halves come from the
    // session caches, so the query measures the serving path. Gate at
    // the IVF route's own threshold (0.3): composed recall is
    // cell-recall × shortlist-survival, dominated by the routing loss
    // s04 already prices (measured 0.60–0.93 across SFs at 5 probes;
    // 3 probes sat at 0.33 on the sf0.001 embedding draw).
    "s10_ann_ivfpq" -> ((s, d) => {
      recallGate(queries("s01_ann_bruteforce")(s, d), ivfPqTopK(s, d), 0.3,
        "ivfpq_recall_ok")
    }),

    // ── s08: ANN SELF-JOIN — corpus×corpus top-K, the shape dedup-aware
    // curation and RAG index builds run at 100 TB: EVERY document gets
    // its K nearest neighbors, not just a query batch (s01/s05) and not
    // just threshold pairs (d12). The corpus query side routes through
    // d12's multi-probed LSH index — each vector's 8-probe expansion
    // joins the capped (256/bucket) base buckets, so candidate volume is
    // bucket-bounded, never all-pairs — then the exact cosine rescore
    // runs through TopKByAggregate (k-bounded heap per doc; no ranking
    // window sorts |candidates| per doc). Quality is the s04 discipline:
    // MEAN PER-DOC recall@K vs the exact block-decomposed restatement
    // (exactSelfTopK — itself BNLJ-free), thresholded in-plan at 0.7.
    // Mean-of-per-doc (not pooled pair recall) is the honest gate: a few
    // high-recall hub documents cannot mask a tail of zero-recall ones.
    // Deterministic (fixed hyperplanes, fixed corpus) → stable green.
    "s08_ann_selfjoin" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val wb = Window.partitionBy(col("table_id"), col("bucket"))
        .orderBy(col("vec_id"))
      // vectors ride IN the index (what a materialized LSH index stores
      // anyway): co-occurrences score immediately at the bucket join
      // and fold straight into the payload-deduping k-heap — no
      // distinct-pairs shuffle, no candidate×vector rescore joins. The
      // same (q, n) pair recurring across tables/probes is absorbed by
      // topk_by_distinct (identical ord by construction).
      val capped = bucketed(emb, "embedding")
        .select(col("vec_id"), col("embedding"), col("table_id"), col("bucket"))
        .withColumn("pos", row_number().over(wb))
        .filter(col("pos") <= 256).drop("pos")
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
          col("table_id"), col("bucket"))
      val probes = probeBucketed(emb, "embedding")
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("table_id"), col("bucket"))
      val approx = probes.join(capped, Seq("table_id", "bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKFunctions.topkByDistinct(
          VectorFunctions.cosineSim(col("qv"), col("nv")), col("n_id"), K)
          .as("top"))
        .select(col("q_id"), explode(col("top")).as("entry"))
        .select(col("q_id"), col("entry.payload").as("n_id"))
      // two consumers of the exact restatement (per-doc sizes + hits):
      // materialized once inside the session cache
      val exact = exactSelfTopK(s, d)
      val hits = exact.join(approx, Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      val meanRecall = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_k"))
        .join(hits, Seq("q_id"), "left")
        .agg(avg(coalesce(col("hits"), lit(0L)).cast("double") / col("n_k"))
          .as("mean_recall"))
      exact.agg(countDistinct(col("q_id")).as("n_docs"),
          count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(meanRecall
          .select((col("mean_recall") >= 0.7).as("self_recall_ok"))))
    }),

    // ── s04: the ANN quality gate — recall@k of the LSH and IVF paths
    // against the exact baseline, computed in-engine as one plan.
    // "Recall is at least X" is an engine-independent CONTRACT, so
    // emitting the thresholded boolean next to the oracle-checkable
    // pair count turns ANN quality into a driver-visible green row
    // (the q23 HLL-tolerance trick). Since round 13 s02/s03 are ALSO
    // hash-checked bit-for-bit (integer-exact bucketing/quantizer);
    // this row remains the QUALITY half of the contract — a recall
    // regression fails CORRECTNESS here even if both engines agree.
    "s04_ann_recall" -> ((s, d) => {
      val exact = queries("s01_ann_bruteforce")(s, d)
      recallGate(exact, queries("s02_ann_lsh")(s, d), 0.8, "lsh_recall_ok")
        .crossJoin(
          recallGate(exact, queries("s03_ann_ivf")(s, d), 0.3, "ivf_recall_ok")
            .drop("n_pairs"))
    }),

    // ── s12: HARD-NEGATIVE MINING — the contrastive-training data op
    // (SimCSE/DPR shape): for each anchor, the most similar corpus
    // vectors BELOW the near-dup threshold. Too-similar candidates are
    // excluded (cos ≥ 0.35, d05's near-dup bar — a near-duplicate
    // labeled "negative" poisons the loss), and the top-3 of what
    // remains are exactly the hard negatives (highest-similarity true
    // negatives). Same broadcast-anchor block join as s01; the band
    // filter rides the codegen'd cosine before ranking. Fully
    // oracle-checked (the band makes it deterministic like s01).
    // ── s14: FILTERED ANN — top-k under a metadata predicate (the
    // vector-DB "filtered search" problem): each query retrieves only
    // among corpus vectors sharing ITS label (same-category
    // retrieval). Strategy = PRE-FILTER: the predicate rides the join
    // condition, so the cosine is computed only for the ~1/10 of
    // candidates that survive — exact by construction, the right
    // plan whenever the predicate is selective (for permissive
    // predicates the IVF route with over-fetch + post-filter (s03's
    // machinery) wins instead; both end in the same exact rescore).
    // Scale: broadcast queries × filtered candidate stream, one
    // narrow pass, ≤ k rows per query survive the rank.
    "s14_ann_filtered" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("label").as("q_label"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      e.select(col("vec_id").as("n_id"), col("embedding").as("nv"),
        col("label").as("n_label"))
        .transform(Tables.spread)
        .join(broadcast(q), col("q_id") =!= col("n_id") &&
          col("n_label") === col("q_label"))
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("n_id"),
          col("n_label").cast("int").as("label"),
          col("rank").cast("int").as("rank"),
          (round(col("cos"), 6) + 0.0).as("cos"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── s15: FILTERED ANN, PERMISSIVE-PREDICATE LEG — s14's
    // pre-filter is right when the predicate is selective (there the
    // filter shrinks the candidate stream). For a PERMISSIVE predicate
    // (here `label < 8`, ~80% of the corpus) the vector-DB answer is
    // the opposite: probe the IVF index predicate-BLIND with an
    // over-fetch (k·8 candidates from the routed cells), post-filter
    // the over-fetched set, and keep the top-k survivors — the index
    // prunes by geometry, the predicate prunes after, and the cells
    // read stay bounded regardless of predicate shape. Emitted as a
    // GATE row (the s04 convention — the approximate set itself is
    // engine-specific): recall ≥ 0.7 vs the in-plan exact FILTERED
    // baseline, plus a non-vacuity pin that the predicate really
    // rejected over-fetched candidates (else the leg collapses to
    // plain ANN and the gate proves nothing). SimilarityGuardSpec
    // re-checks non-vacuity structurally.
    "s15_ann_filtered_ivf" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val (assigned, cents) = ivfIndex(s, d)
      val q = assigned.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      // exact filtered baseline: brute force over the label<8 corpus
      val wx = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      val exact = e.filter(col("label") < 8)
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(wx))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("n_id"))
      // predicate-blind over-fetch from the routed cells (Euclid
      // router — the index's own metric, s06's discipline)
      val probed = probeCellsEuclid(q, cents, nProbe = 6)
      val fetched = assigned
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
          col("cell"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(wx))
        .filter(col("rank") <= K * 8)
        .join(e.select(col("vec_id").as("n_id"), col("label")), Seq("n_id"))
        .localCheckpoint() // two consumers: survivors + the vacuity pin
      val survivors = fetched.filter(col("label") < 8)
        .withColumn("rank2", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("n_id").asc)))
        .filter(col("rank2") <= K)
        .select(col("q_id"), col("n_id"))
      val rejected = fetched.filter(col("label") >= 8)
        .agg((count(lit(1)) > 0).as("predicate_rejected_some"))
      recallGate(exact, survivors, 0.7, "filtered_ivf_recall_ok")
        .crossJoin(rejected)
    }),

    // ── s16: STREAMED-SEGMENT COMPACTION — the maintenance half st35
    // stops short of: every micro-batch appends one cell-partitioned
    // segment file per touched cell, so at a continuous cadence the
    // per-cell file count (and with it probe cost) grows without
    // bound. The compactor is OPTIMIZE's mirror for the ANN index:
    // read base + streamed segments once, rewrite as EXACTLY ONE file
    // per cell (hash-repartition on the cell id — each cell lands in
    // one task, one file), recall-invariant by construction since the
    // row set is untouched. The fixture mirrors st35's layout (80%
    // base fit, four appended segments over the rest); pins in-plan:
    // `served_identical` (the compacted index serves the IDENTICAL
    // neighbor set — stronger than a recall bound), the s06-shaped
    // recall gate on the compacted layout against the exact top-K
    // over the FULL corpus, and `segments_compacted` (total file
    // count strictly shrank). SegmentCompactSpec pins the 1-file-per-
    // cell accounting and the probed-file shrinkage.
    "s16_ann_segment_compact" -> ((s, d) => {
      val idxDir = graft.Scratch.dir(s, "graft_s16_idx", d)
      val e = Tables(s, d, "embeddings")
      val cut = e.agg(expr("(max(vec_id) + 1) * 4 div 5")).head().getLong(0)
      graft.Scratch.materializeOnce(s"$idxDir/base") {
        // same fit (and session cache key) as st35's base index —
        // identical source slice, so the KMeans cost is paid once
        val (assigned, cents) = ivfIndexFor(s, s"$d#st35",
          e.filter(col("vec_id") < cut))
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$idxDir/base/assigned")
        cents.write.mode("overwrite").parquet(s"$idxDir/base/cents")
      }
      val cents = s.read.parquet(s"$idxDir/base/cents")
      graft.Scratch.materializeOnce(s"$idxDir/streamed") {
        // four batch appends stand in for st35's micro-batches: the
        // compactor doesn't care how segments arrived, only that the
        // per-cell file count grew
        for (c <- 0 to 3)
          assignToCells(e.filter(col("vec_id") >= cut &&
              pmod(col("vec_id"), lit(4)) === c), cents)
            .write.mode("append").partitionBy("cell")
            .parquet(s"$idxDir/streamed/seg")
      }
      val segDirs = Seq(s"$idxDir/base/assigned", s"$idxDir/streamed/seg")
      graft.Scratch.materializeOnce(s"$idxDir/compacted") {
        compactSegments(s, segDirs, s"$idxDir/compacted/seg")
      }
      def nFiles(dirs: Seq[String]): Int = dirs.map(segmentFileCount).sum
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val before = probePersistedDirs(s, cents, q, segDirs,
        nProbe = 5, euclidRouter = true)
      val after = probePersistedDirs(s, cents, q,
        Seq(s"$idxDir/compacted/seg"), nProbe = 5, euclidRouter = true)
      // compaction must serve the IDENTICAL neighbor set (pair-count-
      // sized driver checks, the q128 pin discipline)
      val bp = before.select(col("q_id"), col("n_id"))
      val ap = after.select(col("q_id"), col("n_id"))
      val identical = bp.exceptAll(ap).isEmpty && ap.exceptAll(bp).isEmpty
      val exact = exactTopK(e.select(col("vec_id"), col("embedding")))
      recallGate(exact, after, 0.3, "compact_recall_ok")
        .withColumn("served_identical", lit(identical))
        .withColumn("segments_compacted",
          lit(nFiles(Seq(s"$idxDir/compacted/seg")) < nFiles(segDirs)))
    }),

    "s12_hard_negatives" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .transform(Tables.spread)
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .filter(col("cos") < 0.35)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("n_id"),
          col("rank").cast("int").as("rank"),
          (round(col("cos"), 6) + 0.0).as("cos"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── s13: MMR-DIVERSIFIED TOP-K — maximal marginal relevance
    // (Carbonell/Goldstein), the re-ranking every retrieval-for-
    // training pipeline bolts onto plain ANN: plain top-k returns
    // near-duplicates of one mode; MMR greedily selects items scoring
    // high on relevance MINUS similarity-to-already-selected
    // (λ·rel − (1−λ)·max-sim, λ=0.7), so the k results COVER the
    // neighborhood instead of repeating it. Shape: the candidate pool
    // is a distributed TakeOrdered top-12 (one corpus pass, s01's
    // economics); the greedy loop then iterates over POOL-sized frames
    // only (12 rows × 4 rounds, broadcast selected set — d08's
    // bounded-iteration pattern), so corpus scale never enters the
    // loop. Fully oracle-checked: the oracle unrolls the same four
    // greedy rounds as CTEs with identical double arithmetic.
    "s13_mmr_diversify" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cand = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .transform(Tables.spread)
        .crossJoin(broadcast(q))
        .withColumn("rel", VectorFunctions.cosineSim(col("qv"), col("nv")))
        .orderBy(col("rel").desc, col("n_id").asc).limit(12)
        .select(col("n_id"), col("nv"), col("rel"))
        .localCheckpoint()
      var selected: DataFrame = null
      var remaining = cand
      for (r <- 1 to 4) {
        val scored =
          if (selected == null) remaining.withColumn("mmr", col("rel") * lit(0.7))
          else {
            val selVecs = selected.select(col("n_id").as("s_id"),
              col("sv"))
            val msim = remaining.crossJoin(broadcast(selVecs))
              .withColumn("sim",
                VectorFunctions.cosineSim(col("nv"), col("sv")))
              .groupBy(col("n_id")).agg(max(col("sim")).as("msim"))
            remaining.join(msim, "n_id")
              .withColumn("mmr",
                col("rel") * lit(0.7) - col("msim") * lit(0.3))
          }
        val pick = scored.orderBy(col("mmr").desc, col("n_id").asc).limit(1)
          .select(lit(r).as("pick"), col("n_id"), col("mmr"),
            col("nv").as("sv"))
          .localCheckpoint()
        selected =
          if (selected == null) pick
          else selected.unionByName(pick).localCheckpoint()
        remaining = remaining
          .join(pick.select(col("n_id")), Seq("n_id"), "left_anti")
          .localCheckpoint()
      }
      selected.select(col("pick").cast("int").as("pick"), col("n_id"),
        (round(col("mmr"), 6) + 0.0).as("mmr"))
        .orderBy(col("pick"))
    }),

    // ── s11: MULTIMODAL → ANN composition — the m07 encoder output
    // (payload → ArrayType(Float), Multimodal.assetEmbeddings) fed
    // through the SAME IVF index build + probe + rescore path the
    // native embeddings use (ivfIndexFor — only the cache key and the
    // source frame differ), proving the multimodal column is a
    // first-class vector-search input end to end. Gate discipline is
    // s04's: the exact top-K over the same encoder output is computed
    // in-plan (Spark vs Spark, so float-tie order never cross-engines)
    // and the IVF route must recall ≥ the threshold; the oracle
    // restates the pair census from the encoder arithmetic. Threshold
    // 0.3 matches s03's: the stub embeddings are hash-derived (no
    // cluster structure), the worst case for a 3-of-16-cell probe.
    "s11_multimodal_ann" -> ((s, d) => {
      def emb = Multimodal.assetEmbeddings(s, d)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val (assigned, centsDf) = ivfIndexFor(s, s"$d#m07", emb)
      val approx = ivfProbe(assigned, centsDf)
      val exact = exactTopK(assigned.select(col("vec_id"), col("embedding")))
      recallGate(exact, approx, 0.3, "mm_recall_ok")
    })
  ))

  // s17 shares s03's oracle VERBATIM: the catalog-served probe at the
  // pre-merge version must equal the plain-parquet probe bit-for-bit
  val oracles: Map[String, String] = SimilarityOracles.oracles +
    ("s17_ann_catalog_served" -> SimilarityOracles.oracles("s03_ann_ivf"))
}
