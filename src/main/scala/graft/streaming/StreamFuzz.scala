package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** RANDOMIZED DIFFERENTIAL STREAMING FUZZING — the streaming twin of
  * [[graft.sources.DmlFuzz]]: the 41 st* rows pin hand-picked
  * streaming contracts; this sweeps the space between them. The core
  * equivalence every stateful-streaming engine owes its users is
  * BATCH/STREAMING CONSISTENCY: for a watermark-free computation,
  * processing the input in ANY micro-batch slicing must end in the
  * same state as processing it all at once. A seeded PRNG draws a
  * synthetic keyed input, a random 2–4-way chunk slicing (one file
  * per micro-batch via maxFilesPerTrigger=1, mtime-ordered — the
  * deterministic file→batch recipe st30 established), and a random
  * computation from a small total grammar; the streamed drain must
  * equal the SAME DataFrame program run as one batch, and a
  * plain-Scala fold (the model) pins both for the driver-gated rows.
  *
  * Grammar shapes and their drain canonicalization:
  *  - agg/complete: groupBy(k%m).agg(sum, count, max) after an
  *    optional filter — the memory sink holds the final table.
  *  - agg/update: same aggregate; the sink accumulates per-batch
  *    emissions, and because count(*) is MONOTONE per key, the final
  *    state is each key's max-count row (the established st-row
  *    discipline).
  *  - stateless/append: filter + arithmetic projection — multiset
  *    equality.
  *  - join/append: stream-static equi-join against a deterministic
  *    dim frame — stateless, multiset equality.
  *  - dedup/append: dropDuplicates on the key, keys only (emission
  *    VALUES are arrival-order-dependent; the key SET is not).
  */
object StreamFuzz {
  import graft.operators.Fuzz.Rng

  final case class Plan(seed: Long, rows: Seq[(Long, Long)], chunks: Int,
      shape: String, mode: String, m: Long, filterC: Option[Long]) {
    def desc: String = s"$shape/$mode m=$m filter=$filterC " +
      s"rows=${rows.size} chunks=$chunks"
    /** Output column names, in [[StreamFuzz.build]]/[[model]] order —
      * the ONE place the shape→columns mapping lives (the pinned
      * rows' frame and their DuckDB oracle both read it, so they can
      * never drift apart). */
    def cols: Seq[String] = shape match {
      case "agg"       => Seq("g", "s_v", "n", "mx")
      case "stateless" => Seq("k", "v", "w")
      case "join"      => Seq("k", "v", "label")
      case "dedup"     => Seq("k")
    }
  }

  /** Independent RNG stream (the FuzzExt discipline: new draws must
    * never re-deal the other fuzzers' pinned seeds). */
  def draw(seed: Long): Plan = {
    val rng = new Rng(seed ^ 0x57f00dfeed5L)
    val n = 30 + rng.nextInt(51)
    val rows = (0 until n).map(_ =>
      (rng.nextInt(20).toLong, rng.nextInt(100).toLong))
    val chunks = 2 + rng.nextInt(3)
    val m = (2 + rng.nextInt(5)).toLong
    val filterC = if (rng.chance(50)) Some(rng.nextInt(80).toLong) else None
    val shape = rng.pick(Seq("agg", "agg", "agg", "stateless", "join",
      "dedup"))
    val mode = shape match {
      case "agg" => rng.pick(Seq("complete", "update"))
      case _     => "append"
    }
    Plan(seed, rows, chunks, shape, mode, m, filterC)
  }

  /** The computation, shape-identical over a streaming or batch
    * frame. */
  def build(p: Plan, df: DataFrame, dim: DataFrame): DataFrame = {
    val base = p.filterC.map(c => df.filter(col("v") > c)).getOrElse(df)
    p.shape match {
      case "agg" =>
        base.groupBy(pmod(col("k"), lit(p.m)).as("g"))
          .agg(sum("v").as("s_v"), count(lit(1)).as("n"),
            max("v").as("mx"))
      case "stateless" =>
        base.select(col("k"), col("v"),
          (col("k") * 3 + col("v")).as("w"))
      case "join" =>
        base.join(dim, "k").select(col("k"), col("v"), col("label"))
      case "dedup" =>
        base.dropDuplicates("k").select(col("k"))
    }
  }

  /** Deterministic stream-static dim side: every possible key with a
    * computed label. */
  def dim(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until 20L).map(k => (k, k * 7 + 1)).toDF("k", "label")
  }

  /** The plain-Scala model — no Spark: the pinned rows' oracle
    * source. Output column order matches [[build]]. */
  def model(p: Plan): Seq[Seq[Long]] = {
    val in = p.filterC.map(c => p.rows.filter(_._2 > c)).getOrElse(p.rows)
    p.shape match {
      case "agg" =>
        in.groupBy(t => Math.floorMod(t._1, p.m)).toSeq.map {
          case (g, ts) =>
            Seq(g, ts.map(_._2).sum, ts.size.toLong, ts.map(_._2).max)
        }
      case "stateless" =>
        in.map(t => Seq(t._1, t._2, t._1 * 3 + t._2))
      case "join" =>
        in.map(t => Seq(t._1, t._2, t._1 * 7 + 1))
      case "dedup" =>
        in.map(_._1).distinct.map(Seq(_))
    }
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  /** Lay the plan's rows out as one parquet dir per chunk with
    * strictly increasing mtimes (file source orders by (modTime,
    * path) — st30's recipe), returning the glob. */
  private def writeChunks(s: SparkSession, p: Plan, tag: String): String = {
    val src = graft.Scratch.dir(s, "graft_sfz_src", s"$tag-${p.seed}")
    graft.Scratch.deleteTree(src)
    import s.implicits._
    val t0 = 1700000000000L
    for (c <- 0 until p.chunks) {
      val dir = s"$src/c$c"
      p.rows.zipWithIndex.collect { case (r, i) if i % p.chunks == c => r }
        .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir)
      new java.io.File(dir).listFiles().foreach { f =>
        require(f.setLastModified(t0 + c * 60000L),
          s"setLastModified failed for $f — deterministic file->batch " +
            "mapping does not hold on this filesystem")
      }
    }
    s"$src/c*"
  }

  /** Canonical final state of a drained sink. */
  private def canon(p: Plan, rows: Seq[Seq[Long]]): Seq[Seq[Long]] = {
    implicit val ord: Ordering[Seq[Long]] =
      Ordering.Implicits.seqOrdering[Seq, Long]
    val c = p.mode match {
      case "update" =>
        // count(*) (column 2) is monotone per key: the final state is
        // each group's max-count emission
        rows.groupBy(_.head).values.map(_.maxBy(_(2))).toSeq
      case _ => rows
    }
    c.sorted
  }

  /** Run one seed end to end: stream the chunked input through the
    * drawn computation, drain, and diff against the one-batch run of
    * the SAME program AND the plain-Scala model. Returns the number
    * of micro-batches (callers pin multi-batch non-vacuity) and the
    * canonicalized STREAMED final state (the pinned rows' engine
    * output). */
  def run(s: SparkSession, seed: Long, tag: String)
      : (Long, Seq[Seq[Long]]) = {
    val p = draw(seed)
    val glob = writeChunks(s, p, tag)
    val qn = s"sfz_${graft.Scratch.tag(tag)}_$seed"
    // state partitions scoped like every pinned st row (optimization
    // round 17, guide §2 right-size shuffles): unscoped, the drain
    // inherited the session's core-count partitioning — 32 state
    // partitions × stores × micro-batches of tiny per-batch files at
    // local[32], which made st42 cost 2× MORE at 32 cores than 8
    // (3.17 vs 1.67 s driver-side). Results are partition-count
    // independent (the in-run batch/model differentials stay live).
    val q = StreamingOps.withStatePartitions(s) {
      build(p, s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(glob), dim(s))
        .writeStream.outputMode(p.mode).format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val batches = q.lastProgress.batchId + 1
    def collect(df: DataFrame): Seq[Seq[Long]] =
      df.collect().map(r =>
        (0 until r.length).map(i => r.getLong(i)).toSeq).toSeq
    val streamed = canon(p, collect(s.table(qn)))
    val batch = canon(p.copy(mode = "complete"),
      collect(build(p, s.read.schema(schema).parquet(glob), dim(s))))
    val modeled = canon(p.copy(mode = "complete"), model(p))
    assert(streamed == batch,
      s"seed $seed (${p.desc}): streamed drain != batch run\n" +
        s"  streamed: $streamed\n  batch:    $batch")
    assert(batch == modeled,
      s"seed $seed (${p.desc}): batch run != model fold\n" +
        s"  batch: $batch\n  model: $modeled")
    s.catalog.dropTempView(qn)
    (batches, streamed)
  }

  /** Pinned seeds promoted to driver-gated rows: the row streams the
    * seed's chunked input through the drawn computation (differential
    * asserts live) and returns the drained final state; the DuckDB
    * oracle is the independent model fold as a VALUES literal. Seeds
    * chosen so st42 draws agg/update (the stateful shape) and st43
    * draws a stateless append — both multi-batch. */
  val Pinned: Seq[(String, Long)] = Seq(
    ("st42_stream_fuzz_agg", 5L),
    ("st43_stream_fuzz_stateless", 28L))

  def pinnedResult(s: SparkSession, seed: Long, tag: String): DataFrame = {
    val p = draw(seed)
    // the STREAMED drain (engine output, multi-batch), with the
    // engine==batch==model differential asserts live inside run();
    // the DuckDB oracle below is the independent model fold
    val (_, streamed) = run(s, seed, tag)
    val cols = p.cols
    import s.implicits._
    streamed.map(r => (r.lift(0).getOrElse(0L), r.lift(1).getOrElse(0L),
      r.lift(2).getOrElse(0L), r.lift(3).getOrElse(0L)))
      .toDF("c0", "c1", "c2", "c3")
      .select((0 until cols.size).map(i => col(s"c$i").as(cols(i))): _*)
      .orderBy(cols.map(col): _*)
  }

  def pinnedOracle(seed: Long): String = {
    val p = draw(seed)
    val cols = p.cols
    implicit val ord: Ordering[Seq[Long]] =
      Ordering.Implicits.seqOrdering[Seq, Long]
    val rows = model(p).sorted
    require(rows.nonEmpty, s"pinned stream-fuzz seed $seed drew an " +
      "empty final state — an empty hash gate checks nothing")
    val vals = rows.map(_.map(v => s"CAST($v AS BIGINT)")
      .mkString("(", ", ", ")")).mkString(", ")
    s"SELECT * FROM (VALUES $vals) AS t(${cols.mkString(", ")}) " +
      s"ORDER BY ${cols.mkString(", ")}"
  }
}
