package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PolyHash, PortableHashFunctions, RollingMinK}

/** Properties of the portable (DuckDB-replayable) hash expressions, plus
  * the d05 plan-shape assertion the round-1 verdict asked for. The
  * rolling/min-k kernels are property-tested at the expression level
  * (Literal + eval — no Spark job per sample); the Spark-side wiring is
  * covered by the oracle-checked t04/d03/m02 queries themselves. */
class PortableHashSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val P = 1000000007L

  private def polyRef(s: String, mult: Long, mod: Long): Long =
    s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * mult + (b & 0xffL)) % mod)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private val asciiGen: Gen[String] =
    Gen.listOf(Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString)

  test("PolyHash equals the naive fold for arbitrary ASCII strings") {
    check(Prop.forAll(asciiGen) { s =>
      PolyHash(Literal(s)).eval(null).asInstanceOf[Long] == polyRef(s, 31L, P)
    })
  }

  test("RollingMinK equals sort-all-windows-take-k (rolling == naive)") {
    check(Prop.forAll(asciiGen, Gen.chooseNum(1, 12), Gen.chooseNum(1, 6)) { (s, w, k) =>
      (s.isEmpty) || {
        val got = RollingMinK(Literal(s), w, k).eval(null)
          .asInstanceOf[ArrayData].toLongArray().toSeq
        val windows = (0 to math.max(s.length - w, 0))
          .map(i => polyRef(s.substring(i, math.min(i + w, s.length)), 31L, P))
        got == windows.sorted.take(k)
      }
    })
  }

  test("portable_simhash60 stays in 60 bits, is deterministic, and ranks similarity") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away",
      "the quick brown fox jumps over the lazy dog and runs far home",
      "completely different words entirely unrelated to anything above now")
    def run() = docs.toDF("text")
      .select(PortableHashFunctions.portableSimhash60(split(lower($"text"), "\\s+")))
      .as[Long].collect().toSeq
    val h = run()
    assert(h == run())
    assert(h.forall(v => v >= 0L && v < (1L << 60)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(1)) < ham(h(0), h(2)))
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = PlanWalk.allNodes(p)

  /** A nested-loop join is benign iff its BUILD side is a single-row
    * global aggregate (the in-plan scalar-broadcast pattern, e.g. d08's
    * id-space cutoff): the "loop" runs once per streamed row against
    * one value. Anything else is a scale-killer. */
  private def isSingleRowBuild(j: BroadcastNestedLoopJoinExec): Boolean = {
    val build = j.buildSide match {
      case BuildLeft  => j.left
      case BuildRight => j.right
    }
    allNodes(build).exists {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case _                    => false
    }
  }

  test("pair-generating and join-heavy plans have no nested-loop or cartesian operator") {
    // Every query whose candidate/pair volume grows with the data must
    // stay on equi-join machinery (single-row-build nested loops
    // excepted — see isSingleRowBuild). Deliberately NOT asserted: s01
    // (brute-force ANN baseline — the broadcast nested loop over 5
    // query vectors IS the semantics), s03 (16-centroid broadcast
    // cross is the probe-ranking step), s04 (recall arithmetic over
    // those baselines), and s05 (the 100-vector query-batch broadcast
    // is the same bounded-build class as s01 — the corpus side still
    // makes exactly one pass; what scales is reduced by the k-heap
    // aggregate, not the join).
    val pairHeavy = Seq(
      "d01_dedup_exact", "d02_dedup_minhash_lsh", "d03_dedup_simhash",
      "d04_dedup_ngram_jaccard", "d05_dedup_embedding",
      "q03_region_revenue", "q04_priority_revenue", "q20_star_join",
      "q28_salted_join", "q30_asof_join", "q34_bucketed_join",
      "q35_range_join", "q38_correlated_subquery", "q39_lateral_join",
      "s02_ann_lsh", "p01_corpus_select",
      "d08_dedup_incremental", "q42_dpp_join", "q47_snapshot_diff",
      "q48_session_window", "t07_decontaminate", "q50_schema_drift",
      "d09_semantic_clusters", "q51_upsert_apply", "p03_token_shards",
      "t09_repetition", "p04_mixture_balance",
      "q55_exchange_reuse", "t10_tfidf_terms",
      "q71_rolling_active", "p07_train_order", "p06_leakage_safe_split",
      "q73_multiset_ops", "q75_concurrency", "q77_cohort_retention",
      "q78_hll_merge", "q79_funnel", "q81_collation", "t11_search",
      "g01_pagerank", "g02_triangles", "q90_spj_agg", "q91_spj_join",
      "q92_scd2_build", "d10_tfidf_cosine", "g03_copurchase",
      "q100_pit_join", "d12_dedup_embedding_lsh", "d13_line_dedup",
      "d14_cluster_reps", "s08_ann_selfjoin", "t15_lm_score",
      "m06_media_dedup", "p10_quality_sample", "q113_geo_radius_join",
      "d16_semantic_dedup")
    // q53's queries entry returns only the scratch read-back (the join
    // runs inside the conf-scoped write), so sweep the LIVE join plan
    // directly instead of the vacuous closure
    val plans = pairHeavy.map(q =>
      q -> SparkEntry.queries(q)(spark, SparkSuite.sf)) :+
      ("q53_bloom_join (urgentJoin)" ->
        graft.plans.RuntimeFilter.urgentJoin(spark, SparkSuite.sf))
    for ((q, df) <- plans) {
      df.collect() // finalize adaptive plans before inspecting
      val bad = allNodes(df.queryExecution.executedPlan).collect {
        case j: BroadcastNestedLoopJoinExec if !isSingleRowBuild(j) => j
        case c: CartesianProductExec => c
      }
      assert(bad.isEmpty,
        s"scale-killer operators in $q plan: ${bad.map(_.nodeName)}")
      // the walk itself must be non-vacuous: every swept plan has at
      // least one real operator under the adaptive wrapper
      assert(allNodes(df.queryExecution.executedPlan).size > 3, q)
    }
  }

  test("d05 block decomposition matches the direct all-pairs result") {
    val e = Tables(spark, SparkSuite.sf, "embeddings")
    val direct = e.select($"vec_id".as("a_id"), $"embedding".as("va"))
      .join(e.select($"vec_id".as("b_id"), $"embedding".as("vb")), $"a_id" < $"b_id")
      .withColumn("cos", graft.functions.VectorFunctions.cosineSim($"va", $"vb"))
      .filter($"cos" >= 0.35)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val blocked = SparkEntry.queries("d05_dedup_embedding")(spark, SparkSuite.sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(blocked == direct)
  }
}
