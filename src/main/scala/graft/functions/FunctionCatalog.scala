package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Single source of truth for every custom Catalyst function the
  * library ships: name → expression builder. Consumed two ways:
  *
  *  - [[graft.GraftSession.prepare]], which registers the entries a
  *    session lacks as session-scoped temp functions before any query
  *    row runs, and
  *  - [[graft.GraftExtensions]], which injects the whole catalog at
  *    session build time via `SparkSessionExtensions` — the deploy-time
  *    form (`spark.sql.extensions=graft.GraftExtensions`) that gives
  *    every session, including pure-SQL ones, the full surface with no
  *    driver-side register calls.
  */
object FunctionCatalog {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (e => SimHash64(e.head)),
    "minhash_sig16" -> (e => MinHashSignature(e.head, 16)),
    "lsh_buckets_8x6" ->
      (e => LshBuckets(e.head, SketchFunctions.hyperplanes(8, 6, 64), 8, 6)),
    "lsh_probe_buckets_8x6" ->
      (e => LshProbeBuckets(e.head, SketchFunctions.hyperplanes(8, 6, 64), 8, 6)),
    "sorted_intersect_count" -> (e => SortedIntersectCount(e(0), e(1))),
    "poly_hash" -> (e => PolyHash(e.head)),
    "rolling_min4_w8" -> (e => RollingMinK(e.head, 8, 4)),
    "portable_simhash60" -> (e => PortableSimHash60(e.head)),
    "cosine_sim" -> (e => CosineSimilarity(e(0), e(1))),
    "shingles" ->
      (e => ShingleGenerator(e.head, positiveInt(e(1), "shingles: n"))),
    "topk_by" ->
      (e => TopKByAggregate(e(0), e(1), positiveInt(e(2), "topk_by: k"))
        .toAggregateExpression()),
    "topk_by_distinct" ->
      (e => TopKByAggregate(e(0), e(1),
        positiveInt(e(2), "topk_by_distinct: k"), distinctPayload = true)
        .toAggregateExpression()),
    // Spark's internal runtime-filter bloom pair, surfaced as callable
    // functions (the engine injects them itself only across joins —
    // q53; d15 uses them as an explicit two-phase membership gate).
    // Child must be an xxhash64-style long; (items, bits) foldable.
    "bloom_agg" ->
      (e => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    "bloom_might_contain" ->
      (e => new org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(e(0), e(1)))
  )

  // both takers are sizes: n = 0 would emit phantom empty rows from the
  // generator, k = 0 a useless aggregate — reject at registration
  private def positiveInt(e: Expression, what: String): Int =
    (if (e.foldable) e.eval(null) else null) match {
      case i: Int if i >= 1  => i
      case l: Long if l >= 1 => l.toInt
      // non-foldable (a column reference from SQL), null literal, zero,
      // negative, non-integer: one friendly message instead of a raw
      // eval exception from inside Catalyst
      case other => throw new IllegalArgumentException(
        s"$what must be a positive foldable integer literal, got " +
          (if (other == null) e.sql else other.toString))
    }

  /** Session-scoped registration of the named catalog subset. */
  def register(spark: SparkSession, names: String*): Unit = {
    val byName = builders.toMap
    names.foreach { n =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(n, byName(n), "built-in")
    }
  }
}
