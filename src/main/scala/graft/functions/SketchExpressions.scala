package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused sketch primitives as native Catalyst expressions.
  *
  * Each replaces a composition of built-ins whose interpreted/codegen
  * form was measured as a bench hot spot at sf0.1:
  *  - SimHash64: replaces explode + 64 conditional SUM aggregates (a
  *    full shuffle of every token) with one narrow per-row pass.
  *  - MinHashSignature: replaces k independent `array_min(transform)`
  *    passes (k hashes/gram) with the standard double-hashing scheme —
  *    two hashes per gram, k fused min-trackers.
  *  - LshBuckets: replaces nTables×nBits unrolled dot-product SQL
  *    expressions (3072 multiply terms in the plan) with one loop.
  *  - SortedIntersectCount: replaces `array_intersect` (per-pair hash
  *    set build) with a primitive merge-scan over pre-sorted hash
  *    arrays — the inner loop of O(n²)/candidate-pair jaccard.
  *
  * All hashing is XxHash64 (seed 42), matching Spark's `xxhash64`.
  * CodegenFallback is deliberate: each eval does O(array) work, so the
  * per-row virtual call is amortized, and the fused loop stays JIT-hot.
  */
object SketchExpressions {
  private val SEED = 42L

  @inline private[functions] def hashStr(s: UTF8String): Long =
    XxHash64Function.hash(s, StringType, SEED)
}

/** 64-bit SimHash over an array<string> of tokens: per-token XxHash64,
  * per-bit ±1 votes, sign → bit. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = SketchExpressions.hashStr(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sim |= (1L << j); j += 1 }
    java.lang.Long.valueOf(sim)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** k-permutation MinHash signature via double hashing:
  * h_i(x) = h1(x) + i·h2(x); one pass, two hashes per element. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h1 = SketchExpressions.hashStr(s)
        val h2 = XxHash64Function.hash(s, StringType, 0x9e3779b97f4a7c15L)
        var j = 0
        var h = h1
        while (j < k) {
          if (h < mins(j)) mins(j) = h
          h += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Multi-table random-hyperplane LSH buckets: for each of nTables
  * tables, nBits sign bits of plane·vec packed into a long. Input
  * array<float|double>; output array<long> of length nTables.
  *
  * INTEGER-EXACT (the s07 discipline, round 13): planes are portable
  * integer hyperplanes and the vector enters as fixed-point
  * floor(x·10⁶) int64, so every dot product — and with it every
  * bucket id and probe margin — is exact int64 arithmetic that DuckDB
  * replays bit-for-bit. That promotion is what turns s02 from
  * rows-only into a fully hash-checked row; sign-random-projection
  * theory only needs a symmetric component distribution, so uniform
  * integer planes keep the recall the s04/d12 gates pin. Magnitudes:
  * |w| ≤ 10³, |sv| ≲ 2²², dim 64 → |dot| ≲ 2⁴⁸, no overflow. */
case class LshBuckets(child: Expression, planes: Array[Array[Long]],
    nTables: Int, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    // fixed-point components once per VECTOR, not per plane: the
    // float→int64 conversion is invariant across the nTables·nBits
    // dot products below (measured bench hot spot)
    val sv = new Array[Long](dim)
    var k = 0
    while (k < dim) {
      val x = if (isFloat) vec.getFloat(k).toDouble else vec.getDouble(k)
      sv(k) = math.floor(x * 1000000d).toLong
      k += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var j = 0
      while (j < nBits) {
        val p = planes(t * nBits + j)
        var dot = 0L
        var i = 0
        val d = math.min(dim, p.length)
        while (i < d) {
          dot += p(i) * sv(i)
          i += 1
        }
        if (dot > 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Multi-probe LSH bucket sequence for the QUERY side: per table, the
  * base bucket plus every neighbor reached by flipping any subset of
  * the THREE weakest sign bits (smallest |plane·vec| margin — the bits
  * most likely to disagree with a true near neighbor's bucket). Output
  * is nTables·8 longs laid out [t0: 8 probes, t1: …]; callers derive
  * table_id = pos div 8. The INDEX side keeps the plain [[LshBuckets]]
  * layout — multi-probe buys recall at query time with zero extra
  * index size, which is the standard trade (Lv et al., VLDB'07):
  * probing 8 buckets/table ≈ 8× the table count without re-bucketing
  * the corpus, at the price of a (still query-count-sized) probe
  * list. */
case class LshProbeBuckets(child: Expression, planes: Array[Array[Long]],
    nTables: Int, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    // as in LshBuckets: one fixed-point pass per vector, reused by
    // all nTables·nBits dots
    val sv = new Array[Long](dim)
    var k = 0
    while (k < dim) {
      val x = if (isFloat) vec.getFloat(k).toDouble else vec.getDouble(k)
      sv(k) = math.floor(x * 1000000d).toLong
      k += 1
    }
    val out = new Array[Long](nTables * 8)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      // three weakest margins: j1 ≤ j2 ≤ j3 by (|dot|, j) — the
      // strict-< insertions keep the EARLIEST bit on margin ties,
      // i.e. exactly a sort by (|dot|, j) ascending, which is what
      // the DuckDB oracle restates. Margins are exact int64 (see
      // LshBuckets), so tie behavior is cross-engine deterministic.
      var j1 = 0; var j2 = 0; var j3 = 0
      var m1 = Long.MaxValue; var m2 = Long.MaxValue; var m3 = Long.MaxValue
      var j = 0
      while (j < nBits) {
        val p = planes(t * nBits + j)
        var dot = 0L
        var i = 0
        val d = math.min(dim, p.length)
        while (i < d) {
          dot += p(i) * sv(i)
          i += 1
        }
        if (dot > 0) bucket |= (1L << j)
        val m = math.abs(dot)
        if (m < m1) { m3 = m2; j3 = j2; m2 = m1; j2 = j1; m1 = m; j1 = j }
        else if (m < m2) { m3 = m2; j3 = j2; m2 = m; j2 = j }
        else if (m < m3) { m3 = m; j3 = j }
        j += 1
      }
      // all 8 subsets of {j1, j2, j3}, base first
      var s = 0
      while (s < 8) {
        var b = bucket
        if ((s & 1) != 0) b ^= (1L << j1)
        if ((s & 2) != 0) b ^= (1L << j2)
        if ((s & 4) != 0) b ^= (1L << j3)
        out(t * 8 + s) = b
        s += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of common elements between two SORTED long arrays (merge scan,
  * no allocation). Callers pre-sort once per row with `array_sort`;
  * jaccard = ic / (|a| + |b| - ic). Codegen'd — this is the inner loop
  * of the candidate-pair joins, so it must not break the whole-stage
  * span (unlike the narrow-stage sketch builders above, where the
  * amortized CodegenFallback call is fine). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(c)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $na && $j < $nb) {
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { $c++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registry + Column API for the sketch expressions. */
object SketchFunctions {

  /** Deterministic PORTABLE hyperplanes shared by all LSH callers:
    * component (p, i) = (h1·h2 mod P1) mod 2001 − 1000 ∈ [−1000,
    * 1000], where h1/h2 are the two independent portable polynomial
    * hashes of "lsh:p:i" (31-poly mod 1e9+7 / 37-poly mod 998244353 —
    * the PortableSimHash60 pair). The PRODUCT is the mixing step a
    * single poly hash lacks: a polynomial hash is LINEAR in its last
    * characters, so neighboring (p, i) strings give near-consecutive
    * values and the "random" planes come out mutually correlated
    * (measured: the single-hash form collapsed s04's LSH recall below
    * its 0.8 gate at every SF); multiplying two hashes under
    * different moduli wraps chaotically and restores independence.
    * Both hashes are DuckDB char-folds, so the oracle regenerates the
    * exact plane matrix in SQL — no PRNG to port. */
  def hyperplanes(nTables: Int, nBits: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(nTables * nBits, dim) { (p, i) =>
      val s = UTF8String.fromString(s"lsh:$p:$i")
      val h1 = PortableHash.poly(s, 31L, PortableHash.P1)
      val h2 = PortableHash.poly(s, 37L, PortableHash.P2)
      h1 * h2 % PortableHash.P1 % 2001L - 1000L
    }

  def simhash64(c: Column): Column = call_function("simhash64", c)
  def minhashSig16(c: Column): Column = call_function("minhash_sig16", c)
  def lshBuckets8x6(c: Column): Column = call_function("lsh_buckets_8x6", c)
  def lshProbeBuckets8x6(c: Column): Column =
    call_function("lsh_probe_buckets_8x6", c)
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
}
