package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PORTABLE hash primitives: polynomial hashes whose every intermediate
  * fits in an int64 (`acc < 2³⁰`, `acc·37 + 255 < 2³⁶`), so a DuckDB
  * `list_reduce` over `ord(char)` codes computes bit-identical values.
  *
  * This is the round-2 answer to the round-1 `no_oracle` gap: the
  * xxhash64-based sketches (t04 fingerprint, d03 simhash) were
  * correct-but-unverifiable because no other engine can replay Spark's
  * private seeding. Swapping the token/gram hash for a portable
  * polynomial keeps the operator shape (min-k winnowing, simhash bit
  * votes, banding) while making the whole result differentially
  * checkable against DuckDB SQL — the sketches graduate from rows-only
  * to hash-green. xxhash64 remains in the paths where only Spark ever
  * sees the value (d01 digest, d02 minhash perms, d04 gram ids).
  *
  * Codegen stance mirrors SketchExpressions: per-row work is O(text),
  * so the CodegenFallback virtual call is amortized and the fused loop
  * stays JIT-hot; PolyHash (single scalar, inner-loop-friendly) gets
  * real `doGenCode`.
  */
object PortableHash {
  /** 31-polynomial mod 1e9+7 over the UTF-8 bytes (== ASCII codes). */
  final val P1 = 1000000007L
  /** independent second hash: 37-polynomial mod 998244353. */
  final val P2 = 998244353L

  def poly(s: UTF8String, mult: Long, mod: Long): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * mult + (bytes(i) & 0xffL)) % mod
      i += 1
    }
    acc
  }

  /** codegen entry point (static, boxed-free). */
  def poly31(s: UTF8String): Long = poly(s, 31L, P1)
}

/** Portable scalar hash: 31-poly mod 1e9+7 of a string. Codegen'd. */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(PortableHash.poly31(v.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableHash.poly31($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Winnowing-style fingerprint: ROLLING 31-poly hash over character
  * `window`-grams (Rabin–Karp: one multiply-add and one subtract per
  * position, not O(window) per position), keeping the k smallest window
  * hashes (duplicates included — identical repeated grams are signal).
  * Short texts (< window chars) hash their single truncated window.
  * Output is exactly `sort(all window hashes)[0, k)`. */
case class RollingMinK(child: Expression, window: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val P = PortableHash.P1
    // pow = 31^(window-1) mod P — the out-rolling coefficient
    var pow = 1L
    var w = 1
    while (w < window) { pow = pow * 31L % P; w += 1 }
    val mins = Array.fill(k)(Long.MaxValue)
    def offer(h: Long): Unit = {
      if (h < mins(k - 1)) {
        var j = k - 1
        while (j > 0 && mins(j - 1) > h) { mins(j) = mins(j - 1); j -= 1 }
        mins(j) = h
      }
    }
    val eff = math.min(window, n)
    var h = 0L
    var i = 0
    while (i < eff) { h = (h * 31L + (bytes(i) & 0xffL)) % P; i += 1 }
    offer(h)
    while (i < n) {
      // roll: drop bytes(i-window), add bytes(i); keep the residue
      // positive after the modular subtract
      h = ((h - (bytes(i - window) & 0xffL) * pow % P + P) % P * 31L
        + (bytes(i) & 0xffL)) % P
      offer(h)
      i += 1
    }
    val nOut = math.min(k, n - eff + 1)
    new GenericArrayData(mins.take(nOut))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 60-bit SimHash over an array<string> of tokens using the portable
  * double hash: per token, h1 = 31-poly mod 1e9+7 and h2 = 37-poly mod
  * 998244353; pseudo-random bit b of the token is
  * `((h1 + b·h2) mod 1e9+7) & 1` (Kirsch–Mitzenmacher). Strict-majority
  * vote per bit. 60 bits (not 64) keeps the packed value positive in
  * both engines and splits evenly into 4×15-bit bands. */
case class PortableSimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](60)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h1 = PortableHash.poly(s, 31L, PortableHash.P1)
        val h2 = PortableHash.poly(s, 37L, PortableHash.P2)
        var b = 0
        while (b < 60) {
          if (((h1 + b * h2) % PortableHash.P1 & 1L) == 1L) votes(b) += 1
          else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
    java.lang.Long.valueOf(sim)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column API for the portable hash expressions. */
object PortableHashFunctions {
  def polyHash(c: Column): Column = call_function("poly_hash", c)
  def rollingMin4W8(c: Column): Column = call_function("rolling_min4_w8", c)
  def portableSimhash60(c: Column): Column = call_function("portable_simhash60", c)

  /** Portable membership bucket in [0, 100): hash of `prefix ++ key`.
    * THE split/sample primitive — p02 (per-doc sampling + split) and
    * p06 (cluster-keyed leakage-safe split) must agree on what a
    * bucket means, so the definition lives here once, next to its
    * oracle-SQL twin. */
  def splitBucket(prefix: String, key: Column): Column =
    org.apache.spark.sql.functions.pmod(
      polyHash(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit(prefix), key.cast("string"))),
      org.apache.spark.sql.functions.lit(100L))

  /** The 80/10/10 split label over [[splitBucket]]. */
  def splitLabel(bucket: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    when(bucket < 80, lit("train")).when(bucket < 90, lit("val"))
      .otherwise(lit("test"))
  }

  /** DuckDB restatement of [[polyHash]] over a SQL string expression —
    * the char-fold replay. */
  def polyHashSql(strExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($strExpr, ''),
       |        ch -> ord(ch))), (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** DuckDB restatement of the independent second hash (37-poly mod
    * 998244353 — PortableSimHash60's h2). */
  def polyHash2Sql(strExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($strExpr, ''),
       |        ch -> ord(ch))), (a, b) -> (a * 37 + b) % 998244353)""".stripMargin

  /** DuckDB restatement of one LSH hyperplane component —
    * [[graft.functions.SketchFunctions.hyperplanes]]'s
    * (h1·h2 mod P1) mod 2001 − 1000 over the "lsh:p:i" key. */
  def lshPlaneSql(strExpr: String): String =
    s"""((${polyHashSql(strExpr)}) * (${polyHash2Sql(strExpr)}))
       |      % 1000000007 % 2001 - 1000""".stripMargin

  /** DuckDB restatement of [[splitBucket]] over a SQL key expression —
    * the char-fold polyHash replay, mod 100. */
  def splitBucketSql(prefix: String, keyExpr: String): String =
    polyHashSql(s"'$prefix' || $keyExpr") + " % 100"

  /** DuckDB restatement of [[splitLabel]]. */
  def splitLabelSql(bucketExpr: String): String =
    s"""CASE WHEN $bucketExpr < 80 THEN 'train'
       |     WHEN $bucketExpr < 90 THEN 'val' ELSE 'test' END""".stripMargin
}
