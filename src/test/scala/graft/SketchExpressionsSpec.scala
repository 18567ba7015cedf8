package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SketchFunctions, VectorFunctions}

class SketchExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("cosine_sim matches a reference double computation") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(2.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSim($"a", $"b")).as[Double].collect()
    def ref(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    assert(got(0) === ref(Array(1f, 2f, 3f), Array(4f, 5f, 6f)))
    assert(got(1) === 0.0)
    assert(got(2) === 1.0)
  }

  test("cosine_sim is null for mismatched lengths or zero vectors") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f))
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSim($"a", $"b")).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("sorted_intersect_count merges correctly") {
    val df = Seq(
      (Array(1L, 3L, 5L, 7L), Array(3L, 4L, 5L, 8L)),   // {3,5} → 2
      (Array[Long](), Array(1L, 2L)),                    // 0
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L))            // 3
    ).toDF("a", "b")
    val got = df.select(SketchFunctions.sortedIntersectCount($"a", $"b"))
      .as[Int].collect()
    assert(got.toSeq == Seq(2, 0, 3))
  }

  test("simhash64 is deterministic and near-identical docs are close") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away",
      "the quick brown fox jumps over the lazy dog and runs far home",
      "completely different words entirely unrelated to anything above now"
    ).toDF("text")
      .select(SketchFunctions.simhash64(split(lower($"text"), "\\s+")).as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) != 0L)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) < ham(hs(0), hs(2)))
    // determinism: re-evaluate
    val hs2 = Seq("the quick brown fox jumps over the lazy dog and runs far away")
      .toDF("text")
      .select(SketchFunctions.simhash64(split(lower($"text"), "\\s+")).as("h"))
      .as[Long].collect()
    assert(hs2(0) == hs(0))
  }

  test("minhash_sig16 estimates jaccard") {
    val a = (1 to 40).map(i => s"tok$i")
    val b = (1 to 40).map(i => if (i <= 36) s"tok$i" else s"other$i") // jac = 36/44 ≈ 0.82
    val df = Seq((a, b)).toDF("a", "b")
      .select(SketchFunctions.minhashSig16($"a").as("sa"),
        SketchFunctions.minhashSig16($"b").as("sb"))
    val r = df.collect()(0)
    val sa = r.getSeq[Long](0); val sb = r.getSeq[Long](1)
    assert(sa.length == 16 && sb.length == 16)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 16.0
    assert(est > 0.4 && est <= 1.0) // coarse: 16 perms, high-jaccard pair
  }

  test("simhash64 is token-order and multiplicity-sign invariant") {
    val toks = "alpha beta gamma delta epsilon zeta".split(" ").toSeq
    val perms = Seq(toks, scala.util.Random.shuffle(toks), toks ++ toks)
    val hs = perms.map { p =>
      Seq(Tuple1(p)).toDF("t")
        .select(SketchFunctions.simhash64($"t")).as[Long].collect()(0)
    }
    assert(hs(0) == hs(1), "order-invariant (votes are a bag sum)")
    assert(hs(0) == hs(2), "doubling every vote preserves all signs")
  }

  test("minhash_sig16 of a union is the elementwise min of signatures") {
    val a = (1 to 30).map(i => s"a$i")
    val b = (1 to 30).map(i => s"b$i")
    def sig(xs: Seq[String]): Seq[Long] =
      Seq(Tuple1(xs)).toDF("t")
        .select(SketchFunctions.minhashSig16($"t")).collect()(0).getSeq[Long](0)
    val sa = sig(a); val sb = sig(b); val su = sig(a ++ b)
    assert(su == sa.zip(sb).map { case (x, y) => math.min(x, y) })
  }

  test("lsh_buckets_8x6 emits 8 bucket ids in [0, 64)") {
    val df = Seq(Tuple1(Array.tabulate(64)(i => (i % 7 - 3).toFloat)))
      .toDF("v")
      .select(SketchFunctions.lshBuckets8x6($"v").as("b"))
    val b = df.collect()(0).getSeq[Long](0)
    assert(b.length == 8)
    assert(b.forall(x => x >= 0 && x < 64))
  }
}
