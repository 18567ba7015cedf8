package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Bounded top-k as a custom `TypedImperativeAggregate`
  * (SURVEY.md §2.10's "custom fallback" row, implemented for real).
  *
  * `topk_by(ord, payload, k)` keeps the k (ord DESC, payload ASC)-best
  * pairs per group and returns them sorted. Compared to the
  * `row_number().over(window)` formulation (q07), the aggregate form
  * never materializes or sorts whole groups: each map task keeps a
  * k-bounded heap, the shuffle carries at most k pairs per group per
  * task, and merge is O(k). For a group with 1e9 rows at 100 TB that is
  * the difference between shuffling k rows and sort-spilling the group.
  *
  * Buffer = bounded binary min-heap keyed by "goodness" (head = worst
  * kept entry); serialization is a flat (n, double, long, …) buffer.
  */
case class TopKByAggregate(
    ordExpr: Expression,
    payloadExpr: Expression,
    k: Int,
    distinctPayload: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(ordExpr, payloadExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ord", DoubleType, nullable = false),
    StructField("payload", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(k, distinctPayload)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val o = ordExpr.eval(input)
    val p = payloadExpr.eval(input)
    if (o != null && p != null)
      buf.insert(o.asInstanceOf[Double], p.asInstanceOf[Long])
    buf
  }

  override def merge(b1: TopKBuffer, b2: TopKBuffer): TopKBuffer = {
    b2.foreach((o, p) => b1.insert(o, p))
    b1
  }

  override def eval(buf: TopKBuffer): Any = {
    val sorted = buf.sortedDesc
    new GenericArrayData(sorted.map { case (o, p) =>
      InternalRow(o, p)
    }.toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.fromBytes(k, distinctPayload, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByAggregate =
    copy(ordExpr = newChildren(0), payloadExpr = newChildren(1))
}

/** k-bounded binary min-heap over (ord, payload) "goodness":
  * better = higher ord, then lower payload; heap head = worst kept. */
final class TopKBuffer(val k: Int, val distinctPayload: Boolean = false) {
  private val ords = new Array[Double](k)
  private val pays = new Array[Long](k)
  private var n = 0

  // a is WORSE than b (a belongs nearer the heap head)
  @inline private def worse(oa: Double, pa: Long, ob: Double, pb: Long): Boolean =
    oa < ob || (oa == ob && pa > pb)

  def insert(o: Double, p: Long): Unit = {
    if (distinctPayload && containsPayload(p)) return // same pair, same ord
    if (n < k) {
      ords(n) = o; pays(n) = p; n += 1
      var i = n - 1 // sift up
      while (i > 0 && worse(ords(i), pays(i), ords((i - 1) / 2), pays((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (n > 0 && worse(ords(0), pays(0), o, p)) {
      ords(0) = o; pays(0) = p // replace worst, sift down
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var w = i
        if (l < n && worse(ords(l), pays(l), ords(w), pays(w))) w = l
        if (r < n && worse(ords(r), pays(r), ords(w), pays(w))) w = r
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }
  }

  // O(k) scan; k is small by contract (top-3/top-10). Valid only
  // because a given payload always carries the SAME ord (cosine of a
  // fixed pair), so "already kept" implies "identical entry".
  @inline private def containsPayload(p: Long): Boolean = {
    var i = 0
    while (i < n) { if (pays(i) == p) return true; i += 1 }
    false
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val o = ords(i); ords(i) = ords(j); ords(j) = o
    val p = pays(i); pays(i) = pays(j); pays(j) = p
  }

  def foreach(f: (Double, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(ords(i), pays(i)); i += 1 }
  }

  def sortedDesc: Seq[(Double, Long)] =
    (0 until n).map(i => (ords(i), pays(i)))
      .sortBy { case (o, p) => (-o, p) }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + n * 16)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(ords(i)); bb.putLong(pays(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(k: Int, distinctPayload: Boolean, bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k, distinctPayload)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }
}

object TopKFunctions {
  def topkBy(ord: Column, payload: Column, k: Int): Column =
    call_function("topk_by", ord, payload, org.apache.spark.sql.functions.lit(k))

  /** topk_by that keeps at most ONE entry per payload — for candidate
    * streams where the same (group, payload) pair legitimately recurs
    * with an identical ord (e.g. multi-table LSH co-occurrences), so
    * the distinct-pairs shuffle can be skipped entirely. */
  def topkByDistinct(ord: Column, payload: Column, k: Int): Column =
    call_function("topk_by_distinct", ord, payload,
      org.apache.spark.sql.functions.lit(k))
}
