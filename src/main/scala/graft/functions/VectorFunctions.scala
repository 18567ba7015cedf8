package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Cosine similarity as a native Catalyst expression (SURVEY.md §2.10).
  *
  * Preference order per the blueprint: built-in higher-order functions
  * first, custom `Expression` second, UDF never. The HOF form
  * (`zip_with` + `aggregate`) allocates an intermediate array per row;
  * this expression does one fused loop over the two ArrayData buffers —
  * no per-row allocation beyond the result — which is what you want when
  * scoring 1e9+ candidate pairs.
  *
  * Math contract (oracle parity): widen each float to double, accumulate
  * dot/norms left-to-right in double, result = dot / (sqrt(na) *
  * sqrt(nb)). This matches DuckDB's `list_cosine_similarity` over
  * double-cast lists bit-for-bit.
  *
  * Implements `doGenCode` so pair-scoring stages stay inside
  * whole-stage codegen — a CodegenFallback in the inner loop of an
  * O(n²)/candidate join would drop the whole stage to interpreted row
  * processing.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, lf); val y = elem(b, i, rf)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    def get(arr: String, i: String, f: Boolean): String =
      if (f) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = ${get(a, i, lf)};
         |    final double $y = ${get(b, i, rf)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Column API for the custom expression. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
}
