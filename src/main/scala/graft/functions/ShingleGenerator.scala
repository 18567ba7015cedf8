package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Generator — the engine's UDTF surface (SURVEY §2.10).
  *
  * `shingles(tokens, n)` emits one `(pos, shingle)` row per word-level
  * n-gram of the token array: the row-generating counterpart of the
  * scalar shingle machinery in Dedup (which keeps grams as arrays). A
  * Generator is the idiomatic Spark form for one-row→many-rows
  * operators: it participates in the plan as a `Generate` node — per
  * partition, no shuffle, streamed through the downstream consumer —
  * exactly like the built-in `explode`/`posexplode`, rather than
  * detouring through an array column + explode (which materializes the
  * whole per-row output array before exploding it; a Generator yields
  * rows lazily, so a 1 M-token document never holds its 1 M shingles in
  * memory at once).
  *
  * Joining with ' ' (not a zero-width separator) keeps the shingle
  * text reconstructible and matches Dedup.withGrams' gram text.
  */
case class ShingleGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingles expects array<string>, got ${other.catalogString}")
    }
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("shingle", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val toks = v.asInstanceOf[ArrayData]
      val m = toks.numElements() - n + 1
      if (m <= 0) Iterator.empty
      else (0 until m).iterator.flatMap { i =>
        // null tokens invalidate every window containing them
        if ((i until i + n).exists(toks.isNullAt)) Iterator.empty
        else {
          val parts = (i until i + n).map(toks.getUTF8String)
          val row = new GenericInternalRow(2)
          row.update(0, i)
          row.update(1, UTF8String.concatWs(UTF8String.fromString(" "), parts: _*))
          Iterator.single(row)
        }
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GeneratorFunctions {
  def shingles(tokens: Column, n: Column): Column =
    call_function("shingles", tokens, n)
}
