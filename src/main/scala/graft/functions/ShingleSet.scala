package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom expression computing the distinct token 3-gram shingle set from
  * a token array in one pass — the corpus-wide shingling step of
  * decontamination and n-gram Jaccard.
  *
  * The built-in formulation (`array_distinct(transform(sequence(...),
  * i -> concat_ws(element_at×3)))`) evaluates interpreted per element and
  * re-boxes every index lookup; profiled 10.6 s just to explode 260 k
  * shingles from 5,000 documents at sf0.1 — this one-pass loop over the
  * token array's UTF8Strings is ~20× cheaper. Same fusion rationale as
  * [[MinHashSig]] (which inlines its own shingling for the same reason).
  *
  * Semantics match the built-in form the dedup oracles mirror
  * (`list_distinct(list_transform(range(...), ...))` in DuckDB): distinct
  * shingles in first-occurrence order, empty array for fewer than 3
  * tokens.
  */
case class ShingleSet(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(toksAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i + 2 < n) {
      seen.add(UTF8String.concat(
        toks.getUTF8String(i), space, toks.getUTF8String(i + 1), space,
        toks.getUTF8String(i + 2)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  /** Column API, self-contained; input: token array. */
  def apply(tokens: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(ShingleSet(GraftExpressionBridge.expression(tokens)))
  }
}
