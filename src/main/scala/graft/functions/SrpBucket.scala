package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused sign-random-projection LSH bucket id: all `nPlanes` hyperplane
  * projections of a double-array embedding in one tight loop.
  *
  * Value semantics BIT-IDENTICAL to the HOF formulation it replaces
  * (per plane: `aggregate(zip_with(emb, sequence(1, size(emb)),
  * (x, i) => x * planeComponent(p, i)), 0.0, _+_)`, bit set iff the
  * fold ≥ 0, bits summed): projections accumulate as sequential left
  * folds in element order from 0.0; the plane component for (plane p,
  * 1-based dim d) is `uint32(md5("p{p}-{d}")[0:4]) / 2^32 - 0.5`, the
  * same md5-derived constant the DuckDB oracles mirror. A null element
  * nulls every projection, and `when(null >= 0, bit)` contributes 0 —
  * so the bucket degrades to 0, exactly like the HOF form; an empty
  * array folds every plane to 0.0 ≥ 0 → all bits set.
  *
  * Why it exists (r04 bench): the HOF form recomputes the md5-derived
  * plane component per (row, plane, element), interpreted — 1.9M md5
  * digests to bucket 5k 64-dim embeddings at 6 planes. The components
  * depend only on (plane, dim), so this expression computes them once
  * per task and buckets at ~ns/element, the CosineSim/MinHashSig
  * fusion pattern.
  */
case class SrpBucket(child: Expression, nPlanes: Int, planeOffset: Int = 0)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType

  // (plane, dim) components, computed on first eval for the observed
  // dimensionality and grown if a wider row appears; per-task instance,
  // single-threaded eval
  @transient private var comps: Array[Array[Double]] = _
  @transient private var compDim: Int = 0

  private def component(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = md.digest(s"p$p-$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val x = ((bytes(0) & 0xffL) << 24) | ((bytes(1) & 0xffL) << 16) |
      ((bytes(2) & 0xffL) << 8) | (bytes(3) & 0xffL)
    x.toDouble / 4294967296.0 - 0.5
  }

  private def ensure(dim: Int): Unit = {
    if (dim > compDim) {
      comps = Array.tabulate(nPlanes, dim)((p, i) => component(p + planeOffset, i + 1))
      compDim = dim
    }
  }

  override def nullSafeEval(embAny: Any): Any = {
    val emb = embAny.asInstanceOf[ArrayData]
    val n = emb.numElements()
    ensure(n)
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return 0L // null element ⇒ every proj null ⇒ no bits
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val c = comps(p)
      var proj = 0.0
      var j = 0
      while (j < n) { proj += emb.getDouble(j) * c(j); j += 1 }
      if (proj >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

object SrpBucket {
  /** Column API, self-contained; input: array<double> embedding.
    * `planeOffset` selects an independent hyperplane family per LSH
    * table (table t of width w uses planes [t*w, (t+1)*w)).
    */
  def apply(embDouble: Column, nPlanes: Int): Column =
    apply(embDouble, nPlanes, 0)

  def apply(embDouble: Column, nPlanes: Int, planeOffset: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(
      SrpBucket(GraftExpressionBridge.expression(embDouble), nPlanes, planeOffset))
  }
}
