package graft.sim

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Primitive-loop kernel behind [[IvfAssign]]/[[IvfProbes]]. Spark's
  * higher-order functions (`transform`/`aggregate`/`zip_with`) are
  * interpreted with per-element boxing — at production IVF sizing
  * (nlist=1024 × dim=768) an HOF-composed scoring pass costs ~100 ms/row
  * (measured: 20 s for a 200-row corpus; BENCH/BASELINE.md, round-5
  * quiet-window section, plan-cost isolation paragraph), which at 100 TB is
  * disqualifying. These kernels run the same arithmetic over primitive
  * arrays (~2 ms/row at that sizing) and are invoked from generated code,
  * so the scoring stays inside the whole-stage-codegen span.
  *
  * Cosine VALUES are bit-identical to [[graft.dedup.Dedup.cosine]]: per
  * centroid, dot products accumulate left-to-right, the denominator is
  * `sqrt(v·v) * sqrt(c·c)` in that order, and a zero denominator yields
  * exactly `0.0` — so kernels and Column-composed cosine agree on every
  * bit, and the DuckDB oracle's re-derivation stays exact.
  */
object IvfKernel {

  /** All `nlist` cosines for one vector, or null iff the vector is
    * degenerate: empty, zero-norm, any null element, or width ≠ dim
    * (mixed-width rows are rejected as degenerate rather than scored
    * against a truncated centroid).
    */
  private def cosines(v: ArrayData, cents: Array[Array[Double]]): Array[Double] = {
    val n = v.numElements()
    if (n == 0 || cents.length == 0 || n != cents(0).length) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      x(i) = v.getDouble(i)
      i += 1
    }
    var daa = 0.0
    i = 0
    while (i < n) { daa += x(i) * x(i); i += 1 }
    if (daa == 0.0) return null
    val sa = math.sqrt(daa)
    val out = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var dab = 0.0; var dbb = 0.0; var k = 0
      while (k < n) { dab += x(k) * c(k); dbb += c(k) * c(k); k += 1 }
      val denom = sa * math.sqrt(dbb)
      out(j) = if (denom == 0.0) 0.0 else dab / denom
      j += 1
    }
    out
  }

  /** Best-cosine centroid index (first occurrence on ties, mirroring
    * `array_position(arr, array_max(arr))`), or null for degenerate
    * vectors.
    */
  def assign(v: ArrayData, cents: Array[Array[Double]]): Integer = {
    val cos = cosines(v, cents)
    if (cos == null) return null
    var bi = 0; var bv = cos(0); var i = 1
    while (i < cos.length) {
      if (java.lang.Double.compare(cos(i), bv) > 0) { bv = cos(i); bi = i }
      i += 1
    }
    Integer.valueOf(bi)
  }

  /** Top-`nprobe` centroid indices, cosine-descending with lowest-index
    * tie-break (the `array_sort(struct(-cos, i))` ordering: compares the
    * NEGATED cosines with Double ordering, then the index), or null for
    * degenerate vectors — a degenerate query probes nothing instead of
    * aliasing list 0..nprobe-1.
    */
  def probes(v: ArrayData, cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val cos = cosines(v, cents)
    if (cos == null) return null
    val order = new Array[Integer](cos.length)
    var i = 0
    while (i < cos.length) { order(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val d = java.lang.Double.compare(-cos(a.intValue()), -cos(b.intValue()))
        if (d != 0) d else Integer.compare(a.intValue(), b.intValue())
      }
    })
    val np = math.min(nprobe, cos.length)
    val out = new Array[Int](np)
    i = 0
    while (i < np) { out(i) = order(i).intValue(); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `ivf_assign(vec)` — the corpus-side IVF index-build expression: best
  * centroid id per vector, null for degenerate vectors. The centroid
  * matrix lives in the expression NODE (reference-equality field), not as
  * a child literal: plan size, analysis cost and semantic-equality cost
  * are all O(1) in `nlist` (a 2-D `typedLit` carries ~786k boxed doubles
  * at production sizing, and every optimizer-pass hash/equality walk over
  * it is O(nlist·dim)). Codegen emits one kernel call, keeping the
  * assignment projection inside the whole-stage span.
  */
case class IvfAssign(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_assign"

  override protected def nullSafeEval(input: Any): Any =
    IvfKernel.assign(input.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ivfCents", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v => s"""
      java.lang.Integer ivfR = graft.sim.IvfKernel.assign($v, $cents);
      if (ivfR == null) { ${ev.isNull} = true; } else { ${ev.value} = ivfR.intValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)
}

/** `ivf_probes(vec)` — the query-side probe-selection expression: top
  * `nprobe` centroid ids, cosine-descending, null for degenerate query
  * vectors. Same O(1)-plan-size and codegen story as [[IvfAssign]].
  */
case class IvfProbes(child: Expression, centroids: Array[Array[Double]],
                     nprobe: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_probes"

  override protected def nullSafeEval(input: Any): Any =
    IvfKernel.probes(input.asInstanceOf[ArrayData], centroids, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ivfCents", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v => s"""
      org.apache.spark.sql.catalyst.util.ArrayData ivfP =
        graft.sim.IvfKernel.probes($v, $cents, $nprobe);
      if (ivfP == null) { ${ev.isNull} = true; } else { ${ev.value} = ivfP; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbes =
    copy(child = newChild)
}
