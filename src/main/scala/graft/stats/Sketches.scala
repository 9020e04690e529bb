package graft.stats

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.tdigest.TDigestDouble
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Mergeable t-digest aggregate over datasketches-java 6.2.0 (on the Spark
  * classpath). The north star requires "quantiles via t-digest" with
  * persisted, RE-MERGEABLE digest bytes in the audit table — built-in
  * `approx_percentile` returns quantile VALUES, not a mergeable state, so a
  * resumed run could not combine old and new partitions. This is a
  * `TypedImperativeAggregate`: the buffer is the live sketch object
  * (serialized only at shuffle boundaries), planned into
  * ObjectHashAggregateExec — the same execution shape as Spark's own
  * datasketches-backed `hll_sketch_agg`.
  *
  * Merge is associative + commutative (property-tested), which is exactly
  * what makes map-side partials and cross-batch merges of committed bytes
  * exact.
  */
case class TDigestAgg(
    child: Expression,
    k: Short = 100,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestDouble] with UnaryLike[Expression] {

  override def createAggregationBuffer(): TDigestDouble = new TDigestDouble(k)

  override def update(buf: TDigestDouble, input: InternalRow): TDigestDouble = {
    val v = child.eval(input)
    if (v != null) {
      val d = v match {
        case d: Double => d
        case f: Float => f.toDouble
        case n: Number => n.doubleValue()
      }
      if (!d.isNaN) buf.update(d)
    }
    buf
  }

  override def merge(buf: TDigestDouble, other: TDigestDouble): TDigestDouble = {
    buf.merge(other); buf
  }

  override def eval(buf: TDigestDouble): Any = buf.toByteArray

  override def serialize(buf: TDigestDouble): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): TDigestDouble =
    TDigestDouble.heapify(Memory.wrap(bytes))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TDigestAgg = copy(child = c)
  override def prettyName: String = "tdigest_agg"
}

/** Scalar: quantile at rank `q` from persisted digest bytes. */
case class TDigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(bytes: Any, q: Any): Any = {
    val d = TDigestDouble.heapify(Memory.wrap(bytes.asInstanceOf[Array[Byte]]))
    if (d.isEmpty) null else d.getQuantile(q.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TDigestQuantile =
    copy(left = l, right = r)
  override def prettyName: String = "tdigest_quantile"
}

object Sketches {
  /** Column API: mergeable t-digest of a numeric column (binary).
    * Default k=200: measured median-rank error 0.010 (vs 0.029 at k=100)
    * on the sf0.001 lineitem price column — the sketched-KS fallback needs
    * rank error well under the KS critical D at small batch sizes.
    */
  def tdigestAgg(c: Column, k: Short = 200): Column =
    ColumnBridge.column(
      TDigestAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  def tdigestQuantile(bytes: Column, q: Column): Column =
    ColumnBridge.column(
      TDigestQuantile(ColumnBridge.expression(bytes), ColumnBridge.expression(q)))

  /** Driver-side helpers over persisted digest bytes. */
  def heapify(bytes: Array[Byte]): TDigestDouble = TDigestDouble.heapify(Memory.wrap(bytes))
  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val da = heapify(a); da.merge(heapify(b)); da.toByteArray
  }
}
