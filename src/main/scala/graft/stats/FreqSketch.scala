package graft.stats

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable frequent-items (heavy-hitters) sketch over datasketches-java's
  * `ItemsSketch[String]` — the skew DETECTOR for mega-repos: at 10^12
  * files, a handful of viral repos (a boilerplate template forked by
  * millions) dominate the corpus, and the engine should be able to NAME
  * them from one pass, not discover them by straggler autopsy.
  *
  * Why a sketch and not `GROUP BY repo ORDER BY count DESC LIMIT k`: the
  * exact form shuffles one row per DISTINCT repo (10^8-10^9 keys at target
  * scale) to answer a question whose answer is ~dozens of rows. The
  * ItemsSketch is bounded at `maxMapSize` entries per partition, merges
  * associatively+commutatively (property-tested — per-batch bytes merge
  * across committed batches), and ships a few KB
  * through the shuffle regardless of key cardinality. Error model
  * (Misra-Gries lineage): every estimate E satisfies
  * true ≤ E ≤ true + N/(2·maxMapSize); items with true count above that
  * epsilon band are GUARANTEED reported (NO_FALSE_NEGATIVES).
  *
  * While the map never fills (distinct keys ≤ ~0.75·maxMapSize) the sketch
  * is in the EXACT regime: estimates are exact counts and lower = upper
  * bound — which is what makes the DuckDB oracle (exact GROUP BY/HAVING)
  * byte-checkable at test scale, with the approximate regime covered by
  * guarantee property tests instead.
  *
  * Same execution shape as [[TDigestAgg]]: a `TypedImperativeAggregate`
  * whose buffer is the live sketch, planned into ObjectHashAggregateExec,
  * serialized only at shuffle boundaries; bytes persist into the audit
  * table and re-merge across runs like the HLL and t-digest states.
  */
case class FreqItemsAgg(
    child: Expression,
    maxMapSize: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike[Expression] {

  require((maxMapSize & (maxMapSize - 1)) == 0 && maxMapSize >= 8,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(buf: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buf.merge(other); buf
  }

  override def eval(buf: ItemsSketch[String]): Any = serialize(buf)

  override def serialize(buf: ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(serde)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): FreqItemsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItemsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): FreqItemsAgg = copy(child = c)
  override def prettyName: String = "freq_items_agg"
}

/** Scalar: decode persisted sketch bytes into the heavy-hitter rows at a
  * count `threshold` — array<struct<item, est, lb, ub>>, NO_FALSE_NEGATIVES
  * cut (every item whose true count ≥ threshold is present; spurious rows
  * are possible only in the approximate regime and carry lb < threshold so
  * callers can see exactly how uncertain they are). Rows come back
  * estimate-descending with item as the deterministic tie-break.
  */
case class FreqItemsRows(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  private val rowType = FreqSketch.hitType

  override def dataType: DataType = ArrayType(rowType, containsNull = false)

  override def nullSafeEval(bytes: Any, threshold: Any): Any = {
    val sk = ItemsSketch.getInstance(
      Memory.wrap(bytes.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe)
    val t = threshold.asInstanceOf[Long]
    val rows = sk.getFrequentItems(t, ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .map(r => InternalRow(UTF8String.fromString(r.getItem),
        r.getEstimate, r.getLowerBound, r.getUpperBound): Any)
    new GenericArrayData(rows): ArrayData
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): FreqItemsRows =
    copy(left = l, right = r)
  override def prettyName: String = "freq_items_rows"
}

object FreqSketch {
  private[stats] val hitType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false)))

  /** Column API: mergeable frequent-items sketch of a string column
    * (binary). `maxMapSize` is the per-buffer entry bound (power of 2);
    * epsilon = N/(2·maxMapSize).
    */
  def freqItemsAgg(c: Column, maxMapSize: Int = 1024): Column =
    ColumnBridge.column(
      FreqItemsAgg(ColumnBridge.expression(c), maxMapSize).toAggregateExpression())

  /** Heavy-hitter rows from sketch bytes at a count threshold (array of
    * structs — explode to a table).
    */
  def freqItems(bytes: Column, threshold: Column): Column =
    ColumnBridge.column(
      FreqItemsRows(ColumnBridge.expression(bytes), ColumnBridge.expression(threshold)))

  /** One-pass skew profile of a key column: every key whose count reaches
    * `threshold` (NO_FALSE_NEGATIVES), as (item, est, lb, ub) rows. One
    * bounded-state aggregation — the shuffle carries sketch bytes, never
    * one row per distinct key — then a driver-free explode of the single
    * result row.
    */
  def heavyHitters(df: DataFrame, keyCol: String, threshold: Long,
                   maxMapSize: Int = 1024): DataFrame =
    df.agg(freqItemsAgg(col(keyCol).cast("string"), maxMapSize).as("sk"))
      .select(explode(freqItems(col("sk"), lit(threshold))).as("h"))
      .select(col("h.item"), col("h.est"), col("h.lb"), col("h.ub"))

  /** Driver-side helpers over persisted sketch bytes (audit-table use). */
  def heapify(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)
  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val sa = heapify(a); sa.merge(heapify(b)); sa.toByteArray(new ArrayOfStringsSerDe)
  }

  /** The NO_FALSE_NEGATIVES key cut from sketch bytes — the candidate set
    * [[graft.dedup.Dedup.boilerplateNgrams]] confirms exactly: every key
    * whose true count reaches `threshold` is guaranteed present (overshoot
    * is possible in the approximate regime). Deterministic order
    * (estimate desc, key asc).
    */
  def hotKeys(bytes: Array[Byte], threshold: Long): Seq[String] =
    heapify(bytes).getFrequentItems(threshold, ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem)).map(_.getItem).toSeq
}
