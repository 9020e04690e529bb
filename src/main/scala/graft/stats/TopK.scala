package graft.stats

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.{Comparator, TreeSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{bitwise_not, struct, transform, when}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, KnownNotNull}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.graftbridge.CollectTopKBridge
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one policy behind the two custom "keep the k first items of a
  * group, exactly" aggregates here: a TreeSet capped at k under the item
  * kind's order. Every other exact top-k cut is Spark's built-in
  * `CollectTopK` ([[TopK.firstK]], [[TopK.topKStrings]], [[TopK.topKPairs]]),
  * whose map-side partials hold at most k rows per task. Two users stay:
  *  - [[MinKStringsAgg]] needs DISTINCT values, and `CollectTopK` keeps
  *    duplicates;
  *  - [[AdcTopKAgg]] keeps one set per query in one buffer across many
  *    queries, which was measured faster than a per-pair group.
  *
  * A row is inserted only when it beats the current last, so the ~all rows
  * that miss the cut cost one compare, and it is copied only when it
  * enters. Merge re-inserts the other side, keeping the k first of both:
  * associative and commutative, so map-side partial aggregation is exact;
  * the shuffle carries at most mapTasks × k items per group. Buffers
  * serialize as length-prefixed item lists; they only cross a shuffle and
  * are never persisted.
  */
object Bounded {
  /** An item type: its order, its owned copy and its serialized form. */
  abstract class Kind[T](val order: Comparator[T]) {
    /** A copy that owns its bytes: a row's value may alias a reused buffer. */
    def own(x: T): T = x
    def write(out: DataOutputStream, x: T): Unit
    def read(in: DataInputStream): T
  }

  /** Spark's string order: unsigned UTF-8 bytes, where Java's UTF-16
    * `String.compareTo` disagrees on non-ASCII keys. (`UTF8String.compareTo`
    * is the same compare but refuses to run under `spark.testing`.)
    */
  object Strings extends Kind[UTF8String]((a, b) => a.binaryCompare(b)) {
    override def own(s: UTF8String): UTF8String = s.clone()
    def write(out: DataOutputStream, s: UTF8String): Unit = {
      out.writeInt(s.numBytes)
      s.writeTo(out)
    }
    def read(in: DataInputStream): UTF8String = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      UTF8String.fromBytes(b)
    }
  }

  /** (score desc, id asc) in Spark's sort order: `-0.0` ties `0.0` and
    * NaN is the largest score, where `java.lang.Double.compare` would rank
    * 0.0 ahead of -0.0 whatever the ids.
    */
  object Pairs extends Kind[(Double, Long)]((a, b) => {
    val d = SQLOrderingUtil.compareDoubles(b._1, a._1)
    if (d != 0) d else java.lang.Long.compare(a._2, b._2)
  }) {
    def write(out: DataOutputStream, p: (Double, Long)): Unit = {
      out.writeDouble(p._1)
      out.writeLong(p._2)
    }
    def read(in: DataInputStream): (Double, Long) = (in.readDouble(), in.readLong())
  }

  def insert[T](kind: Kind[T], set: TreeSet[T], k: Int, x: T, copy: Boolean): Unit =
    if (set.size < k || kind.order.compare(x, set.last()) < 0) {
      if (set.add(if (copy) kind.own(x) else x) && set.size > k) set.pollLast()
    }

  def mergeInto[T](kind: Kind[T], set: TreeSet[T], other: TreeSet[T], k: Int): Unit =
    other.forEach(insert(kind, set, k, _, copy = false))

  def write[T](kind: Kind[T], sets: Iterable[TreeSet[T]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    sets.foreach { set => out.writeInt(set.size); set.forEach(kind.write(out, _)) }
    out.flush()
    bos.toByteArray
  }

  def read[T](kind: Kind[T], bytes: Array[Byte], sets: Array[TreeSet[T]]): Array[TreeSet[T]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    sets.foreach { set => for (_ <- 0 until in.readInt()) set.add(kind.read(in)) }
    sets
  }
}

/** A [[Bounded]] set as a Spark aggregate: the k first items of a group, as
  * an array in the kind's order. A case class supplies the kind, the row's
  * item (null skips the row) and the array element.
  *
  * `Serializable` so that Java deserialization of a plan never runs this
  * constructor: it would see `k = 0` and fail the `require` on every task.
  */
abstract class BoundedKAgg[T >: Null <: AnyRef]
  extends TypedImperativeAggregate[TreeSet[T]] with Serializable {

  def k: Int
  require(k > 0, "k must be positive")

  protected def kind: Bounded.Kind[T]
  protected def item(input: InternalRow): T
  protected def element(x: T): Any

  override def createAggregationBuffer(): TreeSet[T] = new TreeSet[T](kind.order)

  override def update(buf: TreeSet[T], input: InternalRow): TreeSet[T] = {
    val x = item(input)
    if (x != null) Bounded.insert(kind, buf, k, x, copy = true)
    buf
  }

  override def merge(buf: TreeSet[T], other: TreeSet[T]): TreeSet[T] = {
    Bounded.mergeInto(kind, buf, other, k)
    buf
  }

  override def eval(buf: TreeSet[T]): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    buf.forEach { x => out(i) = element(x); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: TreeSet[T]): Array[Byte] = Bounded.write(kind, Seq(buf))
  override def deserialize(bytes: Array[Byte]): TreeSet[T] =
    Bounded.read(kind, bytes, Array(createAggregationBuffer())).head
  override def nullable: Boolean = false
}

/** The k smallest DISTINCT strings, ascending — the one-pass form of capped
  * deterministic violation sampling (SURVEY O5), exactly the sample
  * `SELECT DISTINCT key ORDER BY key LIMIT k` gives. The two-phase
  * alternative (count violations in the stats pass, then a second scan with
  * a rank cut ≤ cap to locate samples) re-reads and re-hashes the
  * content column for every batch that has violations; this aggregate rides
  * the SAME scan as the counts with ~k × keylen bytes of state.
  */
case class MinKStringsAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BoundedKAgg[UTF8String] with UnaryLike[Expression] {

  override protected def kind: Bounded.Kind[UTF8String] = Bounded.Strings
  override protected def item(input: InternalRow): UTF8String =
    child.eval(input).asInstanceOf[UTF8String]
  override protected def element(s: UTF8String): Any = s

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def withNewMutableAggBufferOffset(o: Int): MinKStringsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinKStringsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MinKStringsAgg = copy(child = c)
  override def prettyName: String = "min_k_strings"
}

/** Batched multi-query top-k — the ADC scan's aggregate: consumes ONE row
  * per corpus code carrying the full per-query score array (from
  * [[graft.sim.PqAdcScores]]) and keeps `nq` [[Bounded]] sets in one
  * buffer, so the 51M-row `posexplode` + per-row group hashing the
  * per-pair form needs never materializes (measured 5.8 s → the explode
  * dominated; this form touches each (code, query) pair as one primitive
  * compare). GLOBAL aggregate — no group key: the partial phase builds
  * all sets per partition, merge combines per query, and the single
  * output row explodes into `(qidx, id)` pairs. Same (score desc, id asc)
  * cut as a window, exactly.
  */
case class AdcTopKAgg(
    idExpr: Expression,
    scoresExpr: Expression,
    qids: Array[Long],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[TreeSet[(Double, Long)]]]
  with BinaryLike[Expression] {

  private def nq: Int = qids.length
  require(qids.nonEmpty && k > 0, "qids/k must be non-empty/positive")

  override def left: Expression = idExpr
  override def right: Expression = scoresExpr

  override def createAggregationBuffer(): Array[TreeSet[(Double, Long)]] =
    Array.fill(nq)(new TreeSet[(Double, Long)](Bounded.Pairs.order))

  override def update(buf: Array[TreeSet[(Double, Long)]],
                      input: InternalRow): Array[TreeSet[(Double, Long)]] = {
    val idv = idExpr.eval(input)
    val sv = scoresExpr.eval(input)
    if (idv != null && sv != null) {
      val id = idv.asInstanceOf[Long]
      val scores = sv.asInstanceOf[ArrayData]
      if (scores.numElements() == nq) {
        // self-exclusion INSIDE the cut (a query is never its own
        // neighbor), so a self-match can't consume a rerank slot —
        // keeping the cut identical to the pre-filtered window form
        var q = 0
        while (q < nq) {
          if (id != qids(q)) Bounded.insert(Bounded.Pairs, buf(q), k, (scores.getDouble(q), id), copy = false)
          q += 1
        }
      }
    }
    buf
  }

  override def merge(buf: Array[TreeSet[(Double, Long)]],
                     other: Array[TreeSet[(Double, Long)]]): Array[TreeSet[(Double, Long)]] = {
    for (q <- 0 until nq) Bounded.mergeInto(Bounded.Pairs, buf(q), other(q), k)
    buf
  }

  /** Array of `struct<qidx: int, id: bigint>`, per-query blocks in (score desc, id asc) order. */
  override def eval(buf: Array[TreeSet[(Double, Long)]]): Any = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (q <- 0 until nq) buf(q).forEach(p => out += new GenericInternalRow(Array[Any](q, p._2)))
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: Array[TreeSet[(Double, Long)]]): Array[Byte] =
    Bounded.write(Bounded.Pairs, buf)
  override def deserialize(bytes: Array[Byte]): Array[TreeSet[(Double, Long)]] =
    Bounded.read(Bounded.Pairs, bytes, createAggregationBuffer())

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("qidx", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): AdcTopKAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AdcTopKAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcTopKAgg =
    copy(idExpr = l, scoresExpr = r)
  override def prettyName: String = "adc_top_k"
}

object TopK {
  private def agg(f: TypedImperativeAggregate[_]): Column = ColumnBridge.column(f.toAggregateExpression())
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** `c`, declared non-null: for values a null guard has already excluded. */
  private def notNull(c: Column): Column = ColumnBridge.column(KnownNotNull(expr(c)))

  /** The k best `(score, id)` pairs with non-null fields, (score desc, id
    * asc): exactly the first k rows of `ORDER BY score DESC, id ASC`, the
    * map-side cut that the ANN and PQ candidate cuts ride. A rank window
    * would SORT the full scored set (measured ~19 s of a 51M-row ADC scan)
    * and funnel each query's rows through one reducer. `CollectTopK` keeps
    * the k largest `(score, ~id)`: `bitwise_not` reverses a long's order
    * exactly, where negation overflows at `Long.MinValue`; doubles compare
    * as in Spark's sort (NaN largest, `-0.0` ties `0.0`). A double score
    * and a bigint id give `array<struct<score: double, id: bigint>>`.
    */
  def topKPairs(score: Column, id: Column, k: Int): Column = {
    val pair = struct(notNull(score).as("score"), notNull(bitwise_not(id)).as("nid"))
    val top = agg(CollectTopKBridge.lastK(expr(when(score.isNotNull && id.isNotNull, pair)), k))
    transform(top, p => struct(p("score").as("score"), bitwise_not(p("nid")).as("id")))
  }

  /** The k best `(count, item)` pairs with non-null fields, (count desc,
    * item asc in Spark's string order): the repo-metrics cut, the first k
    * rows of `ORDER BY count DESC, repo ASC` per batch, without a rank
    * window, which would funnel every repo of a batch through one
    * reducer's sort; array position = rank − 1. [[firstK]] over
    * `(~count, item)`. A bigint count and a string item give
    * `array<struct<count: bigint, item: string>>`.
    */
  def topKStrings(count: Column, item: Column, k: Int): Column = {
    val pair = struct(notNull(bitwise_not(count)).as("n"), notNull(item).as("item"))
    val top = firstK(when(count.isNotNull && item.isNotNull, pair), k)
    transform(top, p => struct(bitwise_not(p("n")).as("count"), p("item").as("item")))
  }

  /** Column API of [[MinKStringsAgg]]: the k smallest distinct non-null strings, ascending. */
  def minKStrings(c: Column, k: Int): Column = agg(MinKStringsAgg(expr(c), k))

  /** The k smallest non-null values of `c`, duplicates kept, in `orderBy`'s
    * ascending order (struct fields left to right, nulls first, strings in
    * UTF-8 byte order): the first k rows of `ORDER BY c` as one mergeable
    * aggregate: Spark's built-in `CollectTopK`.
    */
  def firstK(c: Column, k: Int): Column = agg(CollectTopKBridge.firstK(expr(c), k))

  /** Column API of [[AdcTopKAgg]]: `array<struct<qidx, id>>`; `qids(q)` is
    * excluded from query q's set (self-match).
    */
  def adcTopK(id: Column, scores: Column, qids: Array[Long], k: Int): Column =
    agg(AdcTopKAgg(expr(id), expr(scores), qids, k))
}
