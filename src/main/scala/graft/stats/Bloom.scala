package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bloom filter over 64-bit key hashes — the committed membership sketch
  * that makes the incremental seen-set anti-join (SURVEY J4/U3) scale past
  * a corpus that can no longer be joined per batch: a batch row whose key
  * misses the filter is DEFINITELY new (no join needed); only the rows
  * that hit — true duplicates plus an fpp-sized sliver of false positives
  * — go through the exact anti-join. With mostly-new batches (the steady
  * state of an append-only corpus) the exact-join input shrinks from
  * |batch| to |duplicates| + fpp·|batch|, and the result is EXACT: a
  * Bloom filter has no false negatives, and every positive is re-checked.
  *
  * Blob format (self-describing, version-tagged): [k:int][words:int]
  * [word...]. Bits are a power of two so indexing is a mask, and the same
  * format serves the aggregation shuffle, the final value, and the
  * committed artifact — merge is a word-wise OR, so per-batch filters
  * fold into the corpus filter without touching the corpus again.
  *
  * Probe positions use Kirsch–Mitzenmacher double hashing
  * (h1 + i·h2 over the 64-bit input hash and its splitmix64 remix) — k
  * probes from one hash evaluation, the standard construction.
  */
object BloomKernel {

  /** splitmix64 finalizer — the independent second hash for K-M probing. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** (numBits, numHashes) for `n` expected keys at false-positive rate
    * `fpp`: m = −n·ln p / ln²2 rounded UP to a power of two (mask
    * indexing), k = (m/n)·ln 2 rounded, ≥ 1. Bits capped at 2^33 (1 GiB)
    * — past that, shard the filter by key range.
    */
  def sizing(n: Long, fpp: Double): (Long, Int) = {
    require(n > 0, s"expected item count must be positive, got $n")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val ideal = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    var m = 64L
    while (m < ideal && m < (1L << 33)) m <<= 1
    val k = math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)
    (m, k)
  }

  def add(words: Array[Long], k: Int, h: Long): Unit = {
    val mask = words.length.toLong * 64 - 1
    val h2 = mix64(h)
    var i = 0
    while (i < k) {
      val idx = (h + i * h2) & mask
      words((idx >>> 6).toInt) |= 1L << (idx & 63)
      i += 1
    }
  }

  def contains(words: Array[Long], k: Int, h: Long): Boolean = {
    val mask = words.length.toLong * 64 - 1
    val h2 = mix64(h)
    var i = 0
    while (i < k) {
      val idx = (h + i * h2) & mask
      if ((words((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def toBytes(words: Array[Long], k: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(k).putInt(words.length)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): (Array[Long], Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt()
    val n = bb.getInt()
    require(n >= 1 && k >= 1 && bytes.length == 8 + n * 8,
      s"malformed bloom blob (k=$k words=$n len=${bytes.length})")
    val words = new Array[Long](n)
    var i = 0
    while (i < n) { words(i) = bb.getLong(); i += 1 }
    (words, k)
  }

  /** Word-wise OR of two same-shape filters — bloom(A ∪ B). */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (wa, ka) = fromBytes(a)
    val (wb, kb) = fromBytes(b)
    require(ka == kb && wa.length == wb.length,
      s"bloom shape mismatch: (k=$ka,m=${wa.length * 64}) vs (k=$kb,m=${wb.length * 64})")
    val out = new Array[Long](wa.length)
    var i = 0
    while (i < wa.length) { out(i) = wa(i) | wb(i); i += 1 }
    toBytes(out, ka)
  }
}

/** One-pass mergeable Bloom aggregate over a LONG hash column. Partial
  * buffers are the bit words themselves; merge is word-wise OR —
  * associative, commutative, idempotent, so map-side partials stay exact.
  */
case class BloomAgg(
    child: Expression,
    numBits: Long,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(numBits >= 64 && (numBits & (numBits - 1)) == 0 && numBits <= (1L << 33),
    s"numBits must be a power of two in [64, 2^33], got $numBits")
  require(numHashes >= 1 && numHashes <= 32, s"numHashes must be in [1,32], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint hash input, got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long]((numBits / 64).toInt)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomKernel.add(buf, numHashes, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomKernel.toBytes(buf, numHashes)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomKernel.toBytes(buf, numHashes)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomKernel.fromBytes(bytes)._1

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomAgg = copy(child = c)
  override def prettyName: String = "bloom_agg"
}

/** `bloom_might_contain(hash)` with the filter blob held in the expression
  * NODE (the IvfAssign pattern): plan size and optimizer hash/equality
  * walks are O(1) in the filter size, and codegen emits one static kernel
  * call inside the whole-stage span. The blob rides the task binary — one
  * broadcast per stage, not per row.
  */
case class BloomMightContain(child: Expression, blob: Array[Byte])
    extends UnaryExpression {

  @transient private lazy val decoded: (Array[Long], Int) = BloomKernel.fromBytes(blob)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint hash input, got ${t.sql}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(input: Any): Any =
    BloomKernel.contains(decoded._1, decoded._2, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val words = ctx.addReferenceObj("bloomWords", decoded._1, "long[]")
    val k = decoded._2
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.stats.BloomKernel.contains($words, $k, $v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object Bloom {
  /** Aggregate a LONG hash column into a bloom blob (BinaryType). */
  def bloomAgg(hash: Column, numBits: Long, numHashes: Int): Column =
    ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(hash), numBits, numHashes)
        .toAggregateExpression())

  /** Membership probe against a driver-held blob. */
  def mightContain(blob: Array[Byte])(hash: Column): Column =
    ColumnBridge.column(
      BloomMightContain(ColumnBridge.expression(hash), blob))
}
