package graft.functions

import org.apache.datasketches.frequencies.{ErrorType, LongsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StructField, StructType}

/** Frequent-items sketch (DataSketches LongsSketch, Misra-Gries-family
  * ReversePurge) — the fifth mergeable-sketch member, and the top-k
  * complement of [[CmsEstimate]]'s count-min (q60): a CMS answers
  * "how often does THIS key occur?" but cannot NAME the heavy
  * hitters — finding them still needs an exact second pass over all
  * keys. The frequent-items sketch carries the candidate set inside
  * its bounded map, so ONE pass over 100 TB yields the top items AND
  * their frequency bounds from maxMapSize counters per executor —
  * no exact per-key aggregation, no second scan.
  *
  * Error model (Misra-Gries): deterministic, no randomness — counts
  * are exact until the map saturates; each purge subtracts the
  * median counter, so every item's stored count c satisfies
  * true ∈ [c − offset, c] with offset ≤ 3.5·n/maxMapSize, and an
  * UNTRACKED item's true count is ≤ offset. NO_FALSE_NEGATIVES
  * returns every item whose upper bound clears the threshold — a
  * true heavy hitter can never be missed. Merging sums counters and
  * offsets; the bound survives rollup (q55 pattern).
  *
  * SERIALIZATION CAVEAT (measured, and the reason for [[FreqBuf]]):
  * `LongsSketch.toByteArray` writes the short "empty" form when the
  * map holds zero items — which a heavily-purged sparse window can
  * reach with a NON-zero error offset — and that form DROPS the
  * offset: a round-tripped empty-map sketch reports maxError 0 and
  * upper bound 0 for items it actually absorbed (caught live by
  * st14's gate: 147 events over 140 distinct keys in a 64-slot map).
  * Spark round-trips every partial aggregation buffer, so the graft
  * byte format prepends the lost offset as an 8-byte header and
  * [[FreqOps]] folds it back into every bound.
  *
  * WHY NOT SPARK'S BUILT-IN: Spark 4.1's `approx_top_k` family wraps
  * DataSketches `ItemsSketch` with `NO_FALSE_POSITIVES` and returns
  * (item, estimate) pairs only — no per-item lower or upper bound —
  * so q68/st14/st23's `lb ≤ exact ≤ ub` gate has nothing to check,
  * and its buffer serializes through the same library image, so the
  * empty-map offset loss above is not addressed. (The KLL and theta
  * families, whose built-ins carry the full contract, call Spark's
  * `kll_*` and `theta_*` functions directly.) */
class FreqBuf(var sk: LongsSketch, var extraOffset: Long)

private[functions] trait FreqBufCodec {
  def maxMapSize: Int

  final def newBuf(): FreqBuf = new FreqBuf(new LongsSketch(maxMapSize), 0L)

  /** graft format: [extraOffset: 8 bytes big-endian][library bytes].
    * extraOffset = offset the library image will NOT carry after
    * getInstance (measured by an immediate round trip) plus any
    * offset this buffer already re-absorbed from upstream images. */
  final def encode(buf: FreqBuf): Array[Byte] = {
    val lib = buf.sk.toByteArray
    val rt = LongsSketch.getInstance(Memory.wrap(lib))
    val delta = buf.sk.getMaximumError - rt.getMaximumError
    val out = java.nio.ByteBuffer.allocate(8 + lib.length)
    out.putLong(buf.extraOffset + delta)
    out.put(lib)
    out.array()
  }

  final def decode(bytes: Array[Byte]): FreqBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val extra = bb.getLong
    val lib = new Array[Byte](bytes.length - 8)
    bb.get(lib)
    new FreqBuf(LongsSketch.getInstance(Memory.wrap(lib)), extra)
  }

  final def mergeBufs(b1: FreqBuf, b2: FreqBuf): FreqBuf = {
    b1.sk = b1.sk.merge(b2.sk)
    b1.extraOffset += b2.extraOffset
    b1
  }
}

case class FreqSketchAgg(
    child: Expression, maxMapSize: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqBuf] with FreqBufCodec {

  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"graft_freq_sketch maxMapSize must be a power of 2 >= 8: $maxMapSize")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_sketch requires a bigint input, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): FreqBuf = newBuf()

  override def update(buf: FreqBuf, input: InternalRow): FreqBuf = {
    val v = child.eval(input)
    if (v != null) buf.sk.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: FreqBuf, b2: FreqBuf): FreqBuf = mergeBufs(b1, b2)

  override def eval(buf: FreqBuf): Any = encode(buf)
  override def serialize(buf: FreqBuf): Array[Byte] = encode(buf)
  override def deserialize(bytes: Array[Byte]): FreqBuf = decode(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_freq_sketch"

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FreqSketchAgg =
    copy(child = cs.head)
}

/** Rollup merge of STORED frequent-items sketches — counters and error
  * offsets sum (incl. the header-carried offset the library image
  * loses), so fine-grained persisted sketches re-aggregate to any
  * coarser grouping (the q55 `hll_union_agg` pattern). */
case class FreqMergeAgg(
    child: Expression, maxMapSize: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqBuf] with FreqBufCodec {

  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"graft_freq_merge maxMapSize must be a power of 2 >= 8: $maxMapSize")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_merge requires a binary sketch column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): FreqBuf = newBuf()

  override def update(buf: FreqBuf, input: InternalRow): FreqBuf = {
    val v = child.eval(input)
    if (v != null) mergeBufs(buf, decode(v.asInstanceOf[Array[Byte]]))
    else buf
  }

  override def merge(b1: FreqBuf, b2: FreqBuf): FreqBuf = mergeBufs(b1, b2)

  override def eval(buf: FreqBuf): Any = encode(buf)
  override def serialize(buf: FreqBuf): Array[Byte] = encode(buf)
  override def deserialize(bytes: Array[Byte]): FreqBuf = decode(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_freq_merge"

  override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FreqMergeAgg =
    copy(child = cs.head)
}

/** Per-item probe of a serialized frequent-items sketch:
  * struct(est, lb, ub) with the Misra-Gries guarantee
  * lb ≤ true count ≤ ub, computed from the TOTAL offset (library
  * image offset + the header-carried remainder — see the
  * serialization caveat above). Bounded probe volume (the sketch is
  * read post-aggregation, a handful of rows), so no byte-cache is
  * needed — a zero-copy wrap of the library image. */
case class FreqBounds(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = FreqOps.boundsType
  override def prettyName: String = "graft_freq_bounds"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_freq_bounds requires (binary sketch, bigint item), got " +
          s"${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(bytes: Any, item: Any): Any =
    FreqOps.bounds(bytes.asInstanceOf[Array[Byte]], item.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, i) => s"graft.functions.FreqOps.bounds($b, $i)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FreqBounds =
    copy(left = newLeft, right = newRight)
}

object FreqOps {
  val boundsType: StructType = StructType(Seq(
    StructField("est", LongType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false)))

  private def parse(bytes: Array[Byte]): (LongsSketch, Long) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val extra = bb.getLong
    val lib = new Array[Byte](bytes.length - 8)
    bb.get(lib)
    (LongsSketch.getInstance(Memory.wrap(lib)), extra)
  }

  /** Bound semantics (stored count c is an over-count by at most the
    * total offset T): tracked → true ∈ [c − T, c]; untracked →
    * true ∈ [0, T]. `est` is the library's stored count. */
  def bounds(bytes: Array[Byte], item: Long): InternalRow = {
    val (sk, extra) = parse(bytes)
    val totalOff = sk.getMaximumError + extra
    val est = sk.getEstimate(item)
    val lb = math.max(0L, est - totalOff)
    val ub = if (est > 0L) est else totalOff
    InternalRow(est, lb, ub)
  }

  /** Total error offset of a graft-serialized sketch (library image
    * offset + header remainder) — what the a-priori ≤ 3.5·n/M bound
    * applies to. */
  def maxError(bytes: Array[Byte]): Long = {
    val (sk, extra) = parse(bytes)
    sk.getMaximumError + extra
  }

  /** Items reported under NO_FALSE_NEGATIVES by the embedded sketch
    * (the header offset only raises upper bounds, so the reported set
    * can only be a superset of the library's — false-negative-free
    * either way). */
  def frequentItems(bytes: Array[Byte]): Array[Long] =
    parse(bytes)._1.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).map(_.getItem)
}

object FreqSketchAgg {
  /** Column API: one frequent-items sketch (binary) per group. */
  def freqSketch(col: Column, maxMapSize: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      FreqSketchAgg(org.apache.spark.sql.GraftBridge.expr(col), maxMapSize)
        .toAggregateExpression())

  /** Column API: merge stored sketches (binary) into one. */
  def freqMerge(col: Column, maxMapSize: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      FreqMergeAgg(org.apache.spark.sql.GraftBridge.expr(col), maxMapSize)
        .toAggregateExpression())

  /** Column API: struct(est, lb, ub) for an item in a stored sketch. */
  def freqBounds(sketch: Column, item: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      FreqBounds(
        org.apache.spark.sql.GraftBridge.expr(sketch),
        org.apache.spark.sql.GraftBridge.expr(item)))
}
