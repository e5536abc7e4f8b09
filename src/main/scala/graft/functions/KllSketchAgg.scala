package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Mergeable quantile sketch over an UNBOUNDED double domain — the
  * KLL compactor structure (Karnin, Lang & Liberty 2016, "Optimal
  * quantile approximation in streams") with DETERMINISTIC alternating
  * compaction in place of the coin flip (the Munro–Paterson
  * selection): level h holds items of weight 2^h; when a level fills
  * its k-slot buffer it sorts and promotes every other item, the
  * surviving parity alternating per compaction. Dropping the
  * randomness trades KLL's O(1/k) expected rank error for a
  * deterministic O(log(n/k)/k) worst-case bound — the right trade
  * here, where the sketch only BRACKETS candidates and an exact
  * confirmation pass makes the final answer independent of sketch
  * error entirely ([[graft.ops.Quantiles]], the same
  * sketch-prune/exact-confirm gate [[CmsAtLeast]] rides for heavy
  * hitters).
  *
  * Rank estimate: estRank(v) = Σ_h 2^h·|{x ∈ level_h : x ≤ v}|, off
  * by at most (#compactions at h)·2^h/2 per level ≤ H·n/(2k) total
  * (H = level count) — [[KllSketch.rankSlack]] doubles it for
  * headroom. Merge is level-wise concatenation + overflow compaction,
  * so partial aggregates combine in any order; the buffer is
  * O(k·log(n/k)) doubles however large the input.
  */
final class KllSketch(val k: Int) extends Serializable {
  var n: Long = 0L
  // levels(h) = unsorted buffer of weight-2^h items; parity(h) flips
  // each compaction so consecutive compactions don't systematically
  // bias the same side
  val levels = scala.collection.mutable.ArrayBuffer(
    scala.collection.mutable.ArrayBuffer.empty[Double])
  val parity = scala.collection.mutable.ArrayBuffer(false)

  def insert(v: Double): Unit = {
    n += 1
    levels(0) += v
    compactFrom(0)
  }

  private def compactFrom(start: Int): Unit = {
    var h = start
    while (h < levels.size) {
      if (levels(h).size >= k) {
        val sorted = levels(h).sortInPlace()
        if (h + 1 == levels.size) {
          levels += scala.collection.mutable.ArrayBuffer.empty[Double]
          parity += false
        }
        val off = if (parity(h)) 1 else 0
        parity(h) = !parity(h)
        var i = off
        while (i < sorted.size) { levels(h + 1) += sorted(i); i += 2 }
        // an odd leftover when promoting from offset keeps total
        // weight within one item of exact — absorbed by the rank
        // slack like any compaction displacement
        levels(h) = scala.collection.mutable.ArrayBuffer.empty[Double]
      }
      h += 1
    }
  }

  def merge(other: KllSketch): KllSketch = {
    n += other.n
    while (levels.size < other.levels.size) {
      levels += scala.collection.mutable.ArrayBuffer.empty[Double]
      parity += false
    }
    var h = 0
    while (h < other.levels.size) {
      levels(h) ++= other.levels(h)
      parity(h) = parity(h) ^ other.parity(h)
      h += 1
    }
    compactFrom(0)
    this
  }

  /** Worst-case rank displacement this sketch guarantees (doubled for
    * headroom): H·n/k, never below 1. */
  def rankSlack: Long = math.max(1L, levels.size.toLong * n / k)

  /** All retained (value, weight) items, value-sorted — the bracket
    * candidates. */
  def weightedItems: Array[(Double, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    var h = 0
    while (h < levels.size) {
      val w = 1L << h
      levels(h).foreach(x => out += ((x, w)))
      h += 1
    }
    out.sortInPlace()(Ordering.by(_._1)).toArray
  }

  def serialize: Array[Byte] = {
    val sz = 8 + 4 + 4 + levels.map(l => 4 + 1 + l.size * 8).sum
    val bb = java.nio.ByteBuffer.allocate(sz)
    bb.putLong(n); bb.putInt(k); bb.putInt(levels.size)
    var h = 0
    while (h < levels.size) {
      bb.putInt(levels(h).size)
      bb.put(if (parity(h)) 1.toByte else 0.toByte)
      levels(h).foreach(bb.putDouble)
      h += 1
    }
    bb.array()
  }
}

object KllSketch {
  def deserialize(bytes: Array[Byte]): KllSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong
    val s = new KllSketch(bb.getInt)
    s.n = n
    val nLevels = bb.getInt
    s.levels.clear(); s.parity.clear()
    var h = 0
    while (h < nLevels) {
      val sz = bb.getInt
      s.parity += (bb.get() == 1.toByte)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
      var i = 0
      while (i < sz) { buf += bb.getDouble; i += 1 }
      s.levels += buf
      h += 1
    }
    s
  }
}

/** The sketch as a one-pass aggregate: binary output is the
  * serialized [[KllSketch]] (driver deserializes and brackets).
  * Nulls are skipped, like every builtin aggregate. */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch] with UnaryLike[Expression] {

  override def createAggregationBuffer(): KllSketch = new KllSketch(k)

  override def update(buf: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllSketch, other: KllSketch): KllSketch = buf.merge(other)

  override def eval(buf: KllSketch): Any = buf.serialize

  override def serialize(buf: KllSketch): Array[Byte] = buf.serialize
  override def deserialize(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

object KllSketchAgg {
  /** `kllSketch(valueCol, k)` — aggregate Column producing the
    * serialized sketch over the group's doubles. */
  def kllSketch(value: Column, k: Int): Column =
    ColumnBridge.column(
      KllSketchAgg(ColumnBridge.expression(value), k)
        .toAggregateExpression())
}
