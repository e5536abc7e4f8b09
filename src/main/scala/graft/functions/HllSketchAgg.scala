package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Mergeable distinct-count sketch — HyperLogLog (Flajolet, Fusy,
  * Gandouet & Meunier 2007) over the engine's 60-bit md5 hash
  * convention ([[Md5Prefix64]]), the distinct-counting member of the
  * sketch family ([[CmsAtLeast]] for frequencies, [[KllSketchAgg]]
  * for quantiles): m = 2^p byte registers, register j = max over
  * hashes landing in j of a geometric rank, estimate = bias-corrected
  * harmonic mean with the standard small-range (linear counting)
  * correction. Exact distinct counting of a 100 TB corpus's
  * vocabulary forces a (group, token)-keyed shuffle of every distinct
  * token; the sketch is one pass, map-side mergeable, and 2^p bytes
  * per group forever.
  *
  * DETERMINISM — every piece is engine-portable, so the full estimate
  * replays digit-for-digit in SQL (the q-gate requirement):
  *
  *  - hash: [[HashKernels.md5Prefix64]], the shared
  *    `CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)` identity;
  *  - register index: the low p bits, `h & (m-1)`;
  *  - rank: TRAILING zeros of the remaining w = h >>> p (plus one) —
  *    `w & -w` isolates the lowest set bit, whose log2 is exact in
  *    IEEE, so SQL computes the identical rank without a
  *    leading-zero-count builtin; w = 0 → rank (60−p)+1. Trailing
  *    and leading zero counts are equally geometric under a uniform
  *    hash — this choice is pure SQL portability;
  *  - harmonic sum: Σ 2^−r_j accumulated as the INTEGER
  *    Σ 2^(maxRank−r_j). Safe for every allowed p: maxRank = 61−p,
  *    so the sum is at most m·2^maxRank = 2^p·2^(61−p) = 2^61 < 2^63,
  *    divided once at the end — no float-accumulation order anywhere.
  *
  * The 32-bit large-range correction of the paper is deliberately
  * absent: with 60-bit hashes, collisions matter only near 2^60
  * distinct values.
  */
final class HllSketch(val p: Int) extends Serializable {
  require(p >= 4 && p <= 14, s"p must be in [4, 14], got $p")
  val m: Int = 1 << p
  val registers: Array[Byte] = new Array[Byte](m)
  /** Ranks live in [1, maxRank]; w = 0 (probability 2^−(60−p)) takes
    * the max, as if the 61st bit were set. */
  val maxRank: Int = 60 - p + 1

  def insert(hash60: Long): Unit = {
    val idx = (hash60 & (m - 1)).toInt
    val w = hash60 >>> p
    val rank =
      if (w == 0L) maxRank
      else java.lang.Long.numberOfTrailingZeros(w) + 1
    if (rank > registers(idx)) registers(idx) = rank.toByte
  }

  def merge(other: HllSketch): HllSketch = {
    require(other.p == p, s"cannot merge HLL sketches of p=$p and p=${other.p}")
    var j = 0
    while (j < m) {
      if (other.registers(j) > registers(j)) registers(j) = other.registers(j)
      j += 1
    }
    this
  }

  /** Bias-corrected estimate with linear-counting small-range
    * correction — see the class doc for the exact-replay arithmetic. */
  def estimate: Double = {
    var sumFixed = 0L // Σ 2^(maxRank − r_j), exact in a long
    var zeros = 0
    var j = 0
    while (j < m) {
      val r = registers(j)
      if (r == 0) zeros += 1
      sumFixed += (1L << (maxRank - r))
      j += 1
    }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val scale = math.pow(2.0, maxRank.toDouble) // 2^maxRank, exact
    val e = alpha * m.toDouble * m.toDouble * scale / sumFixed.toDouble
    if (e <= 2.5 * m && zeros > 0) m.toDouble * math.log(m.toDouble / zeros)
    else e
  }

  def serialize: Array[Byte] = {
    val out = new Array[Byte](1 + m)
    out(0) = p.toByte
    System.arraycopy(registers, 0, out, 1, m)
    out
  }
}

object HllSketch {
  def deserialize(bytes: Array[Byte]): HllSketch = {
    val s = new HllSketch(bytes(0).toInt)
    System.arraycopy(bytes, 1, s.registers, 0, s.m)
    s
  }
}

/** The sketch as a one-pass aggregate over PRE-HASHED longs
  * ([[Md5Prefix64]] of the item — hashing stays outside so any column
  * type sketches through the one shared hash identity). Binary output
  * is the serialized [[HllSketch]]; [[HllEstimate]] turns it into the
  * count estimate. Nulls are skipped, like every builtin aggregate. */
case class HllSketchAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllSketch] with UnaryLike[Expression] {

  override def createAggregationBuffer(): HllSketch = new HllSketch(p)

  override def update(buf: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: HllSketch, other: HllSketch): HllSketch = buf.merge(other)

  override def eval(buf: HllSketch): Any = buf.serialize

  override def serialize(buf: HllSketch): Array[Byte] = buf.serialize
  override def deserialize(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

/** `hll_estimate(binary) -> double`: the distinct-count estimate of a
  * serialized [[HllSketch]]. */
case class HllEstimate(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  override def dataType: DataType = DoubleType
  override def prettyName: String = "hll_estimate"

  def compute(bytes: Array[Byte]): Double = HllSketch.deserialize(bytes).estimate

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hllEstimate", this, classOf[HllEstimate].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

object HllSketchAgg {
  /** `hllSketch(hashCol, p)` — aggregate Column producing the
    * serialized sketch over the group's pre-hashed longs. */
  def hllSketch(hash: Column, p: Int): Column =
    ColumnBridge.column(
      HllSketchAgg(ColumnBridge.expression(hash), p)
        .toAggregateExpression())

}

/** `hll_merge(binary, binary) -> binary`: register-wise max of two
  * serialized [[HllSketch]]es — HLL set union. Null-tolerant on
  * EITHER side (a language absent from one operand passes the other
  * through unchanged), which is what a store's full-outer maintenance
  * join produces. */
case class HllMerge(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable && right.nullable
  override def prettyName: String = "hll_merge"

  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllSketch.deserialize(a).merge(HllSketch.deserialize(b)).serialize

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null) b
    else if (b == null) a
    else compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hllMerge", this, classOf[HllMerge].getName)
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull} && ${rightGen.isNull};
        byte[] ${ev.value} = null;
        if (!${ev.isNull}) {
          if (${leftGen.isNull}) { ${ev.value} = ${rightGen.value}; }
          else if (${rightGen.isNull}) { ${ev.value} = ${leftGen.value}; }
          else { ${ev.value} = $ref.compute(${leftGen.value}, ${rightGen.value}); }
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllMerge =
    copy(left = newLeft, right = newRight)
}

object HllMerge {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(HllMerge(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
