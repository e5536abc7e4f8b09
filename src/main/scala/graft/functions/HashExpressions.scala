package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels callable from generated code (plain object, no
  * companion class, so Java static forwarders exist for codegen).
  */
object HashKernels {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of md5(s) as a non-negative long (< 2^60).
    *
    * Bit-identical to `conv(substring(md5(s), 1, 15), 16, 10)::long`
    * — the engine-portable 64-bit string hash every dedup oracle
    * transcribes — but computed straight from the digest bytes: no
    * 32-char hex string, no base-16 re-parse, one thread-local digest
    * instead of a per-row `MessageDigest.getInstance`.
    */
  def md5Prefix64(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  private val hexDigits = "0123456789abcdef".getBytes

  /** Lowercase-hex md5 of a byte string — `md5()`'s exact output, off
    * the thread-local digest. */
  def md5Hex(bytes: Array[Byte]): UTF8String = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }
}

/** `md5_prefix64(string) -> long`: codegen'd 60-bit md5-derived hash.
  *
  * This is the hasher under every dedup/fingerprint operator (gram
  * hashes, MinHash input, winnowing, hash-bucket splits). The
  * composed-builtin form (`conv(substring(md5(c),1,15),16,10)`)
  * allocates a hex string and re-parses it per value — at 100 TB that
  * is billions of needless allocations on the hottest path. Result is
  * bit-equal to the composed form (property-tested in
  * ExpressionParitySpec), so DuckDB oracles written against
  * `substr(md5(x),1,15)` still match.
  */
case class Md5Prefix64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  // SQL-registered: wrong-typed arguments must fail analysis (or
  // coerce), never reinterpret memory at runtime.
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix64"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.md5Prefix64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.md5Prefix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {
  def apply(c: Column): Column =
    ColumnBridge.column(Md5Prefix64(ColumnBridge.expression(c)))
}

/** `band_buckets(sig, numHashes, bands) -> array<struct<band:int, bucket:string>>`:
  * the banded-LSH bucket table for a MinHash signature, one node.
  *
  * Bit-equal to the declarative form it replaces (kept as
  * `ParityOracles.bandBucketsHof` in the tests, property-tested in
  * ExpressionParitySpec):
  * `array(struct(b, md5(concat_ws("_", element_at(sig, b*r+1) .. element_at(sig, (b+1)*r)))) for b < bands)`
  * — `concat_ws` casts each long to its decimal string and SKIPS null
  * slots; `md5` is lowercase hex of the UTF-8 bytes. The declarative
  * form is ~11 nodes per band (~170 for the q19 shape, 64 hashes × 16
  * bands) and was the widest remaining expression tree in the LSH hot
  * path — first-run whole-stage-codegen compilation of it dominated
  * the per-query wall time at test scale.
  *
  * Contract: `sig` carries exactly `numHashes` elements (the sketch
  * aggregate guarantees it); ragged input is still computed total —
  * missing slots are skipped exactly like null slots, never thrown on.
  */
case class BandBuckets(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(bands >= 1 && numHashes % bands == 0,
    s"bands ($bands) must divide numHashes ($numHashes)")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("bucket", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "band_buckets"

  private val rowsPerBand = numHashes / bands
  private val sep = '_'.toByte

  /** A NULL signature computes like an all-null-slot one — every band
    * gets md5("") — matching the declarative HOF twin (and therefore
    * every oracle SQL transcription of it): `element_at(NULL, i)` is
    * null and `concat_ws` skips nulls, so the HOF never null-escapes.
    * Unreachable from the sketch-agg pipeline (signatures are total)
    * but reachable through the SQL-registered `band_buckets`. */
  def compute(a: ArrayData): ArrayData = {
    val n = if (a == null) 0 else a.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rowsPerBand * 12)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var first = true
      var i = b * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) {
        if (i < n && !a.isNullAt(i)) {
          if (!first) sb.append(sep.toChar)
          sb.append(a.getLong(i))
          first = false
        }
        i += 1
      }
      val bucket = HashKernels.md5Hex(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(b) = new GenericInternalRow(Array[Any](b, bucket))
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandBuckets", this, classOf[BandBuckets].getName)
    val childGen = child.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    // No null-intercept: a null child still computes (see compute's
    // contract above), so the result is never null.
    ev.copy(
      code = childGen.code +
        code"""
          $arrCls ${ev.value} = (${childGen.isNull}) ? $ref.compute(null)
            : $ref.compute((${classOf[ArrayData].getName}) ${childGen.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandBuckets =
    copy(child = newChild)
}

object BandBuckets {
  def apply(sig: Column, numHashes: Int, bands: Int): Column =
    ColumnBridge.column(BandBuckets(ColumnBridge.expression(sig), numHashes, bands))
}
