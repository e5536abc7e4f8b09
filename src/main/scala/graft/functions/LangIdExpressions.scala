package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the Cavnar–Trenkle language identifier
  * ([[graft.ops.LangId]]). Language-ID runs over every document of
  * every arriving batch — the per-occurrence gram expansion and the
  * per-document rank-distance argmin are its two hot loops, and both
  * pay an interpreted higher-order lambda per element in the
  * declarative form. Each kernel is bit-equal to the declarative
  * reference it replaces (pinned in ExpressionParitySpec /
  * QualitySpec): the DuckDB oracles transcribe the declarative
  * arithmetic, so that identity is what keeps them green.
  */
object LangIdKernels {

  /** All padded 2- then 3-grams of every token, in token order —
    * the flattened
    * `transform(tokens, t => concat(gramsOf(t,2), gramsOf(t,3)))`
    * with `gramsOf(t,n) = transform(sequence(1, length(_t_)-(n-1)),
    * i => _t_.substr(i, n))`. Substring boundaries count CODE POINTS
    * (`Column.substr` semantics), not UTF-16 units. Tokens are
    * non-empty by the tokenizer contract ([[RegexTokens]] drops empty
    * strings); null slots (representable in the declared input type)
    * are skipped.
    */
  def paddedCharGrams(a: ArrayData): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val padded = "_" + a.getUTF8String(i).toString + "_"
        // Code-point boundaries: bounds(j) = char offset of the j-th
        // code point; bounds(m) = padded.length.
        val m = padded.codePointCount(0, padded.length)
        val bounds = new Array[Int](m + 1)
        var cp = 0
        var off = 0
        while (cp < m) {
          bounds(cp) = off
          off += Character.charCount(padded.codePointAt(off))
          cp += 1
        }
        bounds(m) = padded.length
        var j = 0
        while (j + 2 <= m) {
          out += UTF8String.fromString(padded.substring(bounds(j), bounds(j + 2)))
          j += 1
        }
        j = 0
        while (j + 3 <= m) {
          out += UTF8String.fromString(padded.substring(bounds(j), bounds(j + 3)))
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `padded_char_grams(array<string>) -> array<string>`: the langid
  * gram expansion fused into one codegen-friendly node — see
  * [[LangIdKernels.paddedCharGrams]] for the exact declarative form
  * it matches (`ParityOracles.gramsHof`, parity-pinned).
  */
case class PaddedCharGrams(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "padded_char_grams"

  def compute(a: ArrayData): ArrayData = LangIdKernels.paddedCharGrams(a)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("paddedCharGrams", this, classOf[PaddedCharGrams].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[ArrayData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PaddedCharGrams =
    copy(child = newChild)
}

object PaddedCharGrams {
  def apply(tokens: Column): Column =
    ColumnBridge.column(PaddedCharGrams(ColumnBridge.expression(tokens)))
}

/** `ct_best_lang(array<struct<gram:string, rank:int>>) ->
  * struct<pred_lang:string, distance:bigint>`: the out-of-place rank
  * distance of one document profile against EVERY trained language
  * profile, and the (distance, lang)-ascending argmin, in one node.
  *
  * The declarative reference (`ParityOracles.classifyJoin`,
  * parity-pinned) expands each document profile × |langs|, left-joins
  * the language profiles on (lang, gram) to get
  * `coalesce(abs(rank − lrank), topM)` per gram, sums per (doc,
  * lang), and takes `row_number` 1 ordered by (distance, lang). Here
  * the trained table rides inside the expression as a hash map
  * gram → per-language rank (0 = absent), so each document costs
  * O(|profile| · |langs|) integer ops and one O(1) lookup per gram —
  * no expansion, no second shuffle, no window. Languages are held
  * SORTED IN UTF-8 BYTE ORDER — Catalyst's binary string ordering,
  * which the declarative `row_number` tie-break uses — so the argmin
  * tie-break (smallest language) is positional. Scala's `String`
  * ordering (UTF-16 code units) diverges from UTF-8 byte order for
  * supplementary (non-BMP) labels, so the sort goes through
  * [[UTF8String]] like the gram tie-break in [[CtDocProfile]].
  *
  * The trained table is langs × topM entries — driver-bounded by the
  * same contract as the IVF centroid matrix
  * ([[IvfNearestCells]]) and broadcast to executors inside the
  * serialized expression.
  */
case class CtBestLang(
    child: Expression,
    langs: Seq[String],
    table: Seq[(String, Seq[Int])],
    topM: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(langs.nonEmpty, "ct_best_lang requires at least one trained language")
  require(langs.sliding(2).forall {
    case Seq(a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    case _         => true
  }, "langs must be pre-sorted in UTF-8 byte order (argmin tie-break is positional)")
  require(topM >= 1, s"topM must be >= 1, got $topM")

  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(StructType(Seq(
      StructField("gram", StringType),
      StructField("rank", IntegerType)))))

  override def dataType: DataType = StructType(Seq(
    StructField("pred_lang", StringType, nullable = false),
    StructField("distance", LongType, nullable = false)))
  override def prettyName: String = "ct_best_lang"

  @transient private lazy val langStrs: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray

  @transient private lazy val rankMap: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]](table.size * 2)
    table.foreach { case (gram, ranks) =>
      require(ranks.length == langs.length,
        s"rank row for gram '$gram' has ${ranks.length} entries, expected ${langs.length}")
      m.put(UTF8String.fromString(gram), ranks.toArray)
    }
    m
  }

  def compute(profile: ArrayData): InternalRow = {
    val nl = langs.length
    val dist = new Array[Long](nl)
    val n = profile.numElements()
    var i = 0
    while (i < n) {
      val e = profile.getStruct(i, 2)
      val ranks = rankMap.get(e.getUTF8String(0))
      val r = e.getInt(1)
      var l = 0
      if (ranks == null) {
        while (l < nl) { dist(l) += topM; l += 1 }
      } else {
        while (l < nl) {
          val lr = ranks(l)
          dist(l) += (if (lr == 0) topM else math.abs(r - lr))
          l += 1
        }
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < nl) {
      if (dist(l) < dist(best)) best = l
      l += 1
    }
    new GenericInternalRow(Array[Any](langStrs(best), dist(best)))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ctBestLang", this, classOf[CtBestLang].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[InternalRow].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CtBestLang =
    copy(child = newChild)
}

object CtBestLang {

  /** Build from trained profile rows (lang, gram, rank): languages
    * sorted; per gram, one rank per language (0 = not in that
    * language's top-M). */
  def apply(profile: Column, rows: Seq[(String, String, Int)], topM: Int): Column = {
    val langs = rows.map(_._1).distinct
      .sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    val idx = langs.zipWithIndex.toMap
    val table = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (gram, rs) =>
      val ranks = new Array[Int](langs.length)
      rs.foreach { case (l, _, r) => ranks(idx(l)) = r }
      (gram, ranks.toSeq)
    }
    ColumnBridge.column(CtBestLang(ColumnBridge.expression(profile), langs, table, topM))
  }
}

/** `ct_doc_profile(array<string>, topM) ->
  * array<struct<gram:string, rank:int>>`: one document's
  * Cavnar–Trenkle profile — gram occurrence counts of
  * [[LangIdKernels.paddedCharGrams]], ranked by (count desc, gram
  * binary-asc), top M, rank = position — in ONE node.
  *
  * The declarative reference re-shuffles the corpus twice to get
  * here (explode → groupBy(doc, gram) → groupBy(doc) collect_list +
  * array_sort + slice); but every gram of a document comes from the
  * SAME row, so the profile is row-local by construction and the
  * whole classify path becomes a narrow projection. The gram
  * tie-break uses `UTF8String.compareTo` — BINARY order, identical
  * to Catalyst string ordering (`order by gram`), not UTF-16
  * `String.compareTo` (they differ on supplementary characters;
  * parity-pinned over a non-BMP corpus).
  */
case class CtDocProfile(child: Expression, topM: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(topM >= 1, s"topM must be >= 1, got $topM")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gram", StringType, nullable = false),
    StructField("rank", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "ct_doc_profile"

  def compute(toks: ArrayData): ArrayData = {
    val grams = LangIdKernels.paddedCharGrams(toks)
    val n = grams.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Int]](n * 2 + 1)
    var i = 0
    while (i < n) {
      val g = grams.getUTF8String(i)
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1)) else c(0) += 1
      i += 1
    }
    val entries = counts.entrySet().toArray(
      new Array[java.util.Map.Entry[UTF8String, Array[Int]]](counts.size()))
    java.util.Arrays.sort(entries,
      new java.util.Comparator[java.util.Map.Entry[UTF8String, Array[Int]]] {
        override def compare(
            a: java.util.Map.Entry[UTF8String, Array[Int]],
            b: java.util.Map.Entry[UTF8String, Array[Int]]): Int = {
          val byCnt = java.lang.Integer.compare(b.getValue()(0), a.getValue()(0))
          if (byCnt != 0) byCnt else a.getKey.compareTo(b.getKey)
        }
      })
    val m = math.min(topM, entries.length)
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      out(k) = new GenericInternalRow(Array[Any](entries(k).getKey, k + 1))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ctDocProfile", this, classOf[CtDocProfile].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[ArrayData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CtDocProfile =
    copy(child = newChild)
}

object CtDocProfile {
  def apply(tokens: Column, topM: Int): Column =
    ColumnBridge.column(CtDocProfile(ColumnBridge.expression(tokens), topM))
}
