package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenization kernels.
  *
  * Tokenize → shingle is the first stage of EVERY text operator
  * (dedup, quality, vocab, decontamination), and the declarative form
  * pays an interpreted higher-order `filter`/`transform` lambda per
  * element on the hottest path in the engine. These expressions fuse
  * each stage into one codegen-friendly node with identical results
  * (property-tested in ExpressionParitySpec).
  *
  * Null semantics: standard expression null-propagation (null in →
  * null out), where the HOF compositions yield an empty array for a
  * null input. The corpus contract (documents.text non-null, enforced
  * upstream) makes the two indistinguishable in every declared query.
  */
object TextKernels {

  /** Split on a regex, drop empty tokens, optionally lowercasing
    * first. Bit-equal to
    * `filter(split(lower(s), pattern), t => length(t) > 0)`:
    * `UTF8String.toLowerCase` is Spark's own `lower()`, and the regex
    * split matches `StringSplit`'s limit -1 behavior.
    */
  def regexTokens(s: UTF8String, regex: java.util.regex.Pattern, lowercase: Boolean): ArrayData = {
    val base = if (lowercase) s.toLowerCase else s
    val parts = regex.split(base.toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (!parts(i).isEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) { out(k) = UTF8String.fromString(parts(i)); k += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `regex_tokens(string) -> array<string>` with a fixed pattern and
  * lowercase flag — the whitespace tokenizer (`\s+`, lowercase) and
  * the BPE-ish subword splitter (`[^a-z0-9]+`, lowercase) in one
  * fused node.
  */
case class RegexTokens(child: Expression, pattern: String, lowercase: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "regex_tokens"

  @transient private lazy val regex = java.util.regex.Pattern.compile(pattern)

  def compute(s: UTF8String): ArrayData = TextKernels.regexTokens(s, regex, lowercase)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexTokens", this, classOf[RegexTokens].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[ArrayData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexTokens =
    copy(child = newChild)
}

object RegexTokens {
  def apply(c: Column, pattern: String, lowercase: Boolean): Column =
    ColumnBridge.column(RegexTokens(ColumnBridge.expression(c), pattern, lowercase))
}

/** `word_ngrams(array<string>, n) -> array<string>`: sliding window of
  * n tokens, space-joined. Matches the HOF
  * `transform(sequence(0, size-n), i => array_join(slice(toks,i+1,n), " "))`
  * with the `size >= n → else empty` guard: `UTF8String.concatWs` IS
  * `array_join`'s kernel.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  private val space = UTF8String.fromString(" ")

  def compute(a: ArrayData): ArrayData = {
    val sz = a.numElements()
    if (sz < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](sz - n + 1)
      var i = 0
      while (i <= sz - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        // Null tokens are representable (the declared input type admits
        // them via the SQL-registered form) and must be SKIPPED, matching
        // array_join's semantics in the HOF — concatWs skips null parts,
        // but reading a null slot as UTF8String first is undefined on
        // unsafe rows.
        while (j < n) {
          parts(j) = if (a.isNullAt(i + j)) null else a.getUTF8String(i + j)
          j += 1
        }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this, classOf[WordNgrams].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[ArrayData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  def apply(toks: Column, n: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(toks), n))
}

/** `rolling_hashes(string, k) -> array<long>`: the 60-bit md5 hash of
  * every char k-shingle in one node. Matches
  * `ParityOracles.rollingHashesHof` in the tests — same
  * substring boundaries (`Column.substr` counts UTF8 code points, so
  * shingling here walks UTF8String.substringSQL), same hash.
  */
case class RollingHashes(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "rolling_hashes"

  def compute(s: UTF8String): ArrayData = {
    val len = s.numChars()
    if (len < k) new GenericArrayData(Array.empty[Long])
    else {
      val out = new Array[Long](len - k + 1)
      var i = 0
      while (i <= len - k) {
        out(i) = HashKernels.md5Prefix64(s.substringSQL(i + 1, k))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingHashes", this, classOf[RollingHashes].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[ArrayData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHashes =
    copy(child = newChild)
}

object RollingHashes {
  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(RollingHashes(ColumnBridge.expression(text), k))
}

/** `winnow_minima(array<long>, w) -> array<long>`: the distinct minima
  * of every `w`-window (the MOSS winnowing fingerprint), via a
  * monotonic deque — O(len) per document where the HOF
  * `transform(sequence, i => array_min(slice(hs, i+1, w)))` is
  * O(len·w) even with the hash array materialized. Output order and
  * values match the HOF + `array_distinct` form exactly (window-order
  * minima, first occurrence kept). Degenerate inputs match too:
  * fewer than w hashes → the single global minimum; empty → empty.
  */
case class WinnowMinima(child: Expression, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  require(w >= 1, s"w must be >= 1, got $w")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "winnow_minima"

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    if (n < w) {
      var m = a.getLong(0)
      var i = 1
      while (i < n) { val v = a.getLong(i); if (v < m) m = v; i += 1 }
      return new GenericArrayData(Array(m))
    }
    // Sliding-window minima: deque of indices with increasing values.
    // `<=` on eviction keeps the RIGHTMOST of equal minima, matching
    // array_min's VALUE (ties have equal values, so emitted minima are
    // identical either way); distinct-ness is tracked with a seen-set
    // in first-occurrence order, as array_distinct does.
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < n) {
      while (tail > head && a.getLong(deque(tail - 1)) >= a.getLong(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) {
        val m = a.getLong(deque(head))
        if (seen.add(m)) out += m
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowMinima", this, classOf[WinnowMinima].getName)
    defineCodeGen(ctx, ev, c => s"(${classOf[ArrayData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowMinima =
    copy(child = newChild)
}

object WinnowMinima {
  def apply(hashes: Column, w: Int): Column =
    ColumnBridge.column(WinnowMinima(ColumnBridge.expression(hashes), w))
}

/** `bpe_pieces(string) -> int`: the piece count of one token under a
  * FROZEN, ordered BPE merge list — the whole frozen-encode kernel
  * ([[graft.ops.Quality.bpeEncode]] / [[graft.ops.TokStore]]) in one
  * codegen-friendly node.
  *
  * Bit-equal to `size(merges.foldLeft(filter(split(t, ""), s => s
  * =!= ""))(applyMerge))` — the declarative greedy left-to-right fold
  * ([[graft.ops.Quality.applyMerge]], parity-pinned in
  * ExpressionParitySpec): symbols start as the token's code points
  * (Java's zero-width regex split is code-point aware, like Spark's
  * `split(t, "")`), each merge (x, y) fuses greedily left-to-right
  * ("aaa" under (a,a) → [aa, a]), merges apply in TRAINING ORDER so a
  * later merge sees the earlier one's fused symbols. The declarative
  * fold rebuilds an interpreted array per symbol per merge —
  * O(len²·merges) allocations on the hottest monitoring path in the
  * engine; this kernel is two primitive array walks per merge.
  *
  * The merge table rides inside the expression — driver-bounded by
  * the same contract as [[graft.ops.TokStore]]'s `merges` layout.
  */
case class BpePieces(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "bpe_pieces"

  @transient private lazy val mergeTriples: Array[(String, String, String)] =
    merges.map { case (x, y) => (x, y, x + y) }.toArray

  def compute(tok: UTF8String): Int = {
    val s = tok.toString
    // Symbols start as code points (split(t, "") boundaries).
    var syms = new Array[String](s.codePointCount(0, s.length))
    var off = 0
    var k = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      val w = Character.charCount(cp)
      syms(k) = s.substring(off, off + w)
      off += w
      k += 1
    }
    var nSyms = syms.length
    var m = 0
    while (m < mergeTriples.length && nSyms > 1) {
      val (x, y, xy) = mergeTriples(m)
      val out = new Array[String](nSyms)
      var o = 0
      var i = 0
      while (i < nSyms) {
        val cur = syms(i)
        if (o > 0 && out(o - 1) == x && cur == y) {
          out(o - 1) = xy
        } else {
          out(o) = cur
          o += 1
        }
        i += 1
      }
      syms = out
      nSyms = o
      m += 1
    }
    nSyms
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpePieces", this, classOf[BpePieces].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpePieces =
    copy(child = newChild)
}

object BpePieces {
  def apply(tok: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpePieces(ColumnBridge.expression(tok), merges))
}

/** `term_counts(array<string>) -> map<string,long>`: occurrence count
  * of every distinct element, keys in first-occurrence order. The
  * per-DOCUMENT half of the `explode(toks) → groupBy(id, tok) →
  * count` pattern every token-statistics operator opens with: when the
  * grouping key is row-unique (a doc_id), that aggregation's exchange
  * moves one corpus-sized (id, token) row per occurrence ACROSS the
  * cluster only to land counts that were computable row-locally.
  * `explode(term_counts(toks))` yields the same (token, count) pairs
  * as the groupBy — bit-equal values, zero exchange
  * (ExpressionParitySpec pins the parity).
  *
  * Keys are defensive copies: the input array may be a pointer into a
  * reused unsafe row buffer, and map keys outlive the row.
  */
case class TermCounts(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "term_counts"

  def compute(a: ArrayData): org.apache.spark.sql.catalyst.util.MapData = {
    val n = a.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Long](Math.max(8, n * 2))
    var i = 0
    while (i < n) {
      // Null elements are representable via the SQL-registered array
      // type; the groupBy form would count them under a null key, but
      // map keys cannot be null — skip them (the tokenizer kernels
      // never emit nulls, so the declared queries cannot see the
      // difference).
      if (!a.isNullAt(i)) {
        val k = a.getUTF8String(i).clone()
        // absent unboxes to 0L, and a stored count is always >= 1
        counts.put(k, counts.get(k) + 1L)
      }
      i += 1
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termCounts", this, classOf[TermCounts].getName)
    defineCodeGen(ctx, ev,
      c => s"(${classOf[org.apache.spark.sql.catalyst.util.MapData].getName}) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  def apply(toks: Column): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(toks)))
}
