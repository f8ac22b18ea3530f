package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for operations not expressible with built-in
  * functions: per-document rolling hash and 64-bit SimHash. Registered in the
  * session FunctionRegistry and invoked via `call_function`, so they
  * participate in the Catalyst plan like any scalar function (evaluated on
  * executors, streaming over rows — no driver collect).
  */
object GraftExpressions {

  /** Evaluate a foldable integral parameter of a graft expression. A typed
    * NULL literal passes the analysis-time type check (right type, still
    * foldable) and an out-of-int-range LongType literal would silently WRAP
    * through `Number.intValue()` — e.g. a window width of 2^32+1 becoming 1
    * and fingerprinting every token as a "window". Both must fail here with
    * the function's name and the cure, not as a bare NPE or a wrong-width
    * result.
    */
  private def foldableIntParam(e: Expression, fn: String, what: String,
      min: Int = 1): Int = {
    val v = e.eval(null)
    require(v != null, s"$fn: $what must be a non-null integer literal")
    val l = v.asInstanceOf[Number].longValue()
    require(l >= min && l <= Int.MaxValue.toLong,
      s"$fn: $what must be in [$min, ${Int.MaxValue}], got $l")
    l.toInt
  }

  /** Rolling-hash kernel (public static forwarder — called from generated
    * code): h = h*257 + b (mod 1e9+7) over UTF-8 bytes.
    */
  def rollingHash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 257 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    h
  }

  /** Polynomial rolling hash over UTF-8 bytes: h = h*257 + b (mod 1e9+7).
    * The content-defined fingerprint primitive for shift-tolerant dedup.
    * Codegen'd via the static kernel, so per-document fingerprint scans
    * stay inside whole-stage codegen.
    */
  case class RollingHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(rollingHash64(input.asInstanceOf[UTF8String]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.rollingHash64($c)")
    override protected def withNewChildInternal(newChild: Expression): RollingHash =
      copy(child = newChild)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit token hash: the first 8 bytes of md5 (big-endian) — equal to
    * parsing the first 16 hex chars of the md5 digest, which makes the hash
    * engine-portable (the DuckDB oracle computes the identical value with
    * `CAST('0x' || substr(md5(t), 1, 8 | 9, 8) AS BIGINT)`), the same
    * portability trick the MinHash lanes use.
    */
  def md5Half64(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** SimHash kernel (public static forwarder — called from generated code):
    * per-bit vote of each token's md5-derived hash; bit set iff the vote is
    * positive. Empty/null token arrays hash to 0.
    */
  def simHash64Kernel(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = md5Half64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 64-bit SimHash over an array of token strings ([[simHash64Kernel]]).
    * Codegen'd via the static kernel, so the per-document simhash scan
    * stays inside whole-stage codegen.
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simHash64Kernel(input.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.simHash64Kernel($c)")
    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  private val pairSep = UTF8String.fromString(" ")

  /** Adjacent-pair kernel (public static forwarder — called from generated
    * code): ["a","b","c"] → ["a b","b c"]; fewer than 2 elements → empty.
    * Null elements are treated as empty strings (the tokenizer never emits
    * them; this just keeps the kernel total).
    */
  def adjacentPairsKernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = if (arr.isNullAt(0)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val next = if (arr.isNullAt(i + 1)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i + 1)
      out(i) = UTF8String.concat(prev, pairSep, next)
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Space-joined adjacent token pairs (the bigram builder). The
    * `zip_with(slice, slice)` formulation keeps the whole projection in
    * interpreted eval (higher-order functions are not codegen'd, and each
    * lambda element re-drives the slice); this single codegen'd kernel is
    * one tight pass (measured ~2× on the q_bigram_logprob pairing stage).
    */
  case class AdjacentPairs(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      adjacentPairsKernel(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.adjacentPairsKernel($c)")
    override protected def withNewChildInternal(newChild: Expression): AdjacentPairs =
      copy(child = newChild)
  }

  /** True iff `b` is one of the 5 chars RE2's `\s` matches (space, \t,
    * \n, \f, \r — verified empirically against DuckDB: chr(11) does NOT
    * split) — the DuckDB oracle is the semantics contract, so the kernel
    * follows RE2, not Java regex `\s` (which also matches \v; the old
    * `split(trim, "\\s+")` formulation carried that latent divergence).
    * Neither engine's default `\s` includes unicode whitespace, so a byte
    * test is exact parity, and UTF-8 multi-byte sequences never contain
    * bytes < 0x80, so the byte scan cannot split inside a code point.
    */
  @inline private def isAsciiWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0c || b == 0x0d

  /** Whitespace-token kernel (public static forwarder — called from
    * generated code): maximal runs of non-whitespace bytes, identical to
    * `filter(split(trim(s), "\\s+"), length > 0)` but one pass with no
    * regex machinery.
    */
  def whitespaceTokensKernel(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any](16)
    var i = 0
    while (i < n) {
      while (i < n && isAsciiWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isAsciiWs(bytes(i))) i += 1
      if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }

  /** Whitespace tokenization, empties dropped — the tokenizer behind every
    * text query. The built-in formulation runs the regex split codegen'd
    * but wraps it in an interpreted `filter` HOF (per-token lambda across
    * the whole corpus); this kernel is a single byte scan.
    */
  case class WhitespaceTokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      whitespaceTokensKernel(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.whitespaceTokensKernel($c)")
    override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
      copy(child = newChild)
  }

  /** CDC boundary kernel (public static forwarder — called from generated
    * code): 0-based positions p ∈ [3, len) where the md5 of the space-
    * joined 4-token window ending at p has a '0' last hex digit (low
    * nibble of the final digest byte = 0) — byte-identical to
    * `substring(md5(concat_ws(' ', slice(ws, p-2, 4))), 32, 1) = '0'`
    * when the array has no null elements (the tokenizer never emits
    * them). On nulls the two diverge: `concat_ws` skips a null without
    * emitting its separator, while this kernel always emits the space
    * and renders the null as empty — same caveat as
    * [[AdjacentPairs]]/[[NGrams]].
    */
  def cdcBoundariesKernel(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    if (len < 4) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val out = new java.util.ArrayList[Any](len / 8)
    var p = 3
    while (p < len) {
      md.reset()
      var j = p - 3
      while (j <= p) {
        if (j > p - 3) md.update(0x20.toByte)
        if (!arr.isNullAt(j)) md.update(arr.getUTF8String(j).getBytes)
        j += 1
      }
      if ((md.digest()(15) & 0x0f) == 0) out.add(Integer.valueOf(p))
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Content-defined-chunking boundary positions over a token array. The
    * `filter(sequence, p -> substring(md5(concat_ws(slice))))` formulation
    * runs interpreted per position with a slice copy and a hex-string
    * round-trip; this kernel reuses one MessageDigest and tests the low
    * nibble directly.
    */
  case class CdcBoundaries(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      cdcBoundariesKernel(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.cdcBoundariesKernel($c)")
    override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
      copy(child = newChild)
  }

  /** n-gram kernel (public static forwarder — called from generated code):
    * space-joined sliding windows of `n` tokens; fewer than n elements →
    * empty (callers supply their own short-document fallback). Null
    * elements render as empty strings (the tokenizer never emits them).
    */
  def nGramsKernel(arr: ArrayData, n: Int): ArrayData = {
    if (n < 1)
      throw new IllegalArgumentException(s"graft_ngrams: n must be >= 1, got $n")
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(pairSep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Space-joined n-gram windows (the shingle builder behind the whole
    * LSH dedup family). Same interpreted-HOF motivation as
    * [[AdjacentPairs]], with the per-window `slice` copy also gone — the
    * shingle projection is the hottest row-local stage of the corpus-dedup
    * pipelines.
    */
  case class NGrams(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), IntegerType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(arr: Any, n: Any): Any =
      nGramsKernel(arr.asInstanceOf[ArrayData], n.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, n) => s"graft.functions.GraftExpressions.nGramsKernel($a, $n)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NGrams = copy(newLeft, newRight)
  }

  private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")
  private val emptyStringArray = new GenericArrayData(Array.empty[Any])

  /** Sliding-window md5 fingerprint kernel (public: called from generated
    * code). Byte-identical to the declarative
    * `transform(sequence(1, size-w+1), i => md5(concat_ws(" ", slice(toks,
    * i, w)).cast(binary)))` — lowercase hex over the UTF-8 bytes of the
    * space-joined window, null elements skipped exactly like `concat_ws` —
    * with `array_distinct` folded in when `distinct` is set (keeps first
    * occurrence order). Null or shorter-than-w input → empty array, the
    * declarative tree's `otherwise(array())` branch. One pass, one digest:
    * the declarative chain allocates a sliced ArrayData + a concatenated
    * UTF8String + a fresh digest per window of every document.
    */
  def windowFingerprintsKernel(arr: ArrayData, w: Int, distinct: Boolean): ArrayData = {
    if (arr == null) return emptyStringArray
    val n = arr.numElements()
    if (n < w) return emptyStringArray
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) tokBytes(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = md5Local.get()
    val out = new java.util.ArrayList[Any](n - w + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var s = 0
    while (s + w <= n) {
      md.reset()
      var first = true
      var j = s
      val end = s + w
      while (j < end) {
        val tb = tokBytes(j)
        if (tb != null) { // concat_ws skips null elements, no doubled separator
          if (!first) md.update(0x20.toByte)
          md.update(tb)
          first = false
        }
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((dig(b) >> 4) & 0xf)
        hex(2 * b + 1) = hexDigits(dig(b) & 0xf)
        b += 1
      }
      val u = UTF8String.fromBytes(hex)
      if (seen == null || seen.add(u)) out.add(u)
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val elemCountsType: DataType = ArrayType(
    StructType(Seq(StructField("t", StringType), StructField("c", LongType))),
    containsNull = false)

  /** Element-count kernel (public: called from generated code): distinct
    * elements of a string array with their occurrence counts, first-
    * occurrence order — `["a","b","a"]` → `[("a",2),("b",1)]`. One hash
    * map per row. Null elements are SKIPPED: every consumer joins the
    * element back as a key (tf·idf df join, LM frequency join), where an
    * inner join on null never matches — a null group could not survive
    * anyway, and the tokenizer never emits one. Null array → empty.
    */
  def elemCountsKernel(arr: ArrayData): ArrayData = {
    if (arr == null) return emptyStringArray
    val n = arr.numElements()
    if (n == 0) return emptyStringArray
    // LinkedHashMap: deterministic first-occurrence output order (the
    // consumers aggregate downstream, but determinism keeps plans
    // replay-stable and specs exact)
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]](Math.min(n * 2, 64))
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val k = arr.getUTF8String(i)
        val slot = m.get(k)
        if (slot != null) slot(0) += 1L
        // clone on first insert: the input array may be a view into a
        // reused row/column buffer, and the output outlives this eval
        else m.put(k.clone(), Array(1L))
      }
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-row distinct-element counts of a string array — the row-local
    * replacement for `explode → groupBy(row_id, elem) → count`. A document's
    * tokens (or bigrams/shingles) all live in ONE row, so the per-(doc,
    * elem) count table needs no corpus-wide exchange at all: this kernel
    * computes it in the scan stage, `explode` emits pre-counted distinct
    * pairs, and the first shuffle of the tf/LM-scoring family becomes the
    * (small, map-side-combined) vocabulary aggregation instead of the full
    * occurrence stream keyed by (doc, elem).
    */
  case class ElemCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def prettyName: String = "graft_elem_counts"
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = elemCountsType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any =
      elemCountsKernel(child.eval(input).asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val arrayData = classOf[ArrayData].getName
      ev.copy(code =
        code"""
          ${c.code}
          boolean ${ev.isNull} = false;
          $arrayData ${ev.value} = graft.functions.GraftExpressions.elemCountsKernel(
            ${c.isNull} ? null : (($arrayData) ${c.value}));""")
    }
    override protected def withNewChildInternal(newChild: Expression): ElemCounts =
      copy(child = newChild)
  }

  /** md5 fingerprints of every `w`-token sliding window — the
    * repeated-passage primitive behind `TextDedup.repeatedSpans` and the
    * span-masking surgery. Same semi-codegen motivation as [[NGrams]]:
    * the declarative slice→concat_ws→md5 chain is three allocations per
    * window of every document (the hottest projection of the span
    * family); this kernel is one pass with a thread-reused digest.
    * `distinct` folds `array_distinct` into the same pass (within-doc
    * window dedup without a second array walk). Null input → empty array,
    * matching the declarative tree's `otherwise(array())`.
    */
  case class WindowMd5Fps(child: Expression, wExpr: Expression, distinctExpr: Expression)
      extends Expression {
    override def prettyName: String = "graft_window_fps"
    override def children: Seq[Expression] = Seq(child, wExpr, distinctExpr)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (child.dataType, wExpr.dataType, distinctExpr.dataType) match {
        case (ArrayType(StringType, _), IntegerType | LongType, BooleanType)
          if wExpr.foldable && distinctExpr.foldable =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (a, b, c) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_window_fps needs (array<string>, foldable int, foldable boolean), got ($a, $b, $c)")
      }
    private lazy val w: Int = foldableIntParam(wExpr, "graft_window_fps", "window")
    private lazy val distinct: Boolean = {
      // a typed NULL boolean is foldable with the right type; unboxing it
      // would silently yield false (distinct dropped, counts inflated) —
      // fail named instead, like the width parameter
      val v = distinctExpr.eval(null)
      require(v != null, "graft_window_fps: distinct must be a non-null boolean literal")
      v.asInstanceOf[Boolean]
    }
    override def eval(input: InternalRow): Any =
      windowFingerprintsKernel(child.eval(input).asInstanceOf[ArrayData], w, distinct)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val arrayData = classOf[ArrayData].getName
      ev.copy(code =
        code"""
          ${c.code}
          boolean ${ev.isNull} = false;
          $arrayData ${ev.value} = graft.functions.GraftExpressions.windowFingerprintsKernel(
            ${c.isNull} ? null : (($arrayData) ${c.value}), $w, $distinct);""")
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): WindowMd5Fps =
      copy(child = c(0), wExpr = c(1), distinctExpr = c(2))
  }

  /** Span-mask surgery kernel (public: called from generated code): tokens
    * NOT covered by any `w`-token window whose 1-based start position is in
    * `starts`. Byte-identical to the declarative
    * `transform(filter(sequence(1, n), i => !exists(starts, s => i >= s &&
    * i < s + w)), i => element_at(toks, i))` for a null-free `starts` —
    * but one difference-array coverage pass, O(n + |starts|), where the
    * HOF cascade walks the whole starts array per token position
    * (O(n·|starts|) interpreted lambda evals, and the optimizer
    * additionally duplicated the filter tree into both its consumers).
    * Null/empty inputs → the declarative tree's empty branches;
    * out-of-range starts (never produced — window starts are ≤ n-w+1 by
    * construction) mask nothing beyond the token range.
    *
    * PRECONDITION (also for the SQL `graft_mask_tokens`): `starts` holds
    * no null element. The kernel skips a null start and keeps every token
    * no other start covers, while the declarative `!exists(...)` yields
    * NULL for those tokens and the filter drops them. The engine's one
    * caller, `TextDedup.maskSpansByFingerprints`, builds `starts` with
    * `collect_set`, which emits no nulls.
    */
  def maskTokensKernel(toks: ArrayData, starts: ArrayData, w: Int): ArrayData = {
    if (toks == null) return emptyStringArray
    val n = toks.numElements()
    if (n == 0) return emptyStringArray
    val m = if (starts == null) 0 else starts.numElements()
    // coverage difference array over 1-based positions 1..n
    val diff = new Array[Int](n + 2)
    var j = 0
    while (j < m) {
      if (!starts.isNullAt(j)) {
        val s = starts.getInt(j)
        if (s + w > 1 && s <= n) { // overlaps [1, n]
          val from = math.max(s, 1)
          val to = math.min(s + w, n + 1) // exclusive
          diff(from) += 1
          diff(to) -= 1
        }
      }
      j += 1
    }
    val out = new java.util.ArrayList[Any](n)
    var cover = 0
    var i = 1
    while (i <= n) {
      cover += diff(i)
      if (cover == 0)
        out.add(if (toks.isNullAt(i - 1)) null else toks.getUTF8String(i - 1))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The tokens surviving span masking — the row-local surgery of
    * `TextDedup.maskSpansByFingerprints` as one codegen'd pass (see
    * [[maskTokensKernel]]). Callers derive `masked_text` (concat_ws) and
    * `n_masked_tokens` (size difference) from the bound result column.
    */
  case class MaskTokens(toks: Expression, starts: Expression, wExpr: Expression)
      extends Expression {
    override def prettyName: String = "graft_mask_tokens"
    override def children: Seq[Expression] = Seq(toks, starts, wExpr)
    override def dataType: DataType = ArrayType(StringType,
      containsNull = toks.dataType match {
        case ArrayType(_, cn) => cn
        case _ => true
      })
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (toks.dataType, starts.dataType, wExpr.dataType) match {
        case (ArrayType(StringType, _), ArrayType(IntegerType, _), IntegerType | LongType)
          if wExpr.foldable =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (a, b, c) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_mask_tokens needs (array<string>, array<int>, foldable int), got ($a, $b, $c)")
      }
    private lazy val w: Int = foldableIntParam(wExpr, "graft_mask_tokens", "window")
    override def eval(input: InternalRow): Any =
      maskTokensKernel(toks.eval(input).asInstanceOf[ArrayData],
        starts.eval(input).asInstanceOf[ArrayData], w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = toks.genCode(ctx)
      val s = starts.genCode(ctx)
      val arrayData = classOf[ArrayData].getName
      ev.copy(code =
        code"""
          ${t.code}
          ${s.code}
          boolean ${ev.isNull} = false;
          $arrayData ${ev.value} = graft.functions.GraftExpressions.maskTokensKernel(
            ${t.isNull} ? null : (($arrayData) ${t.value}),
            ${s.isNull} ? null : (($arrayData) ${s.value}), $w);""")
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MaskTokens =
      copy(toks = c(0), starts = c(1), wExpr = c(2))
  }

  /** Strict sequential left-fold dot product over two numeric arrays in
    * double precision — bit-identical to `list_reduce(list_prepend(0.0,
    * products), +)` in the DuckDB oracle, but a tight loop instead of
    * per-element interpreted lambdas (higher-order functions are not
    * codegen'd; measured ~5× on 64-dim vectors).
    */
  abstract class BinaryVectorFold extends Expression {
    def left: Expression
    def right: Expression
    override def children: Seq[Expression] = Seq(left, right)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    protected def combine(x: Double, y: Double): Double
    /** Java source for one fold term (codegen twin of [[combine]]). */
    protected def combineJava(x: String, y: String): String
    private def num(arr: ArrayData, i: Int, dt: DataType): Double = dt match {
      case FloatType => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case IntegerType => arr.getInt(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case _ => throw new IllegalArgumentException(s"unsupported element type $dt")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val a = left.eval(input)
      val b = right.eval(input)
      if (a == null || b == null) return null
      val aa = a.asInstanceOf[ArrayData]
      val bb = b.asInstanceOf[ArrayData]
      // dimension mismatch = corrupted/foreign vector: folding the shared
      // prefix would return a plausible but WRONG similarity that can
      // silently enter top-k results; null excludes the pair instead
      if (aa.numElements() != bb.numElements()) return null
      val at = left.dataType.asInstanceOf[ArrayType].elementType
      val bt = right.dataType.asInstanceOf[ArrayType].elementType
      val n = aa.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += combine(num(aa, i, at), num(bb, i, bt))
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }
    // native codegen: the fold is the innermost loop of every ANN scoring
    // scan (corpus × queries dot products), so it must live INSIDE the
    // whole-stage-codegen function — a CodegenFallback here would box one
    // InternalRow per pair and interpret the fold per element
    private def numJava(arr: String, i: String, dt: DataType): String = dt match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val a = left.genCode(ctx)
      val b = right.genCode(ctx)
      val at = left.dataType.asInstanceOf[ArrayType].elementType
      val bt = right.dataType.asInstanceOf[ArrayType].elementType
      val n = ctx.freshName("foldN")
      val i = ctx.freshName("foldI")
      val acc = ctx.freshName("foldAcc")
      ev.copy(code =
        code"""
          ${a.code}
          ${b.code}
          boolean ${ev.isNull} = true;
          double ${ev.value} = 0.0;
          if (!${a.isNull} && !${b.isNull} &&
              ${a.value}.numElements() == ${b.value}.numElements()) {
            ${ev.isNull} = false;
            int $n = ${a.value}.numElements();
            double $acc = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              $acc += ${combineJava(numJava(a.value, i, at), numJava(b.value, i, bt))};
            }
            ${ev.value} = $acc;
          }""")
    }
  }

  /** Σ aᵢ·bᵢ (sequential, double). */
  case class DotProduct(left: Expression, right: Expression) extends BinaryVectorFold {
    protected def combine(x: Double, y: Double): Double = x * y
    protected def combineJava(x: String, y: String): String = s"($x) * ($y)"
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DotProduct =
      copy(left = c(0), right = c(1))
  }

  /** Σ (aᵢ−bᵢ)² (sequential, double). */
  case class L2Squared(left: Expression, right: Expression) extends BinaryVectorFold {
    protected def combine(x: Double, y: Double): Double = (x - y) * (x - y)
    protected def combineJava(x: String, y: String): String =
      s"(($x) - ($y)) * (($x) - ($y))"
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): L2Squared =
      copy(left = c(0), right = c(1))
  }

  /** The `nprobe` nearest centroids of a vector, as an array of centroid ids
    * ordered by (L2 distance asc, centroid id asc) — IVF cell assignment
    * (`nprobe = 1`) and probe-list selection in ONE narrow projection.
    *
    * The codebook rides in as two foldable array literals (ids must be
    * sorted ascending; vectors in doubles), so assignment needs no join, no
    * window and no shuffle — at cluster scale the codebook is broadcast
    * inside the serialized plan exactly like a broadcast-hash-join build
    * side, but without the join machinery. Distances are the same strict
    * left fold in double precision as [[L2Squared]], and the strictly-less
    * comparison over id-ascending candidates reproduces the
    * `ORDER BY dist ASC, id ASC` tie rule bit-for-bit.
    */
  case class NearestCells(vec: Expression, ids: Expression, cents: Expression, n: Expression)
      extends Expression {
    override def prettyName: String = "graft_nearest_cells"
    override def children: Seq[Expression] = Seq(vec, ids, cents, n)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = vec.nullable
    override def foldable: Boolean = false
    private lazy val centIds: Array[Long] =
      ids.eval(null).asInstanceOf[ArrayData].toLongArray()
    private lazy val centVecs: Array[Array[Double]] = {
      val a = cents.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(i => a.getArray(i).toDoubleArray())
    }
    private lazy val nprobe: Int = foldableIntParam(n, "graft_nearest_cells", "nprobe")
    // semi-codegen: the generated stage calls [[nearestIds]] on this
    // (serialized) expression object directly, so the assignment scan stays
    // INSIDE whole-stage codegen — a CodegenFallback would box an
    // InternalRow per corpus row (ivfAssign / pqEncode evaluate this per
    // row, m times per row for PQ) just to re-extract the one array child
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
      val child = vec.genCode(ctx)
      val arrayData = classOf[ArrayData].getName
      ev.copy(code =
        code"""
          ${child.code}
          boolean ${ev.isNull} = ${child.isNull};
          $arrayData ${ev.value} = null;
          if (!${ev.isNull}) { ${ev.value} = $self.nearestIds(${child.value}); }""")
    }
    override def eval(input: InternalRow): Any = {
      val v = vec.eval(input)
      if (v == null) return null
      nearestIds(v.asInstanceOf[ArrayData])
    }
    /** The nprobe-nearest-centroid kernel over one input vector (public:
      * invoked from generated code).
      */
    def nearestIds(arr: ArrayData): ArrayData = {
      val elemT = vec.dataType.asInstanceOf[ArrayType].elementType
      val m = arr.numElements()
      val x = new Array[Double](m)
      var i = 0
      elemT match {
        case FloatType => while (i < m) { x(i) = arr.getFloat(i).toDouble; i += 1 }
        case DoubleType => while (i < m) { x(i) = arr.getDouble(i); i += 1 }
        case IntegerType => while (i < m) { x(i) = arr.getInt(i).toDouble; i += 1 }
        case LongType => while (i < m) { x(i) = arr.getLong(i).toDouble; i += 1 }
        case t => throw new IllegalArgumentException(s"unsupported element type $t")
      }
      val kk = math.min(nprobe, centIds.length)
      // kk = 0 (empty codebook or nprobe 0): nothing to assign — the old
      // code indexed bestD(-1) here
      if (kk <= 0) return new GenericArrayData(Array.emptyLongArray)
      val bestD = new Array[Double](kk)
      val bestId = new Array[Long](kk)
      var sz = 0
      var c = 0
      while (c < centVecs.length) {
        val cv = centVecs(c)
        // a centroid of a different dimension is not comparable — a
        // shared-prefix distance would assign the row to a wrong cell
        // silently; skip it (a fully mismatched codebook assigns nothing)
        if (cv.length == m) {
          var acc = 0.0
          var j = 0
          while (j < m) { val d = x(j) - cv(j); acc += d * d; j += 1 }
          // insertion position: first slot with STRICTLY greater distance —
          // equal distances keep the earlier (smaller) centroid id first
          if (sz < kk || acc < bestD(sz - 1)) {
            var p = sz
            while (p > 0 && bestD(p - 1) > acc) p -= 1
            val end = math.min(sz, kk - 1)
            var q = end
            while (q > p) { bestD(q) = bestD(q - 1); bestId(q) = bestId(q - 1); q -= 1 }
            bestD(p) = acc
            bestId(p) = centIds(c)
            if (sz < kk) sz += 1
          }
        }
        c += 1
      }
      new GenericArrayData(bestId.take(sz))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): NearestCells =
      copy(vec = c(0), ids = c(1), cents = c(2), n = c(3))
  }

  /** Bounded top-k aggregate: keeps the `k` best `(score, id)` pairs (score
    * desc, id asc) in a size-k heap and returns the ids best-first. A
    * [[TypedImperativeAggregate]], so partial (map-side) heaps combine
    * before the shuffle — each mapper emits ≤ k rows per group instead of
    * its whole scored slice, and no sort ever runs. The ordering is total
    * (ties on id), so merge order can't change the result.
    */
  case class TopKIds(
      score: Expression, id: Expression, kExpr: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKIds.Buffer] {
    override def prettyName: String = "graft_topk"
    // k = 0 is a valid no-op (empty result array) — the heap buffer
    // supports it and callers sizing k dynamically may hit it
    private lazy val k: Int = foldableIntParam(kExpr, "graft_topk", "k", min = 0)
    override def children: Seq[Expression] = Seq(score, id, kExpr)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def createAggregationBuffer(): TopKIds.Buffer = new TopKIds.Buffer(k)
    override def update(b: TopKIds.Buffer, input: InternalRow): TopKIds.Buffer = {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null)
        b.add(s.asInstanceOf[Number].doubleValue(), i.asInstanceOf[Number].longValue())
      b
    }
    override def merge(b: TopKIds.Buffer, o: TopKIds.Buffer): TopKIds.Buffer = { b.addAll(o); b }
    override def eval(b: TopKIds.Buffer): Any = new GenericArrayData(b.idsBestFirst)
    override def serialize(b: TopKIds.Buffer): Array[Byte] = b.toBytes
    override def deserialize(bytes: Array[Byte]): TopKIds.Buffer = TopKIds.Buffer.fromBytes(bytes)
    override def withNewMutableAggBufferOffset(o: Int): TopKIds = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKIds = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKIds =
      copy(score = c(0), id = c(1), kExpr = c(2))
  }

  object TopKIds {
    /** Size-k binary min-heap over PRIMITIVE parallel arrays with the WORST
      * entry at the root (smaller score, then larger id), so a better
      * candidate evicts it in O(log k). Primitive storage matters because
      * `update` runs per corpus row on the ObjectHashAggregate path (a
      * TypedImperativeAggregate cannot enter whole-stage codegen by Spark's
      * design): the previous `PriorityQueue[(Double, Long)]` boxed a tuple
      * + Double + Long per accepted candidate — first-k fills, every
      * eviction, every partial-heap merge entry, every deserialize.
      * Rejections were and remain allocation-free.
      */
    final class Buffer(val k: Int) {
      private[TopKIds] val cap = math.max(1, k)
      private[TopKIds] var scores = new Array[Double](cap)
      private[TopKIds] var ids = new Array[Long](cap)
      private[TopKIds] var n = 0
      // "a sorts before b at the heap root": worse = smaller score, ties
      // broken by LARGER id. Double.compare, not primitive >: admission
      // must use the same total order as the heap (NaN greatest,
      // -0.0 < 0.0) or results become arrival/merge-order dependent.
      private def rootward(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
        val c = java.lang.Double.compare(s1, s2)
        c < 0 || (c == 0 && i1 > i2)
      }
      private def siftUp(start: Int): Unit = {
        var i = start
        val s = scores(i); val id = ids(i)
        while (i > 0 && rootward(s, id, scores((i - 1) / 2), ids((i - 1) / 2))) {
          val p = (i - 1) / 2
          scores(i) = scores(p); ids(i) = ids(p)
          i = p
        }
        scores(i) = s; ids(i) = id
      }
      private def siftDown(): Unit = {
        var i = 0
        val s = scores(0); val id = ids(0)
        var done = false
        while (!done) {
          var c = 2 * i + 1
          if (c >= n) done = true
          else {
            if (c + 1 < n && rootward(scores(c + 1), ids(c + 1), scores(c), ids(c))) c += 1
            if (rootward(scores(c), ids(c), s, id)) {
              scores(i) = scores(c); ids(i) = ids(c)
              i = c
            } else done = true
          }
        }
        scores(i) = s; ids(i) = id
      }
      def add(s: Double, id: Long): Unit =
        if (k <= 0) () // top-0 keeps nothing
        else if (n < k) {
          scores(n) = s; ids(n) = id; n += 1
          siftUp(n - 1)
        } else {
          // full: admit only if strictly better than the worst (root)
          val c = java.lang.Double.compare(s, scores(0))
          if (c > 0 || (c == 0 && id < ids(0))) {
            scores(0) = s; ids(0) = id
            siftDown()
          }
        }
      def addAll(o: Buffer): Unit = {
        var i = 0
        while (i < o.n) { add(o.scores(i), o.ids(i)); i += 1 }
      }
      def idsBestFirst: Array[Long] = {
        // heapsort on copies: pop the worst into the tail repeatedly —
        // runs once per group at eval, O(k log k), no boxing
        val sc = java.util.Arrays.copyOf(scores, n)
        val idc = java.util.Arrays.copyOf(ids, n)
        val keep = (scores, ids, n)
        scores = sc; ids = idc // siftDown operates on the copies
        val out = new Array[Long](n)
        var m = n
        while (m > 0) {
          out(m - 1) = ids(0)
          m -= 1
          scores(0) = scores(m); ids(0) = ids(m)
          n = m
          siftDown()
        }
        scores = keep._1; ids = keep._2; n = keep._3
        out
      }
      def toBytes: Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(8 + 16 * n)
        bb.putInt(k).putInt(n)
        var i = 0
        while (i < n) { bb.putDouble(scores(i)); bb.putLong(ids(i)); i += 1 }
        bb.array()
      }
    }
    object Buffer {
      def fromBytes(bytes: Array[Byte]): Buffer = {
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val b = new Buffer(bb.getInt())
        val n = bb.getInt()
        var i = 0
        while (i < n) { b.add(bb.getDouble(), bb.getLong()); i += 1 }
        b
      }
    }
  }

  /** Element-wise sum of long arrays — the vector-sum aggregate a k-means
    * centroid update needs. A [[TypedImperativeAggregate]], so per-cell
    * partial sums combine map-side and the shuffle carries ONE |dim|-long
    * array per (cell, mapper) instead of |vectors|·dim exploded rows —
    * the difference between a shuffle proportional to the corpus and one
    * proportional to the codebook. Buffers grow to the longest input seen
    * (ragged inputs sum positionally); null elements count as 0.
    */
  case class VectorSumLong(
      child: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    override def prettyName: String = "graft_vec_sum_long"
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_vec_sum_long needs array<bigint>, got $t")
      }
    override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray
    private def grown(b: Array[Long], n: Int): Array[Long] =
      if (b.length >= n) b else java.util.Arrays.copyOf(b, n)
    override def update(b: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v == null) return b
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = grown(b, n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) out(i) += arr.getLong(i)
        i += 1
      }
      out
    }
    override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
      val out = grown(b, o.length)
      var i = 0
      while (i < o.length) { out(i) += o(i); i += 1 }
      out
    }
    override def eval(b: Array[Long]): Any = new GenericArrayData(b)
    override def serialize(b: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.length)
      bb.putInt(b.length)
      b.foreach(bb.putLong)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt()
      Array.fill(n)(bb.getLong())
    }
    override def withNewMutableAggBufferOffset(o: Int): VectorSumLong =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): VectorSumLong =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VectorSumLong =
      copy(child = c(0))
  }

  /** [[TopKIds]] generalized to carry a payload: keeps the `k` best
    * `(score desc, tie asc)` entries in a size-k heap and returns the
    * payload values best-first. The tie column (string or numeric) makes
    * the order total, so partial-heap merges are order-independent — the
    * per-group shortlist primitive (top tokens per document, top docs per
    * source) without a `row_number` window funneling every scored row into
    * |groups| sort tasks.
    */
  case class TopKPayload(
      score: Expression, tie: Expression, payload: Expression, kExpr: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKPayload.Buffer] {
    override def prettyName: String = "graft_topk_payload"
    private lazy val k: Int =
      foldableIntParam(kExpr, "graft_topk_payload", "k", min = 0) // 0 = valid no-op
    override def children: Seq[Expression] = Seq(score, tie, payload, kExpr)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(payload.dataType, containsNull = false)

    // tie comparison: ascending = better. UTF8String binary order equals
    // code-point order, the same total order the DuckDB oracle sorts by.
    private lazy val tieCmp: (Any, Any) => Int = tie.dataType match {
      case StringType => (a, b) =>
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      case LongType | IntegerType | ShortType | ByteType => (a, b) =>
        java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
      case DoubleType | FloatType => (a, b) =>
        java.lang.Double.compare(
          a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue())
      case t => throw new IllegalArgumentException(
        s"graft_topk_payload: unsupported tie type $t (string or numeric)")
    }

    override def createAggregationBuffer(): TopKPayload.Buffer =
      new TopKPayload.Buffer(k, tieCmp)
    override def update(b: TopKPayload.Buffer, input: InternalRow): TopKPayload.Buffer = {
      val s = score.eval(input)
      val t = tie.eval(input)
      val p = payload.eval(input)
      if (s != null && t != null && p != null) {
        // deep-copy: eval results may alias reused row/column buffers
        val tc = t match { case u: UTF8String => u.clone(); case o => o }
        val pc = p match {
          case r: InternalRow => r.copy()
          case a: ArrayData => a.copy()
          case u: UTF8String => u.clone()
          case o => o
        }
        b.add(s.asInstanceOf[Number].doubleValue(), tc, pc)
      }
      b
    }
    override def merge(b: TopKPayload.Buffer, o: TopKPayload.Buffer): TopKPayload.Buffer = {
      b.addAll(o); b
    }
    override def eval(b: TopKPayload.Buffer): Any = new GenericArrayData(b.payloadsBestFirst)

    // (de)serialization through an UnsafeProjection over (score, tie,
    // payload) — handles any payload type without a bespoke format
    private lazy val serSchema = StructType(Seq(
      StructField("s", DoubleType), StructField("t", tie.dataType),
      StructField("p", payload.dataType)))
    private lazy val serProj =
      org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(serSchema)
    private lazy val tieGet = InternalRow.getAccessor(tie.dataType)
    private lazy val payloadGet = InternalRow.getAccessor(payload.dataType)
    override def serialize(b: TopKPayload.Buffer): Array[Byte] = {
      val rows = b.entries.map { case (s, t, p) =>
        serProj(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](s, t, p))).copy().getBytes
      }
      val bb = java.nio.ByteBuffer.allocate(8 + rows.map(4 + _.length).sum)
      bb.putInt(b.k).putInt(rows.length)
      rows.foreach { r => bb.putInt(r.length); bb.put(r) }
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): TopKPayload.Buffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val b = new TopKPayload.Buffer(bb.getInt(), tieCmp)
      val n = bb.getInt()
      var i = 0
      while (i < n) {
        val len = bb.getInt()
        val rowBytes = new Array[Byte](len)
        bb.get(rowBytes)
        val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(3)
        row.pointTo(rowBytes, len)
        b.add(row.getDouble(0), tieGet(row, 1), payloadGet(row, 2))
        i += 1
      }
      b
    }
    override def withNewMutableAggBufferOffset(o: Int): TopKPayload =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKPayload =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKPayload =
      copy(score = c(0), tie = c(1), payload = c(2), kExpr = c(3))
  }

  object TopKPayload {
    /** Size-k binary min-heap with the WORST entry at the root (smaller
      * score, then larger tie), mirroring [[TopKIds.Buffer]] with a
      * payload slot: primitive score array + object tie/payload arrays,
      * so a candidate admission never boxes a score or allocates a tuple
      * (the previous `PriorityQueue[(Double, Any, Any)]` did both per
      * accepted candidate; rejections were and remain allocation-free).
      */
    final class Buffer(val k: Int, tieCmp: (Any, Any) => Int) {
      private val cap = math.max(1, k)
      private val scores = new Array[Double](cap)
      private val ties = new Array[Any](cap)
      private val payloads = new Array[Any](cap)
      private var n = 0
      // "a sorts before b at the root": worse = smaller score, ties broken
      // by LARGER tie value (so the best-first output is tie-ascending)
      private def rootward(s1: Double, t1: Any, s2: Double, t2: Any): Boolean = {
        val c = java.lang.Double.compare(s1, s2)
        c < 0 || (c == 0 && tieCmp(t1, t2) > 0)
      }
      private def siftUp(start: Int): Unit = {
        var i = start
        val s = scores(i); val t = ties(i); val p = payloads(i)
        while (i > 0 && rootward(s, t, scores((i - 1) / 2), ties((i - 1) / 2))) {
          val q = (i - 1) / 2
          scores(i) = scores(q); ties(i) = ties(q); payloads(i) = payloads(q)
          i = q
        }
        scores(i) = s; ties(i) = t; payloads(i) = p
      }
      private def siftDown(): Unit = {
        var i = 0
        val s = scores(0); val t = ties(0); val p = payloads(0)
        var done = false
        while (!done) {
          var c = 2 * i + 1
          if (c >= n) done = true
          else {
            if (c + 1 < n && rootward(scores(c + 1), ties(c + 1), scores(c), ties(c))) c += 1
            if (rootward(scores(c), ties(c), s, t)) {
              scores(i) = scores(c); ties(i) = ties(c); payloads(i) = payloads(c)
              i = c
            } else done = true
          }
        }
        scores(i) = s; ties(i) = t; payloads(i) = p
      }
      def add(s: Double, t: Any, p: Any): Unit =
        if (k <= 0) () // top-0 keeps nothing
        else if (n < k) {
          scores(n) = s; ties(n) = t; payloads(n) = p; n += 1
          siftUp(n - 1)
        } else {
          val c = java.lang.Double.compare(s, scores(0))
          if (c > 0 || (c == 0 && tieCmp(t, ties(0)) < 0)) {
            scores(0) = s; ties(0) = t; payloads(0) = p
            siftDown()
          }
        }
      def addAll(o: Buffer): Unit = {
        var i = 0
        while (i < o.n) { add(o.scores(i), o.ties(i), o.payloads(i)); i += 1 }
      }
      def entries: Seq[(Double, Any, Any)] =
        (0 until n).map(i => (scores(i), ties(i), payloads(i)))
      def payloadsBestFirst: Array[Any] = {
        // index sort on a copy (runs once per group at eval): best-first =
        // score desc, tie asc — the reverse of the rootward order
        val idx = Array.tabulate[Integer](n)(Integer.valueOf)
        java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
          override def compare(a: Integer, b: Integer): Int = {
            val c = java.lang.Double.compare(scores(b.intValue()), scores(a.intValue()))
            if (c != 0) c else tieCmp(ties(a.intValue()), ties(b.intValue()))
          }
        })
        idx.map(i => payloads(i.intValue()))
      }
    }
  }

  /** Canonical dynamic-shape string of a record — the grammar of
    * [[graft.model.DynamicShape]] (struct `(…,…,)`, array `[n]`/`[n:…]`,
    * map `{kB64[=shape];…}`, null collection `N`, root fields joined by
    * `|`) — computed imperatively over the row tree INSIDE whole-stage
    * codegen. The declarative formulation composes `transform`
    * higher-order functions, which are CodegenFallback in Spark: one
    * interpreted lambda eval per map key / array element per row on the
    * dynamic (schema-drift) write path. Same semi-codegen pattern as
    * [[NearestCells]]: the generated stage calls [[shapeOf]] on the
    * serialized expression object, so the walk never leaves the stage.
    *
    * `child` must be a struct of the DYNAMIC root fields (original
    * types, original order); all map keys must be strings (the caller
    * falls back to the declarative tree otherwise). The type walk is
    * compiled ONCE into nodes — per row only the key-sort scratch
    * allocates.
    */
  case class RootShape(child: Expression) extends UnaryExpression {
    import graft.model.DynamicShape.isDynamic
    override def prettyName: String = "graft_root_shape"
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    // the function is SQL-registered: a non-struct argument must fail
    // analysis with a clear message, not ClassCastException at runtime
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case st: StructType if st.fields.forall(f => mapKeysAreStrings(f.dataType)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _: StructType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "graft_root_shape requires all map keys in the struct to be strings")
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_root_shape needs a struct argument, got $t")
      }
    private def mapKeysAreStrings(dt: DataType): Boolean = dt match {
      case MapType(kt, vt, _) => kt == StringType && mapKeysAreStrings(vt)
      case ArrayType(et, _) => mapKeysAreStrings(et)
      case st: StructType => st.fields.forall(f => mapKeysAreStrings(f.dataType))
      case _ => true
    }

    // @transient: Base64.Encoder is not Serializable, and the compiled
    // node tree must rebuild executor-side anyway (inner-class nodes
    // capture `this`) — only the child expression ships
    @transient private lazy val b64 = java.util.Base64.getEncoder.withoutPadding()

    private sealed trait Node { def append(sb: java.lang.StringBuilder, v: Any): Unit }
    private object StaticNode extends Node {
      override def append(sb: java.lang.StringBuilder, v: Any): Unit = ()
    }
    private final class StructNode(ords: Array[Int], types: Array[DataType],
        children: Array[Node]) extends Node {
      override def append(sb: java.lang.StringBuilder, v: Any): Unit = {
        val row = v.asInstanceOf[InternalRow]
        sb.append('(')
        var j = 0
        while (j < ords.length) {
          val cv =
            if (row == null || row.isNullAt(ords(j))) null
            else row.get(ords(j), types(j))
          children(j).append(sb, cv)
          sb.append(',')
          j += 1
        }
        sb.append(')')
      }
    }
    private object SizeArrayNode extends Node {
      override def append(sb: java.lang.StringBuilder, v: Any): Unit =
        if (v == null) sb.append('N')
        else sb.append('[').append(v.asInstanceOf[ArrayData].numElements()).append(']')
    }
    private final class DynArrayNode(elem: Node, et: DataType) extends Node {
      override def append(sb: java.lang.StringBuilder, v: Any): Unit =
        if (v == null) sb.append('N')
        else {
          val arr = v.asInstanceOf[ArrayData]
          val n = arr.numElements()
          sb.append('[').append(n).append(':')
          var i = 0
          while (i < n) {
            if (i > 0) sb.append(';')
            elem.append(sb, if (arr.isNullAt(i)) null else arr.get(i, et))
            i += 1
          }
          sb.append(']')
        }
    }
    private def appendKey(sb: java.lang.StringBuilder, k: UTF8String): Unit =
      sb.append('k').append(b64.encodeToString(k.getBytes))
    private final class KeyMapNode extends Node {
      override def append(sb: java.lang.StringBuilder, v: Any): Unit =
        if (v == null) sb.append('N')
        else {
          val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          val ka = m.keyArray()
          val n = m.numElements()
          val keys = new Array[UTF8String](n)
          var i = 0
          while (i < n) { keys(i) = ka.getUTF8String(i); i += 1 }
          // UTF8String.compareTo is unsigned byte-wise — identical to
          // Spark's array_sort over strings in the declarative tree
          java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
          sb.append('{')
          i = 0
          while (i < n) {
            if (i > 0) sb.append(';')
            appendKey(sb, keys(i))
            i += 1
          }
          sb.append('}')
        }
    }
    private final class DynMapNode(value: Node, vt: DataType) extends Node {
      override def append(sb: java.lang.StringBuilder, v: Any): Unit =
        if (v == null) sb.append('N')
        else {
          val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          val ka = m.keyArray(); val va = m.valueArray()
          val n = m.numElements()
          val idx = new Array[Integer](n)
          val keys = new Array[UTF8String](n)
          var i = 0
          while (i < n) { keys(i) = ka.getUTF8String(i); idx(i) = Integer.valueOf(i); i += 1 }
          java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
            override def compare(a: Integer, b: Integer): Int =
              keys(a.intValue()).compareTo(keys(b.intValue()))
          })
          sb.append('{')
          i = 0
          while (i < n) {
            val p = idx(i).intValue()
            if (i > 0) sb.append(';')
            appendKey(sb, keys(p))
            sb.append('=')
            value.append(sb, if (va.isNullAt(p)) null else va.get(p, vt))
            i += 1
          }
          sb.append('}')
        }
    }
    private def compile(dt: DataType): Node = dt match {
      case st: StructType =>
        val dyn = st.fields.zipWithIndex.filter { case (f, _) => isDynamic(f.dataType) }
        if (dyn.isEmpty) StaticNode
        else new StructNode(dyn.map(_._2), dyn.map(_._1.dataType),
          dyn.map(p => compile(p._1.dataType)))
      case ArrayType(et, _) =>
        if (isDynamic(et)) new DynArrayNode(compile(et), et) else SizeArrayNode
      case MapType(_, vt, _) =>
        if (isDynamic(vt)) new DynMapNode(compile(vt), vt) else new KeyMapNode
      case _ => StaticNode
    }
    @transient private lazy val fieldTypes: Array[DataType] =
      child.dataType.asInstanceOf[StructType].fields.map(_.dataType)
    @transient private lazy val rootNodes: Array[Node] = fieldTypes.map(compile)

    /** Root shape over the dyn-field struct (public: called from generated
      * code). A null struct renders as a struct of nulls.
      */
    def shapeOf(row: InternalRow): UTF8String = {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < rootNodes.length) {
        rootNodes(i).append(sb,
          if (row == null || row.isNullAt(i)) null else row.get(i, fieldTypes(i)))
        sb.append('|')
        i += 1
      }
      UTF8String.fromString(sb.toString)
    }
    override def eval(input: InternalRow): Any =
      shapeOf(child.eval(input).asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("rootShape", this, classOf[RootShape].getName)
      val c = child.genCode(ctx)
      ev.copy(code =
        code"""
          ${c.code}
          boolean ${ev.isNull} = false;
          UTF8String ${ev.value} =
            $self.shapeOf(${c.isNull} ? null : (InternalRow) ${c.value});""")
    }
    override protected def withNewChildInternal(newChild: Expression): RootShape =
      copy(child = newChild)
  }

  /** (name, usage, builder) for EVERY graft SQL function — the one list
    * both [[register]] (session registry) and
    * [[GraftSparkExtensions]] (extension injection) feed from, so the two
    * registration paths cannot drift apart. Includes Spark's internal
    * (non-SQL-registered) Bloom filter expressions, exposed for the
    * Bloom-guarded incremental dedup (Dedup.bloomDedupAgainst): the
    * aggregate folds XxHash64'd keys into a sketch with map-side partial
    * merges; the probe is row-local and codegen'd. Both take the raw key;
    * hashing happens here so callers cannot mismatch seeds between build
    * and probe.
    */
  private[functions] val sqlFunctions
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_rolling_hash", "polynomial rolling hash over UTF-8 bytes",
      es => RollingHash(es.head)),
    ("graft_simhash64", "64-bit SimHash over an array of token strings",
      es => SimHash64(es.head)),
    ("graft_adjacent_pairs", "adjacent pairs of an array's elements",
      es => AdjacentPairs(es.head)),
    ("graft_ngrams", "n-grams of an array of tokens",
      es => NGrams(es(0), es(1))),
    ("graft_ws_tokens", "whitespace tokenization (RE2-parity byte scan)",
      es => WhitespaceTokens(es.head)),
    ("graft_cdc_bounds", "content-defined chunk boundaries over UTF-8 bytes",
      es => CdcBoundaries(es.head)),
    ("graft_window_fps", "md5 fingerprints of w-token sliding windows",
      es => WindowMd5Fps(es(0), es(1), es(2))),
    ("graft_elem_counts", "distinct elements of a string array with counts",
      es => ElemCounts(es.head)),
    ("graft_mask_tokens", "tokens not covered by any w-token window at the given starts",
      es => MaskTokens(es(0), es(1), es(2))),
    ("graft_dot", "strict sequential dot product of two numeric arrays",
      es => DotProduct(es(0), es(1))),
    ("graft_l2sq", "strict sequential squared L2 distance of two numeric arrays",
      es => L2Squared(es(0), es(1))),
    ("graft_nearest_cells", "nprobe nearest centroid ids of a vector",
      es => NearestCells(es(0), es(1), es(2), es(3))),
    ("graft_topk", "bounded top-k (score desc, id asc) aggregate",
      es => TopKIds(es(0), es(1), es(2))),
    ("graft_vec_sum_long", "element-wise sum aggregate of long arrays",
      es => VectorSumLong(es.head)),
    ("graft_topk_payload", "bounded top-k aggregate carrying a payload",
      es => TopKPayload(es(0), es(1), es(2), es(3))),
    ("graft_root_shape", "canonical dynamic-shape string of a dyn-field struct",
      es => RootShape(es.head)),
    ("graft_bloom_agg", "Bloom filter sketch aggregate over XxHash64'd keys",
      es => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(es(0))), es(1), es(2))),
    ("graft_bloom_might_contain", "Bloom filter membership probe (XxHash64'd key)",
      es => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0),
        new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(es(1))))))

  /** Register all graft scalar functions on a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  // builders self-register on the active session (idempotent) so a bare
  // `Similarity.cosine(...)` works without a prior register() call
  private def ensureRegistered(): Unit = SparkSession.getActiveSession.foreach { s =>
    if (!s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")))
      register(s)
  }

  def rollingHash(c: Column): Column = { ensureRegistered(); call_function("graft_rolling_hash", c) }
  def simHash64(c: Column): Column = { ensureRegistered(); call_function("graft_simhash64", c) }
  def adjacentPairs(c: Column): Column = { ensureRegistered(); call_function("graft_adjacent_pairs", c) }
  def nGrams(c: Column, n: Int): Column = { ensureRegistered(); call_function("graft_ngrams", c, lit(n)) }
  def whitespaceTokens(c: Column): Column = { ensureRegistered(); call_function("graft_ws_tokens", c) }
  def cdcBoundaries(c: Column): Column = { ensureRegistered(); call_function("graft_cdc_bounds", c) }
  def windowFps(toks: Column, w: Int, distinct: Boolean): Column = {
    ensureRegistered()
    call_function("graft_window_fps", toks, lit(w), lit(distinct))
  }
  def elemCounts(c: Column): Column = { ensureRegistered(); call_function("graft_elem_counts", c) }
  def maskTokens(toks: Column, starts: Column, w: Int): Column = {
    ensureRegistered()
    call_function("graft_mask_tokens", toks, starts, lit(w))
  }
  def dotProduct(a: Column, b: Column): Column = { ensureRegistered(); call_function("graft_dot", a, b) }
  def l2Squared(a: Column, b: Column): Column = { ensureRegistered(); call_function("graft_l2sq", a, b) }
  def rootShape(c: Column): Column = { ensureRegistered(); call_function("graft_root_shape", c) }

  /** [[NearestCells]] over a driver-collected codebook. `ids` must be sorted
    * ascending and positionally aligned with `vecs`.
    */
  def nearestCells(vec: Column, ids: Seq[Long], vecs: Seq[Seq[Double]], nprobe: Int): Column = {
    ensureRegistered()
    call_function("graft_nearest_cells", vec, typedLit(ids), typedLit(vecs), lit(nprobe))
  }

  /** [[TopKIds]] bounded top-k aggregate (score desc, id asc → ids best-first). */
  def topKIds(score: Column, id: Column, k: Int): Column = {
    ensureRegistered()
    call_function("graft_topk", score, id, lit(k))
  }

  /** [[VectorSumLong]] element-wise long-array sum aggregate. */
  def vectorSumLong(arr: Column): Column = {
    ensureRegistered()
    call_function("graft_vec_sum_long", arr)
  }

  /** [[TopKPayload]] bounded top-k aggregate (score desc, tie asc →
    * payloads best-first).
    */
  def topKPayload(score: Column, tie: Column, payload: Column, k: Int): Column = {
    ensureRegistered()
    call_function("graft_topk_payload", score, tie, payload, lit(k))
  }

  /** Hamming distance between two 64-bit simhashes (built-ins only). */
  def hammingDist64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  /** Bloom-filter sketch aggregate over a key column (binary result). */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column = {
    ensureRegistered()
    call_function("graft_bloom_agg", key, lit(expectedItems), lit(numBits))
  }

  /** Row-local membership probe of a [[bloomAgg]] digest. */
  def bloomMightContain(digest: Column, key: Column): Column = {
    ensureRegistered()
    call_function("graft_bloom_might_contain", digest, key)
  }
}
