package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Hashing

/** Native codegen'd kernels for the normalized-text hot paths.
  *
  * Every text pipeline (dedup, winnowing, n-gram LMs, PMI, BM25) starts
  * from [[graft.pipeline.Dedup.normalizeText]] — previously
  * `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +",
  * " "))`, i.e. two full Java-regex passes per document per evaluation —
  * and then builds per-token/per-gram structures with interpreted
  * higher-order lambdas (`transform(sequence(...), i => element_at(...))`
  * runs as a per-element interpreted closure with no CSE; measured as the
  * dominant per-task cost of the winnow and LM families).
  *
  * These expressions compute the SAME values in one tight JVM pass:
  *
  *  - [[CollapseNonAlnum]]: the character-class filter + space collapse +
  *    trim in one byte scan (composed under the unchanged `lower()`, so
  *    lowercasing semantics stay Spark's own).
  *  - [[WordNGrams]]: consecutive word n-grams of an already-normalized
  *    text — replaces split + sequence/transform/element_at struct
  *    assembly.
  *  - [[WinnowGrams]]: the full Schleimer–Wilkerson–Aiken winnowing
  *    selection (k-gram rolling [[Hashing.polyHash]] + rightmost-min
  *    window selection + consecutive dedup) in O(m) per document —
  *    replaces the interpreted closed-form `least`/`when`-chain cascade
  *    (O(m·w²) with the lambda re-evaluation constant).
  *  - [[WordShingles]]: distinct word w-shingles as byte slices of the
  *    normalized text — replaces the per-shingle `concat_ws` lambda.
  *  - [[HashedGramBuckets]]: DSIR's hashed unigram + bigram buckets of a
  *    normalized text — replaces the gram-string HOF + per-gram hash
  *    lambda.
  *  - [[RepetitionSignals]]: both Gopher repetition families (line,
  *    token and word n-gram counts over the raw and normalized text) in
  *    one pass with hash maps over byte slices — replaces the O(G²)
  *    pairwise `filter`/`aggregate` lambda chains behind q_quality_v2
  *    and q_repetition.
  *  - [[SortedShingleHashes]]: the [[Hashing.polyHash]] of every shingle,
  *    sorted — replaces `array_sort(transform(shingles, polyHash))`, the
  *    MinHash verify set.
  *  - [[MinHashSignature]]: the k permutation minima of a hash array in
  *    one pass over it — replaces both the explode + k `min` aggregates
  *    of the batch path and the `array_min(transform(...))` lambda per
  *    permutation of the stream path.
  *
  * Value parity is bit-for-bit and locked by the existing unit suites and
  * the DuckDB oracle replays (which compute the same definitions
  * independently, SQL-side). The byte-level fast paths are exact because
  * normalized text is pure ASCII by construction (only [a-z0-9 ]
  * survives the filter); [[WinnowGrams]] keeps a codepoint fallback for
  * non-ASCII inputs (parity with `substr`/`length` character counting).
  */
object TextKernels {

  /** One-pass twin of `trim(regexp_replace(regexp_replace(s,
    * "[^a-z0-9 ]", ""), " +", " "))` over an ALREADY-LOWERCASED input:
    * drop every byte outside [a-z0-9 ] (multi-byte UTF-8 units are all
    * ≥ 0x80, so byte filtering equals character filtering), collapse
    * space runs, trim. */
  def collapse(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out = new Array[Byte](bytes.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = b
        n += 1
      } else if (b == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }

  /** Consecutive word n-grams of a normalized (single-spaced, trimmed)
    * text: the rows `explode(transform(sequence(1, size(toks)-(n-1)),
    * i => struct(element_at(toks, i), ...)))` produces after the
    * `w_i != ""` filters. Tokens split on single spaces byte-wise
    * (space never occurs inside a multi-byte UTF-8 sequence). */
  def wordNGrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // token boundaries
    var nTok = 0
    var i = 0
    val len = bytes.length
    if (len > 0) {
      nTok = 1
      while (i < len) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    def tok(j: Int): UTF8String =
      UTF8String.fromBytes(bytes, starts(j), starts(j + 1) - 1 - starts(j))
    val out = new Array[Any](nTok - n + 1)
    var g = 0
    while (g < nTok - n + 1) {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n)
      var f = 0
      while (f < n) { row.update(f, tok(g + f)); f += 1 }
      out(g) = row
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word w-shingles of a normalized text, first-occurrence
    * order — the rows `array_distinct` of the HOF assembly
    * (`transform(sequence(...), i => concat_ws(" ", slice(toks, i, w)))`,
    * whole-text fallback below w tokens, plain distinct tokens at w = 1)
    * produced. Each shingle is a byte-slice of the normalized text
    * (tokens joined by single spaces reconstitute it exactly), so no
    * per-shingle string assembly happens at all. */
  def wordShingles(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token boundaries; split(" ") on "" yields [""] — one empty token
    val starts = pieceStarts(bytes, ' ')
    val nTok = starts.length - 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (w == 1) {
      var j = 0
      while (j < nTok) {
        seen.add(UTF8String.fromBytes(bytes, starts(j),
          starts(j + 1) - 1 - starts(j)))
        j += 1
      }
    } else if (nTok >= w) {
      var j = 0
      while (j <= nTok - w) {
        seen.add(UTF8String.fromBytes(bytes, starts(j),
          starts(j + w) - 1 - starts(j)))
        j += 1
      }
    } else {
      seen.add(UTF8String.fromBytes(bytes, 0, len))
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var oi = 0
    while (it.hasNext) { out(oi) = it.next(); oi += 1 }
    new GenericArrayData(out)
  }

  /** The winnowing fingerprint selection of
    * [[graft.pipeline.TextAnalysis.winnowFingerprints]] in one pass:
    * rolling mod-P polynomial hash of every k-gram, rightmost-min
    * selection per window of w consecutive hashes (monotonic deque),
    * consecutive-window dedup; documents with 1 ≤ m < w grams winnow
    * their single partial window (rightmost min of all grams). Output
    * rows (pos, fp), pos = 1-based gram start. */
  def winnowGrams(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    // fast path: pure ASCII (always true for normalized text)
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { if (bytes(i) < 0) ascii = false; i += 1 }
    val cps: Array[Int] = if (ascii) null else s.toString.codePoints().toArray
    val n = if (ascii) bytes.length else cps.length
    @inline def cpAt(j: Int): Long =
      if (ascii) (bytes(j) & 0xffL) else cps(j).toLong
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val m = n - k + 1
    val P = Hashing.P
    val B = Hashing.B
    val hs = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < k) { h = (h * B + cpAt(j)) % P; j += 1 }
    hs(0) = h
    var bk1 = 1L
    j = 0
    while (j < k - 1) { bk1 = bk1 * B % P; j += 1 }
    var t = 1
    while (t < m) {
      h = ((h + P - cpAt(t - 1) * bk1 % P) % P * B + cpAt(t + k - 1)) % P
      hs(t) = h
      t += 1
    }
    val outBuf = new Array[Any](if (m >= w) m - w + 1 else 1)
    var nOut = 0
    @inline def emit(pos0: Int): Unit = {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      row.setLong(0, (pos0 + 1).toLong)
      row.setLong(1, hs(pos0))
      outBuf(nOut) = row
      nOut += 1
    }
    if (m >= w) {
      // monotonic deque of gram indices; popping `>=` on insert keeps the
      // RIGHTMOST occurrence of the window minimum at the front
      val dq = new Array[Int](m)
      var head = 0
      var tail = 0 // exclusive
      var prevSel = -1
      var g = 0
      while (g < m) {
        while (tail > head && hs(dq(tail - 1)) >= hs(g)) tail -= 1
        dq(tail) = g
        tail += 1
        val lo = g - w + 1 // window start (gram index)
        if (lo >= 0) {
          while (dq(head) < lo) head += 1
          val sel = dq(head)
          if (sel != prevSel) { emit(sel); prevSel = sel }
        }
        g += 1
      }
    } else {
      // single partial window: rightmost min (<= keeps the later index)
      var best = 0
      var g = 1
      while (g < m) { if (hs(g) <= hs(best)) best = g; g += 1 }
      emit(best)
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      outBuf.asInstanceOf[Array[AnyRef]], nOut).asInstanceOf[Array[Any]])
  }

  /** Hashed DSIR gram buckets of a normalized text in ONE pass: the exact
    * values of `transform(tokens ++ bigrams, g => pmod(mix(polyHash(g),
    * seed), buckets))` where tokens = split(s, " ") (so "" yields the one
    * empty token, hash 0 — split semantics) and each bigram is the
    * contiguous "tokᵢ tokᵢ₊₁" slice of the normalized text. Replaces the
    * interpreted grams-HOF + per-gram string materialization + per-gram
    * hash lambda (measured: ~2/3 of the DSIR scoring pass above the scan
    * floor). Unigrams first, then bigrams — the `concat(tokens, bigrams)`
    * order of the Column form. ASCII byte fast path (normalized text is
    * pure [a-z0-9 ] by construction) with a codepoint fallback for parity
    * on any non-ASCII input. */
  def hashedGramBuckets(s: UTF8String, buckets: Int, seed: Int): ArrayData = {
    val a = Hashing.aCoef(seed)
    val b = Hashing.bCoef(seed)
    val P = Hashing.P
    val B = Hashing.B
    def bucketOf(h: Long): Long = Hashing.mixLong(h, a, b) % buckets
    val bytes = s.getBytes
    val len = bytes.length
    var ascii = true
    var i = 0
    while (i < len) { if (bytes(i) < 0) { ascii = false; i = len }; i += 1 }
    if (!ascii) {
      // codepoint fallback: PolyHash.hash over each gram
      val str = s.toString
      val toks = str.split(" ", -1)
      val out = new Array[Long](toks.length +
        (if (toks.length >= 2) toks.length - 1 else 0))
      def hashStr(t: String): Long = PolyHash.hash(UTF8String.fromString(t), P)
      var k = 0
      while (k < toks.length) { out(k) = bucketOf(hashStr(toks(k))); k += 1 }
      k = 0
      while (k < toks.length - 1) {
        out(toks.length + k) = bucketOf(hashStr(toks(k) + " " + toks(k + 1)))
        k += 1
      }
      return new GenericArrayData(out)
    }
    // token boundaries; split(" ") on "" yields [""] — one empty token
    val starts = pieceStarts(bytes, ' ')
    val nTok = starts.length - 1
    def hashRange(from: Int, until: Int): Long = {
      var h = 0L
      var j = from
      while (j < until) { h = (h * B + (bytes(j) & 0xffL)) % P; j += 1 }
      h
    }
    val out = new Array[Long](nTok + (if (nTok >= 2) nTok - 1 else 0))
    var g = 0
    while (g < nTok) {
      out(g) = bucketOf(hashRange(starts(g), starts(g + 1) - 1))
      g += 1
    }
    g = 0
    while (g < nTok - 1) {
      // the bigram "tokᵍ tokᵍ⁺¹" is the byte slice spanning both tokens
      out(nTok + g) = bucketOf(hashRange(starts(g), starts(g + 2) - 1))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Piece boundaries of `bytes` split on `sep` keeping every piece
    * (Java `split(sep, -1)`: "" is one empty piece, a trailing separator
    * leaves a trailing empty piece): piece j is `[st(j), st(j + 1) - 1)`,
    * so `st` has one entry more than there are pieces. */
  private def pieceStarts(bytes: Array[Byte], sep: Byte): Array[Int] = {
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == sep) n += 1; i += 1 }
    val st = new Array[Int](n + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == sep) { st(t) = i + 1; t += 1 }
      i += 1
    }
    st(n) = bytes.length + 1
    st
  }

  /** Occurrence counts of the slices spanning `w` consecutive pieces
    * (separators included), `[st(g), st(g + w) - 1)` for each start g:
    * `id(g)` numbers the distinct slices in first-occurrence order and
    * `count(id)` is how often each occurs. Slices hash as byte views of
    * `bytes` — nothing is copied. */
  private final class SliceCounts(bytes: Array[Byte], st: Array[Int], w: Int) {
    val m: Int = math.max(st.length - w, 0)
    val id = new Array[Int](m)
    val count: Array[Int] = {
      val ids = new java.util.HashMap[UTF8String, Integer](2 * m)
      var g = 0
      while (g < m) {
        val key = UTF8String.fromBytes(bytes, st(g), st(g + w) - 1 - st(g))
        val prev = ids.putIfAbsent(key, ids.size)
        id(g) = if (prev == null) ids.size - 1 else prev.intValue
        g += 1
      }
      val c = new Array[Int](ids.size)
      g = 0
      while (g < m) { c(id(g)) += 1; g += 1 }
      c
    }
    def occ(g: Int): Int = count(id(g))
    def len(g: Int): Int = st(g + w) - 1 - st(g)
  }

  /** The twelve Gopher repetition signals (Rae et al. 2021, §A1.1) of one
    * document in one pass, unrounded, in [[RepetitionSignals]]' field
    * order: the count family of [[graft.pipeline.TextAnalysis
    * .repetitionSignals]] then the char-weighted family of
    * [[graft.pipeline.TextAnalysis.charRepetitionSignals]].
    *
    * `raw` is the document; its lines split on '\n' keeping every piece,
    * a line's char mass is its `numChars` and `trim` strips only ' '.
    * `norm` is its normalized text (pure [a-z0-9 ], single-spaced), whose
    * tokens split on ' ' and whose word n-grams are byte slices — byte
    * length is char length there. Counts are hash maps over byte slices,
    * so the cost is O(chars) per n, not the O(G²) pairwise counting of
    * the lambda forms these values were defined by. Every value is the
    * same Long sum, Int/Long product and IEEE division those forms take,
    * with their zero-denominator → 0.0 guards: the top gram is the
    * longest among those with the maximum count, and a token counts once
    * under any duplicated window covering it. */
  def repetition(raw: UTF8String, norm: UTF8String): InternalRow = {
    def frac(num: Long, den: Long): Double = num.toDouble / den.toDouble

    val rb = raw.getBytes
    val lst = pieceStarts(rb, '\n')
    val lines = new SliceCounts(rb, lst, 1)
    val nl = lines.m
    var nEll = 0
    var nBul = 0
    var lineTot = 0L
    var lineDup = 0L
    var j = 0
    while (j < nl) {
      var a = lst(j)
      var b = lst(j + 1) - 2 // last byte of the line
      while (a <= b && rb(a) == ' ') a += 1
      while (b >= a && rb(b) == ' ') b -= 1
      if (b - a >= 2 && rb(b) == '.' && rb(b - 1) == '.' && rb(b - 2) == '.')
        nEll += 1
      if (a <= b && (rb(a) == '-' || rb(a) == '*')) nBul += 1
      val chars = UTF8String.fromBytes(rb, lst(j), lines.len(j)).numChars()
      lineTot += chars
      if (lines.occ(j) >= 2) lineDup += chars
      j += 1
    }

    val nb = norm.getBytes
    val tst = pieceStarts(nb, ' ')
    val toks = new SliceCounts(nb, tst, 1)
    val nTok = toks.m
    var tot = 0L
    j = 0
    while (j < nTok) { tot += toks.len(j); j += 1 }

    // the most frequent n-gram: its count over all grams, and its count ×
    // the longest token mass among the grams with that count over `tot`
    def top(n: Int): (Double, Double) = {
      val gs = new SliceCounts(nb, tst, n)
      if (gs.m == 0) return (0.0, 0.0)
      val maxCnt = gs.count.max
      var maxLen = 0
      var g = 0
      while (g < gs.m) {
        if (gs.occ(g) == maxCnt) maxLen = math.max(maxLen, gs.len(g) - (n - 1))
        g += 1
      }
      (frac(maxCnt, gs.m),
        if (tot > 0) frac(maxCnt.toLong * maxLen.toLong, tot) else 0.0)
    }
    // token mass under any duplicated n-gram window over `tot`: token i
    // is covered when a duplicated window starts in [i - n + 1, i], so
    // track the latest duplicated start seen so far
    def cover(n: Int): Double = {
      val gs = new SliceCounts(nb, tst, n)
      if (gs.m == 0 || tot == 0) return 0.0
      var covered = 0L
      var lastDup = Int.MinValue
      var i = 0
      while (i < nTok) {
        if (i < gs.m && gs.occ(i) >= 2) lastDup = i
        if (lastDup >= i - n + 1) covered += toks.len(i)
        i += 1
      }
      frac(covered, tot)
    }

    val (t2, t2c) = top(2)
    val (t3, t3c) = top(3)
    new GenericInternalRow(Array[Any](
      frac(nl - lines.count.length, nl), frac(nEll, nl), frac(nBul, nl),
      frac(nTok - toks.count.length, nTok), t2, t3,
      if (lineTot > 0) frac(lineDup, lineTot) else 0.0,
      t2c, t3c, top(4)._2, cover(5), cover(10)))
  }

  /** [[PolyHash.hash]] of every shingle, sorted ascending with duplicates
    * kept: `array_sort(transform(shingles, polyHash))`, null elements
    * (hashed to null) last. */
  def sortedShingleHashes(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val hs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        hs(m) = PolyHash.hash(shingles.getUTF8String(i), Hashing.P)
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(hs, 0, m)
    if (m == n) UnsafeArrayData.fromPrimitiveArray(hs)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (j < m) hs(j) else null))
  }

  /** The MinHash signature of a hash array under the mixer coefficients
    * `a` and `b` of seeds 0 until k ([[Hashing.aCoef]], [[Hashing.bCoef]]):
    * value s is the minimum over its non-null h of
    * [[Hashing.mixLong]]`(h, a(s), b(s))`;
    * null when it holds no non-null hash (the explode + `min` aggregate
    * this replaces emits no row for it). Hashes must lie in [0, P), where
    * `mixLong` equals [[Hashing.mix]]'s `pmod` and no product overflows. */
  def minHashSignature(hashes: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val sig = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < hashes.numElements()) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        any = true
        var s = 0
        while (s < k) { sig(s) = math.min(sig(s), Hashing.mixLong(h, a(s), b(s))); s += 1 }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(sig) else null
  }
}

/** Expression form of [[TextKernels.sortedShingleHashes]] over an array
  * of shingle strings. */
case class SortedShingleHashes(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(StringType))
  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_sorted_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.sortedShingleHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.sortedShingleHashes($c)")

  override protected def withNewChildInternal(
      newChild: Expression): SortedShingleHashes = copy(child = newChild)
}

/** Expression form of [[TextKernels.minHashSignature]]: `k` longs, or
  * null for an array with no non-null hash. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression
    with ExpectsInputTypes {
  require(k >= 1, s"signature length must be >= 1, got $k")

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_signature"

  // the mixer coefficients (a_s, b_s) of seeds 0 until k, built once
  @transient private lazy val coefs =
    (Array.tabulate(k)(Hashing.aCoef), Array.tabulate(k)(Hashing.bCoef))

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minHashSignature(input.asInstanceOf[ArrayData], coefs._1, coefs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("mixA", coefs._1, "long[]")
    val b = ctx.addReferenceObj("mixB", coefs._2, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextKernels.minHashSignature($c, $a, $b);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)
}

/** Expression form of [[TextKernels.repetition]] over (raw text, its
  * normalized text): a struct of the twelve unrounded signals. */
case class RepetitionSignals(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(
    (RepetitionSignals.CountFields ++ RepetitionSignals.CharFields)
      .map(StructField(_, DoubleType, nullable = false)))
  override def prettyName: String = "graft_repetition"

  override protected def nullSafeEval(raw: Any, norm: Any): Any =
    TextKernels.repetition(raw.asInstanceOf[UTF8String],
      norm.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (r, n) => s"graft.functions.TextKernels.repetition($r, $n)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RepetitionSignals =
    copy(left = newLeft, right = newRight)
}

object RepetitionSignals {
  /** The count family (q_quality_v2). */
  val CountFields: Seq[String] = Seq("dup_line_frac", "ellipsis_line_frac",
    "bullet_line_frac", "dup_token_frac", "top2gram_frac", "top3gram_frac")
  /** The char-weighted family (q_repetition). */
  val CharFields: Seq[String] = Seq("dup_line_char_frac",
    "top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac",
    "dup5gram_char_frac", "dup10gram_char_frac")
}

/** Expression form of [[TextKernels.hashedGramBuckets]]. Input must
  * already be normalized (single-spaced, trimmed) text. */
case class HashedGramBuckets(child: Expression, buckets: Int, seed: Int)
    extends UnaryExpression {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_gram_buckets"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.hashedGramBuckets(input.asInstanceOf[UTF8String], buckets, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.hashedGramBuckets($c, $buckets, $seed)")

  override protected def withNewChildInternal(
      newChild: Expression): HashedGramBuckets = copy(child = newChild)
}

/** Expression form of [[TextKernels.collapse]] — compose under `lower()`. */
case class CollapseNonAlnum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_collapse_nonalnum"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.collapse($c)")

  override protected def withNewChildInternal(
      newChild: Expression): CollapseNonAlnum = copy(child = newChild)
}

/** Expression form of [[TextKernels.wordNGrams]]. Input must already be
  * normalized (single-spaced, trimmed). */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 8, s"n-gram order must be in [1, 8], got $n")

  override def dataType: DataType = ArrayType(
    StructType((1 to n).map(i => StructField(s"w$i", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordNGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordNGrams($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): WordNGrams = copy(child = newChild)
}

/** Expression form of [[TextKernels.wordShingles]]. Input must already
  * be normalized (single-spaced, trimmed) text. */
case class WordShingles(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordShingles($c, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WordShingles = copy(child = newChild)
}

/** Expression form of [[TextKernels.winnowGrams]]. Input must already be
  * normalized text. */
case class WinnowGrams(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 2, s"k-gram length must be >= 2, got $k")
  require(w >= 2, s"winnowing window must be >= 2, got $w")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_winnow_grams"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.winnowGrams(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.winnowGrams($c, $k, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowGrams = copy(child = newChild)
}
