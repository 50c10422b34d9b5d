package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch hot loops.
  *
  * The higher-order-function formulations (see git history of Text.scala)
  * are interpreted per lambda invocation — k×N closure evaluations per row.
  * These expressions do the same arithmetic in tight JVM loops over the
  * array data (one virtual call per ROW, not per element), which benched
  * ~10× faster on the dedup pipeline. They are deterministic pure functions
  * of their input, so they remain safe under retries and AQE re-execution.
  *
  * Since r17 every expression here implements `doGenCode` (a one-line call
  * into the same `kernel` method `nullSafeEval` uses, via a plan
  * reference object): a CodegenFallback expression disqualifies its whole
  * plan node from whole-stage codegen (`CollapseCodegenStages.supportCodegen`
  * returns false for any tree containing one), so every projection
  * computing a signature used to split its pipeline into separate codegen
  * spans with an InternalRow materialization between them. With real
  * codegen the spans fuse and the per-row cost is one virtual call with
  * primitive/ArrayData arguments — no row copy, no result boxing. The
  * kernels are shared verbatim between the interpreted and generated
  * paths, so the two cannot diverge.
  *
  * All hashing is polynomial mod P = 2^31-1 (Mersenne): every intermediate
  * fits a signed 64-bit integer (a*h < 2^62), which means the EXACT same
  * arithmetic is expressible in ANSI SQL / DuckDB (`list_reduce` folds) —
  * the SQL-oracle generators live in the companion object. A 64-bit
  * wrapping hash (xxhash64/FNV) would be faster per byte but has no
  * overflow-free SQL equivalent, so correctness would be unverifiable.
  */
object TextHash {
  /** Mersenne prime 2^31-1; hash universe for all text sketches. */
  val P = 2147483647L

  /** x mod P for 0 ≤ x < 2⁶², division-free (P is Mersenne: 2³¹ ≡ 1 mod P,
    * so folding the high bits onto the low bits preserves the residue).
    * Bit-identical to `x % P` on that domain — the hot loops below fold
    * values < 2⁶² by construction (operands < P < 2³¹), so swapping the
    * hardware division (~20-40 cycles) for two shifts+adds changes no
    * value anywhere. Exactness: r1 = (x&P) + (x>>>31) ≤ 2³²−2;
    * r2 = (r1&P) + (r1>>>31) ≤ P+1; one conditional subtract lands in
    * [0, P).
    */
  def modP(x: Long): Long = {
    val r1 = (x & P) + (x >>> 31)
    val r2 = (r1 & P) + (r1 >>> 31)
    if (r2 >= P) r2 - P else r2
  }

  /** `split("\\s+")` compiles the regex PER CALL (String.split has a fast
    * path only for single-char literals); one shared compiled Pattern is
    * semantics-identical and drops the per-row compile from every
    * tokenizing expression. Pattern is thread-safe (split allocates its
    * own Matcher).
    */
  val WS: java.util.regex.Pattern = java.util.regex.Pattern.compile("\\s+")

  /** Polynomial string hash mod P: fold h = (h*mult + charCode) mod P.
    * h < P and mult ≤ 137 keep h*mult + c < 2³⁹, inside modP's domain.
    */
  def poly(s: CharSequence, from: Int, until: Int, mult: Long): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = modP(h * mult + s.charAt(i)); i += 1 }
    h
  }

  /** Sort + dedup a primitive long buffer in place — no boxing (a TreeSet
    * here costs one allocation + compare chain per element and dominated
    * the char-n-gram profile).
    */
  def sortedDistinct(buf: Array[Long], len: Int): Array[Long] = {
    java.util.Arrays.sort(buf, 0, len)
    var n = 0
    var i = 0
    while (i < len) {
      if (n == 0 || buf(i) != buf(n - 1)) { buf(n) = buf(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(buf, n)
  }
}

/** `doGenCode` for a unary kernel expression: the standard null-checked
  * child evaluation, then ONE call on this expression object (shipped to
  * executors as a plan reference object) passing the child's generated
  * value — UTF8String/ArrayData/primitive in, primitive/ArrayData out.
  * Replaces CodegenFallback, which (a) boxed the result and re-evaluated
  * the child subtree interpreted per row and (b) disqualified the whole
  * plan node from whole-stage codegen (CollapseCodegenStages treats any
  * tree containing a CodegenFallback as unsupported), splitting fused
  * pipelines with an InternalRow materialization. The `kernel` method is
  * the same one `nullSafeEval` calls, so interpreted and generated paths
  * share one implementation.
  */
trait UnaryKernelCodegen extends UnaryExpression {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
      s"${ev.value} = $ref.kernel($c);"
    })
}

/** Binary twin of [[UnaryKernelCodegen]]. */
trait BinaryKernelCodegen extends BinaryExpression {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
      s"${ev.value} = $ref.kernel($a, $b);"
    })
}

/** Ternary twin of [[UnaryKernelCodegen]]. */
trait TernaryKernelCodegen extends TernaryExpression {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
      s"${ev.value} = $ref.kernel($a, $b, $c);"
    })
}

/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
  * the MOSS local-fingerprinting algorithm, public result): the IN-ORDER
  * n-token shingle hash sequence is scanned with a sliding window of `w`
  * hashes; each window contributes its MINIMUM hash and the distinct
  * selected values are the document's fingerprint set.
  *
  * Guarantee: any shared run of w + n − 1 tokens between two documents
  * yields at least one shared fingerprint, while expected per-doc density
  * is ~2/(w+1) — position-robust LOCAL match detection that a global
  * minhash signature cannot give. Selection is by VALUE (the window
  * minimum), so the set is engine-agnostic regardless of tie positions.
  *
  * The scan is the O(m) monotonic-deque sweep; the DuckDB oracle twin
  * ([[TextExprs.winnowHashesSql]]) is the O(m·w) list_min-per-window
  * formulation — same values, the native expression is the scale path.
  * Docs shorter than n tokens hash their whole token string; hash
  * sequences shorter than w contribute their single overall minimum
  * (one truncated window) — both mirrored in the SQL twin.
  */
case class WinnowHashes(child: Expression, n: Int, w: Int)
    extends UnaryKernelCodegen {
  require(n > 0 && w > 0, s"winnowing needs positive n/w, got n=$n w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(input: UTF8String): ArrayData = {
    import TextHash.modP
    val toks = TextHash.WS.split(
      input.toString.toLowerCase(java.util.Locale.ROOT).trim)
    val m = if (toks.length < n) 1 else toks.length - n + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val len = if (toks.length < n) toks.length else n
      var h = 0L
      var t = i
      val end = i + len
      while (t < end) {
        if (t > i) h = modP(h * 131 + ' ')
        val s = toks(t)
        var j = 0
        while (j < s.length) { h = modP(h * 131 + s.charAt(j)); j += 1 }
        t += 1
      }
      hs(i) = h
      i += 1
    }
    if (m <= w) {
      var mn = hs(0)
      var k = 1
      while (k < m) { if (hs(k) < mn) mn = hs(k); k += 1 }
      new GenericArrayData(Array(mn))
    } else {
      // monotonic deque of indices with ascending hash values: each index
      // enters/leaves once — O(m) total for all m−w+1 windows
      val deque = new Array[Int](m)
      var head = 0; var tail = 0 // [head, tail) holds candidate indices
      val out = new Array[Long](m - w + 1)
      var x = 0
      while (x < m) {
        while (tail > head && hs(deque(tail - 1)) >= hs(x)) tail -= 1
        deque(tail) = x; tail += 1
        if (deque(head) <= x - w) head += 1
        if (x >= w - 1) out(x - w + 1) = hs(deque(head))
        x += 1
      }
      new GenericArrayData(TextHash.sortedDistinct(out, out.length))
    }
  }
  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

/** Distinct sorted mod-P hashes of word n-gram shingles, one pass from raw
  * text: lowercase, split on whitespace, hash each n-token window (tokens
  * joined by a single space) with poly-131. A doc shorter than n tokens
  * contributes its whole token string.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryKernelCodegen {
  import TextHash.modP
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def hashShingle(toks: Array[String], from: Int, len: Int): Long = {
    var h = 0L
    var i = from
    val end = from + len
    while (i < end) {
      if (i > from) h = modP(h * 131 + ' ')
      val s = toks(i)
      var j = 0
      while (j < s.length) { h = modP(h * 131 + s.charAt(j)); j += 1 }
      i += 1
    }
    h
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(input: UTF8String): ArrayData = {
    val toks = TextHash.WS.split(
      input.toString.toLowerCase(java.util.Locale.ROOT).trim)
    if (toks.length < n)
      return new GenericArrayData(Array(hashShingle(toks, 0, toks.length)))
    val buf = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) { buf(i) = hashShingle(toks, i, n); i += 1 }
    new GenericArrayData(TextHash.sortedDistinct(buf, buf.length))
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Distinct 62-bit shingle features for SimHash: poly-131 and poly-137 hashes
  * of each n-token shingle combined as h1 + h2*2^31 (both < 2^31, so the
  * result is < 2^62 and overflow-free in any engine).
  */
case class ShingleFeatures62(child: Expression, n: Int)
    extends UnaryKernelCodegen {
  import TextHash.modP
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def hashShingle(toks: Array[String], from: Int, len: Int): Long = {
    var h1 = 0L; var h2 = 0L
    var i = from
    val end = from + len
    while (i < end) {
      if (i > from) { h1 = modP(h1 * 131 + ' '); h2 = modP(h2 * 137 + ' ') }
      val s = toks(i)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        h1 = modP(h1 * 131 + c); h2 = modP(h2 * 137 + c)
        j += 1
      }
      i += 1
    }
    h1 + (h2 << 31)
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(input: UTF8String): ArrayData = {
    val toks = TextHash.WS.split(
      input.toString.toLowerCase(java.util.Locale.ROOT).trim)
    if (toks.length < n)
      return new GenericArrayData(Array(hashShingle(toks, 0, toks.length)))
    val buf = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) { buf(i) = hashShingle(toks, i, n); i += 1 }
    // SimHash is a per-bit majority over the SET — element order never
    // affects the result, so sorted-distinct matches the oracle's
    // first-occurrence-ordered list_distinct
    new GenericArrayData(TextHash.sortedDistinct(buf, buf.length))
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleFeatures62 =
    copy(child = newChild)
}

/** MinHash signature: sig_i = min over hashes h of (a_i*h + b_i) mod P.
  * Empty input → all-zero signature.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryKernelCodegen {
  import TextHash.P
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): ArrayData = {
    val arr = input.toLongArray()
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val a = Math.floorMod((2L * i + 1) * 2654435761L, P)
      val b = Math.floorMod((i + 7L) * 40503L * 99991L, P)
      var m = Long.MaxValue
      var j = 0
      while (j < arr.length) {
        val h = arr(j)
        // every in-repo producer feeds mod-P hashes (h < 2³¹), where
        // a·h + b < 2⁶² and the division-free reduction equals floorMod
        // exactly; the guard keeps bit-identical floorMod semantics
        // (including long wraparound) for any out-of-range caller
        val v = if ((h >>> 31) == 0L) TextHash.modP(a * h + b)
                else Math.floorMod(a * h + b, P)
        if (v < m) m = v
        j += 1
      }
      sig(i) = if (arr.length == 0) 0L else m
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** LSH band hashes over a MinHash signature: `bands` hashes, each the
  * poly-1000003 fold mod P of `rows` consecutive signature positions.
  */
case class BandHashes(child: Expression, bands: Int, rows: Int)
    extends UnaryKernelCodegen {
  import TextHash.P
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): ArrayData = {
    val sig = input.toLongArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0L
      var j = b * rows
      val end = math.min(sig.length, j + rows)
      while (j < end) {
        val v = sig(j)
        // signature positions are mod-P (v < 2³¹): h·1000003 + v < 2⁵¹,
        // division-free reduction == `%` exactly; guard preserves the
        // plain-% semantics for out-of-range callers
        h = if ((v >>> 31) == 0L) TextHash.modP(h * 1000003L + v)
            else (h * 1000003L + v) % P
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

/** Fraction of equal positions between two equal-length signatures
  * (MinHash Jaccard estimate).
  */
case class SigMatchFrac(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val a = l.toLongArray()
    val b = r.toLongArray()
    val n = math.min(a.length, b.length)
    var eq = 0; var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    if (n == 0) 1.0 else eq.toDouble / n
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatchFrac =
    copy(left = l, right = r)
}

/** SimHash over an array of feature hashes: bit b (for b < bits) is set iff
  * bit b is set in the strict majority of inputs.
  */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryKernelCodegen {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): Long = {
    val arr = input.toLongArray()
    val counts = new Array[Int](bits)
    var j = 0
    while (j < arr.length) {
      val h = arr(j)
      var b = 0
      while (b < bits) {
        counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** Distinct sorted mod-P poly-131 hashes of character n-grams (lowercased,
  * NOT trimmed — whitespace is signal for character shingling).
  */
case class CharNgramHashes(child: Expression, n: Int)
    extends UnaryKernelCodegen {
  import TextHash.{P, modP}
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** 131^(n-1) mod P — the leading char's positional weight. */
  private val lead: Long = {
    var m = 1L; var i = 1
    while (i < n) { m = modP(m * 131); i += 1 }
    m
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  /** Rolling update instead of re-hashing every window from scratch:
    * h(i+1) = (h(i) − c_i·131^(n−1))·131 + c_(i+n) in mod-P arithmetic —
    * the SAME residues as the per-window fold (modular identity, not an
    * approximation), at O(1) per window instead of O(n). A string shorter
    * than n keeps the single truncated-window hash.
    */
  def kernel(input: UTF8String): ArrayData = {
    val s = input.toString.toLowerCase(java.util.Locale.ROOT)
    if (s.length <= n)
      return new GenericArrayData(
        Array(TextHash.poly(s, 0, s.length, 131)))
    val upper = s.length - n + 1
    val buf = new Array[Long](upper)
    var h = TextHash.poly(s, 0, n, 131)
    buf(0) = h
    var i = 0
    while (i < upper - 1) {
      var t = h - modP(s.charAt(i) * lead)
      if (t < 0) t += P
      h = modP(t * 131 + s.charAt(i + n))
      buf(i + 1) = h
      i += 1
    }
    new GenericArrayData(TextHash.sortedDistinct(buf, upper))
  }
  override protected def withNewChildInternal(newChild: Expression): CharNgramHashes =
    copy(child = newChild)
}

/** Exact Jaccard similarity of two SORTED distinct long arrays: two-pointer
  * merge, no per-element boxing or hash sets (array_intersect/array_union
  * build hash maps per row).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val a = l.toLongArray()
    val b = r.toLongArray()
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** Containment |A∩B| / min(|A|,|B|) over two SORTED distinct long arrays —
  * the same two-pointer merge as [[JaccardSorted]] (no per-row hash sets;
  * `array_intersect` benched 3× slower on the gram arrays). Equal to the
  * oracle's `len(list_intersect(a,b)) / least(len(a), len(b))` because both
  * inputs are distinct, and the division is one IEEE op.
  *
  * PRECONDITION for that oracle equivalence: both arrays non-empty. An
  * empty input scores 1.0 here (vacuous containment) while the SQL twin
  * divides by zero (NULL) — callers must guarantee ≥1 gram per side.
  * [[CharNgramHashes]] always emits ≥1 gram (it hashes the whole string
  * when shorter than n), so every in-repo call site satisfies this.
  */
case class ContainmentSorted(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val a = l.toLongArray()
    val b = r.toLongArray()
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val mn = math.min(a.length, b.length)
    if (mn == 0) 1.0 else inter.toDouble / mn
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ContainmentSorted =
    copy(left = l, right = r)
}

/** Order-sensitive document fingerprint: tokens (lowercased, whitespace
  * split), each poly-131-hashed, folded with h = (h*131 + tokenHash) % P.
  */
case class RollingHash(child: Expression)
    extends UnaryKernelCodegen {
  import TextHash.modP
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(input: UTF8String): Long = {
    val toks = TextHash.WS.split(
      input.toString.toLowerCase(java.util.Locale.ROOT).trim)
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc = modP(acc * 131 + TextHash.poly(toks(i), 0, toks(i).length, 131))
      i += 1
    }
    acc
  }
  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Shannon entropy (bits) of a string's character distribution — the
  * per-row replacement for the explode → (doc_id, ch) shuffle → log2
  * aggregation pipeline, which moved one row per CHARACTER (7.5 M rows at
  * sf0.1, 5.2 s; this runs the corpus in 0.4 s with zero shuffles).
  * Terms sum in ascending char order (deterministic); the cross-engine
  * match with the exploded SQL oracle holds because both round to 4 dp,
  * absorbing summation-order ulps. Counts UTF-16 code units (== code
  * points for the ASCII fixture; a surrogate-pair corpus would count
  * units — same caveat as every length() in the repo).
  */
case class CharEntropy(child: Expression)
    extends UnaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(input: UTF8String): Double = {
    val s = input.toString
    if (s.isEmpty) return 0.0
    // sorted char array replaces the TreeMap: same ascending-char term
    // order (the determinism contract), no per-char boxing/merge nodes
    val cs = s.toCharArray
    java.util.Arrays.sort(cs)
    val n = s.length.toDouble
    var h = 0.0
    var i = 0
    while (i < cs.length) {
      var j = i + 1
      while (j < cs.length && cs(j) == cs(i)) j += 1
      val p = (j - i) / n
      h -= p * (math.log(p) / math.log(2.0))
      i = j
    }
    h
  }
  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** One-pass greedy merge-table application — the BPE APPLY hot loop of
  * q_phrase_merge as a single native expression instead of 8 chained
  * interpreted `aggregate` HOF folds (each of which re-splits and
  * re-concatenates the whole document string per round, with one closure
  * invocation per token per round).
  *
  * Semantics are EXACTLY the HOF fold's, round by round: for merge i the
  * running result's LAST token is compared to x_i (the fold's
  * `acc = x OR endswith(acc, ' ' || x)` boundary check is precisely
  * last-token equality, because tokens never contain spaces and merged
  * tokens are fused with '+'), and a following token equal to y_i fuses
  * into `x+y`. Each merge is fully applied leftmost-first before the
  * next — BPE's application order. Null merge slots (fewer than 8 learned
  * merges) are identity rounds in the fold (a NULL comparison never
  * matches) and are skipped here.
  *
  * The DuckDB oracle keeps the list_reduce formulation (TextOps
  * `mergeRoundSql`), so the cross-engine gate now proves the tight loop
  * against an independently-written fold — stronger than HOF-vs-HOF.
  */
case class GreedyMergeApply(first: Expression, second: Expression,
    third: Expression) extends TernaryKernelCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(t: Any, xa: Any, ya: Any): Any =
    kernel(t.asInstanceOf[UTF8String], xa.asInstanceOf[ArrayData],
      ya.asInstanceOf[ArrayData])

  def kernel(t: UTF8String, xs: ArrayData, ys: ArrayData): UTF8String = {
    var toks: Array[String] =
      t.toString.split(' ').filter(_.nonEmpty)
    val m = math.min(xs.numElements(), ys.numElements())
    var i = 0
    while (i < m) {
      if (!xs.isNullAt(i) && !ys.isNullAt(i)) {
        val x = xs.getUTF8String(i).toString
        val y = ys.getUTF8String(i).toString
        val out = new Array[String](toks.length)
        var n = 0
        var j = 0
        while (j < toks.length) {
          val tk = toks(j)
          if (n > 0 && out(n - 1) == x && tk == y) out(n - 1) = x + "+" + y
          else { out(n) = tk; n += 1 }
          j += 1
        }
        toks = java.util.Arrays.copyOf(out, n)
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(toks.mkString(" "))
  }
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): GreedyMergeApply =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object TextExprs {
  // Spark 4's Column wraps a ColumnNode, not an Expression — the classic
  // bridge converts in both directions
  import org.apache.spark.sql.graftx.Bridge.{column, expression}

  def minhashSig(hashes: Column, k: Int): Column = column(MinHashSig(expression(hashes), k))
  def simhashBits(features: Column, bits: Int = 62): Column =
    column(SimHashBits(expression(features), bits))
  def shingleHashes(text: Column, n: Int): Column = column(ShingleHashes(expression(text), n))
  def shingleFeatures62(text: Column, n: Int): Column =
    column(ShingleFeatures62(expression(text), n))
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    column(BandHashes(expression(sig), bands, rows))
  def sigMatchFrac(a: Column, b: Column): Column =
    column(SigMatchFrac(expression(a), expression(b)))
  def charNgramHashes(text: Column, n: Int): Column = column(CharNgramHashes(expression(text), n))
  def jaccardSorted(a: Column, b: Column): Column = column(JaccardSorted(expression(a), expression(b)))
  def containmentSorted(a: Column, b: Column): Column =
    column(ContainmentSorted(expression(a), expression(b)))
  def rollingHash(text: Column): Column = column(RollingHash(expression(text)))
  def winnowHashes(text: Column, n: Int, w: Int): Column =
    column(WinnowHashes(expression(text), n, w))
  def charEntropy(text: Column): Column = column(CharEntropy(expression(text)))
  def greedyMergeApply(text: Column, xs: Column, ys: Column): Column =
    column(GreedyMergeApply(expression(text), expression(xs), expression(ys)))

  // ---------- DuckDB oracle SQL generators (identical arithmetic) ----------
  // Every generator returns an expression string over a column reference;
  // all integer intermediates stay below 2^62, so DuckDB BIGINT never
  // overflows and the values match the JVM loops bit for bit.

  val P = TextHash.P

  /** Whitespace tokens of lower(trim(text)). */
  def tokensSql(text: String): String =
    s"regexp_split_to_array(lower(trim($text)), '\\s+')"

  /** Poly-`mult` char hash mod P of a string expression.
    *
    * `greatest(unicode(c), 0)`: DuckDB's `string_split('', '')` yields [''],
    * whose `unicode` is -1 — clamping to 0 makes the empty string hash to 0
    * exactly like the JVM loops. Parity contract: the generated SQL folds
    * Unicode CODEPOINTS while the JVM expressions fold UTF-16 units — equal
    * on the Basic Multilingual Plane (all of the synthetic corpus);
    * supplementary-plane text (emoji) would diverge.
    */
  def charPolySql(s: String, mult: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($s, ''), c -> CAST(greatest(unicode(c), 0) AS BIGINT))),
       |  (acc, x) -> (acc * $mult + x) % $P)""".stripMargin

  /** Word n-gram shingle strings from a tokens-list expression. */
  def shinglesSql(toks: String, n: Int): String =
    s"""CASE WHEN len($toks) >= $n
       |  THEN list_transform(range(1, len($toks) - ${n - 2}),
       |         i -> array_to_string(($toks)[i:i+${n - 1}], ' '))
       |  ELSE [array_to_string($toks, ' ')] END""".stripMargin

  /** Distinct sorted shingle hashes (= [[ShingleHashes]]). */
  def shingleHashesSql(text: String, n: Int): String =
    s"list_sort(list_distinct(list_transform(${shinglesSql(tokensSql(text), n)}, s -> ${charPolySql("s", 131)})))"

  /** Distinct 62-bit shingle features (= [[ShingleFeatures62]]). */
  def shingleFeatures62Sql(text: String, n: Int): String =
    s"""list_distinct(list_transform(${shinglesSql(tokensSql(text), n)},
       |  s -> ${charPolySql("s", 131)} + ${charPolySql("s", 137)} * 2147483648))""".stripMargin

  /** MinHash signature of a hashes-list expression (= [[MinHashSig]]). */
  def minhashSigSql(hashes: String, k: Int): String =
    s"""list_transform(range(0, $k), i ->
       |  CASE WHEN len($hashes) = 0 THEN CAST(0 AS BIGINT)
       |  ELSE list_min(list_transform($hashes,
       |    h -> (((2*i + 1) * 2654435761) % $P * h + ((i + 7) * 40503 * 99991) % $P) % $P))
       |  END)""".stripMargin

  /** Band hashes of a signature-list expression (= [[BandHashes]]). */
  def bandHashesSql(sig: String, bands: Int, rows: Int): String =
    s"""list_transform(range(0, $bands), b ->
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), ($sig)[b*$rows+1:b*$rows+$rows]),
       |    (acc, v) -> (acc * 1000003 + v) % $P))""".stripMargin

  /** SimHash of a features-list expression (= [[SimHashBits]]). */
  def simhashSql(feats: String, bits: Int = 62): String =
    s"""CAST(list_sum(list_transform(range(0, $bits), b ->
       |  CASE WHEN list_sum(list_transform($feats,
       |         f -> CASE WHEN ((f >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |  THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin

  /** Distinct sorted char-n-gram hashes (= [[CharNgramHashes]]; lowercased,
    * not trimmed).
    */
  def charNgramHashesSql(text: String, n: Int): String =
    s"""list_sort(list_distinct(list_transform(
       |  range(1, greatest(length(lower($text)) - ${n - 1}, 1) + 1),
       |  i -> ${charPolySql(s"substr(lower($text), i, $n)", 131)})))""".stripMargin

  /** Rolling fingerprint (= [[RollingHash]]). */
  def rollingHashSql(text: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(${tokensSql(text)}, t -> ${charPolySql("t", 131)})),
       |  (acc, h) -> (acc * 131 + h) % $P)""".stripMargin

  /** Winnowing fingerprint set (= [[WinnowHashes]]): window-min over the
    * IN-ORDER shingle hash sequence, O(m·w) here vs the expression's
    * O(m) deque — same values. `hs[i:i+w-1]` truncates past the end, so
    * the single short-sequence window falls out of the same formula.
    */
  def winnowHashesSql(text: String, n: Int, w: Int): String = {
    val hs = s"list_transform(${shinglesSql(tokensSql(text), n)}, " +
      s"s -> ${charPolySql("s", 131)})"
    s"""list_sort(list_distinct(list_transform(
       |  range(1, greatest(len($hs) - $w + 1, 1) + 1),
       |  i -> list_min(($hs)[i:i+${w - 1}]))))""".stripMargin
  }
}
