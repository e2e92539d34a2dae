package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the signature computations —
  * preference order (b) from the builder brief: a custom Expression
  * with codegen beats the nested higher-order-function formulation
  * (which evaluates interpreted) and beats a Scala UDF (no
  * serialization, no row boxing).
  *
  * Both are BIT-COMPATIBLE with the expression formulas they replace
  * (same XXH64 seed chain as `xxhash64(...)`) — HashExprsSpec pins
  * that equivalence, so LSH bucketing and all downstream pair tables
  * are unchanged.
  */
object MinHash {
  val K = 32
  val SHINGLE = 5

  /** minhash over 5-char shingles via double hashing: shingle hash
    * h = xxhash64(shingle), step h2 = xxhash64(h)|1 (odd → full-period
    * permutation mod 2^64), component k = h + k·h2 computed
    * incrementally — 2 hash evaluations + K adds per shingle instead
    * of K hash evaluations (the K-hash form made minhash the most
    * expensive scan in the whole suite; double hashing is the
    * standard-practice equivalent for LSH purposes). */
  def computeRaw(s: UTF8String): Array[Long] = {
    val n = s.numChars()
    val last = math.max(n - (SHINGLE - 1), 1)
    val mins = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i < last) {
      val sh = s.substring(i, i + SHINGLE)
      val h = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, 42L)
      val h2 = XXH64.hashLong(h, 42L) | 1L
      var v = h
      var k = 0
      while (k < K) {
        if (v < mins(k)) mins(k) = v
        v += h2
        k += 1
      }
      i += 1
    }
    mins
  }

  def compute(s: UTF8String): ArrayData = new GenericArrayData(computeRaw(s))
}

object LshBandsImpl {
  /** LSH band hashes straight from the text: band b = XXH64 chain over
    * its signature components, seeded with the band index. One compiled
    * pass — the nested `transform`/`concat_ws` lambda formulation this
    * replaced evaluated interpreted AND re-inlined the signature
    * expression into every band reference (recompute per band). */
  def compute(s: UTF8String, bands: Int): ArrayData =
    fromSigArray(MinHash.computeRaw(s), bands)

  /** Bands from an ALREADY-COMPUTED signature column — lets a pipeline
    * that persists/reuses the signature derive its band keys without a
    * second shingling pass over the text (the d03 hot path). */
  def fromSig(sig: ArrayData, bands: Int): ArrayData = {
    val arr = new Array[Long](sig.numElements())
    var i = 0
    while (i < arr.length) { arr(i) = sig.getLong(i); i += 1 }
    fromSigArray(arr, bands)
  }

  private def fromSigArray(sig: Array[Long], bands: Int): ArrayData = {
    val rows = MinHash.K / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = XXH64.hashLong(b.toLong, 42L)
      var r = 0
      while (r < rows) { v = XXH64.hashLong(sig(b * rows + r), v); r += 1 }
      out(b) = v
      b += 1
    }
    new GenericArrayData(out)
  }
}

case class LshBandsFromSig(child: Expression, bands: Int) extends UnaryExpression {
  require(MinHash.K % bands == 0, s"bands ($bands) must divide ${MinHash.K}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    LshBandsImpl.fromSig(input.asInstanceOf[ArrayData], bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBandsImpl.fromSig($c, $bands)")
  override protected def withNewChildInternal(newChild: Expression): LshBandsFromSig =
    copy(child = newChild)
  override def prettyName: String = "lsh_bands_from_sig"
}

case class LshBands(child: Expression, bands: Int) extends UnaryExpression {
  require(MinHash.K % bands == 0, s"bands ($bands) must divide ${MinHash.K}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    LshBandsImpl.compute(input.asInstanceOf[UTF8String], bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBandsImpl.compute($c, $bands)")
  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
  override def prettyName: String = "lsh_bands"
}

object SimHash {
  private val splitPattern = UTF8String.fromString("[^a-z0-9]+")

  /** 64-bit simhash: per-token xxhash64, ±1 bit votes, bit set when
    * the vote sum is strictly positive. Tokenization matches
    * `filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)`. */
  def compute(s: UTF8String): Long = {
    val parts = s.toLowerCase.split(splitPattern, -1)
    val votes = new Array[Int](64)
    var pi = 0
    while (pi < parts.length) {
      val p = parts(pi)
      if (p.numBytes > 0) {
        val h = XXH64.hashUnsafeBytes(p.getBaseObject, p.getBaseOffset, p.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      pi += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

object RollingHash {
  /** Polynomial rolling hash over normalized bytes (lowercased,
    * non-alphanumeric stripped): h = h*31 + b (mod 1e9+7). The
    * classic document-fingerprint shape; modular so it is ANSI-safe
    * and engine-portable. */
  def compute(s: UTF8String): Long = {
    val bytes = s.toLowerCase.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val isAlnum = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (isAlnum) h = (h * 31L + (b & 0xffL)) % 1000000007L
      i += 1
    }
    h
  }
}

object NGram {
  val N = 3
  private val wordSplit = UTF8String.fromString("[^a-z0-9]+")

  /** Distinct word-3-gram set (first-occurrence order): tokenize on
    * non-alphanumeric runs of the lowercased text, join each run of 3
    * consecutive tokens with a space. Fewer than 3 tokens → the whole
    * token sequence as one gram; no tokens → empty set. Same semantics
    * as filter(split(lower(text),'[^a-z0-9]+'), w -> length(w) > 0)
    * windowed by 3 — but evaluated compiled, not as interpreted
    * higher-order functions (the d04 hot path). */
  def compute(s: UTF8String): ArrayData = {
    val parts = s.toLowerCase.split(wordSplit, -1)
    val tokens = new java.util.ArrayList[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).numBytes > 0) tokens.add(parts(i))
      i += 1
    }
    val n = tokens.size
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (n < N) {
      seen.add(UTF8String.concatWs(sep, tokens.toArray(new Array[UTF8String](n)): _*))
    } else {
      var j = 0
      while (j <= n - N) {
        seen.add(UTF8String.concatWs(sep, tokens.get(j), tokens.get(j + 1), tokens.get(j + 2)))
        j += 1
      }
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
}

object FrameEnergy {
  /** Per-frame Σ(b−32)² over `win`-byte frames of the payload — the
    * mm6/mm7 energy sweep, compiled: one pass over the UTF8String's
    * BYTES with no per-char allocation (the HOF formulation boxed a
    * Long per char inside interpreted lambdas). Byte==char for the
    * ASCII payloads this engine's multimodal stand-ins use — the
    * mm6/mm7 oracles pin value equality with the SQL formulation.
    * Empty payload → one zero-energy frame, matching
    * `greatest(ceil(len/win)-1, 0)` frame counting. */
  def compute(s: UTF8String, win: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val nf = math.max((len + win - 1) / win, 1)
    val out = new Array[Any](nf)
    var f = 0
    while (f < nf) {
      var e = 0L
      var i = f * win
      val end = math.min(i + win, len)
      while (i < end) { val d = (bytes(i) & 0xff) - 32; e += d.toLong * d; i += 1 }
      out(f) = e
      f += 1
    }
    new GenericArrayData(out)
  }
}

object AHash {
  /** mm5's average-hash in one compiled pass: sample an 8×8 grid of
    * payload bytes (nearest-neighbor over a w×h frame, index capped at
    * len−1 exactly like the SQL formulation), compare each sample to
    * the integer mean, emit the 64-char bitstring. Byte==char for the
    * ASCII payloads (same caveat as FrameEnergy); empty payload
    * samples 0s. */
  def compute(s: UTF8String, w: Long, h: Long): UTF8String = {
    val bytes = s.getBytes
    val len = math.max(bytes.length, 1).toLong
    val bs = new Array[Long](64)
    var p = 0
    while (p < 64) {
      val idx = math.min(((p / 8).toLong * h / 8) * w + ((p % 8).toLong * w / 8), len - 1).toInt
      bs(p) = if (idx < bytes.length) (bytes(idx) & 0xff).toLong else 0L
      p += 1
    }
    var sum = 0L; var i = 0
    while (i < 64) { sum += bs(i); i += 1 }
    val mean = sum / 64
    val out = new Array[Byte](64)
    i = 0
    while (i < 64) { out(i) = if (bs(i) > mean) '1' else '0'; i += 1 }
    UTF8String.fromBytes(out)
  }
}

object MinHashAgree {
  /** Count of positionally-equal signature components — the MinHash
    * Jaccard estimator's numerator. Compiled pairwise loop; the
    * zip_with/aggregate lambda formulation it replaces evaluates
    * interpreted per candidate pair. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

object VecOps {
  /** Index-order dot product with per-element widening to double —
    * bit-identical to `aggregate(zip_with(a, b, (x,y) -> x*y), 0d,
    * (acc,v) -> acc+v)` over double-cast arrays (and to DuckDB's
    * `list_inner_product` over double lists), but compiled: the
    * higher-order-function form evaluates interpreted and re-inlines
    * computed array children into every lambda reference. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }
}

case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecOps.dot($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

case class MinhashAgree(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashAgree.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashAgree.compute($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MinhashAgree =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "minhash_agree"
}

case class NGramSet(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NGram.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGram.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): NGramSet =
    copy(child = newChild)
  override def prettyName: String = "ngram_set"
}

case class RollingHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    RollingHash.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash64"
}

case class MinHashSignature(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHash.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

case class AHashBits(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any, w: Any, h: Any): Any =
    AHash.compute(t.asInstanceOf[UTF8String],
      w.asInstanceOf[Long], h.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w, h) => s"graft.functions.AHash.compute($t, $w, $h)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): AHashBits =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "ahash_bits"
}

case class FrameEnergies(child: Expression, win: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    FrameEnergy.compute(input.asInstanceOf[UTF8String], win)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FrameEnergy.compute($c, $win)")
  override protected def withNewChildInternal(newChild: Expression): FrameEnergies =
    copy(child = newChild)
  override def prettyName: String = "frame_energies"
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Word n-gram spans in one kernel sweep (d57's census input): the
  * expression-level formulation — `filter(split(lower(text), ...))` +
  * `transform(sequence(...), i -> array_join(slice(...)))` — builds a
  * boxed token array, then a boxed span array, then joins each slice,
  * all interpreted. This kernel tokenizes BYTES directly (ASCII
  * letters/digits fold to lowercase and are token chars; every other
  * byte — including all multi-byte UTF-8 sequences, which the regex
  * formulation also treats as separators — terminates a token) and
  * emits each n-word span as one UTF8String slice-copy. Identical
  * output to the HOF chain (LlmSpec pins it), one allocation per
  * span. */
object WordNgrams {
  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val bytes = text.getBytes
    // token boundaries: [start, end) offsets into the LOWERCASED bytes
    val lower = new Array[Byte](bytes.length)
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var inTok = false
    while (i < bytes.length) {
      val b = bytes(i)
      val isUpper = b >= 'A' && b <= 'Z'
      val lc: Byte = if (isUpper) (b + 32).toByte else b
      lower(i) = lc
      val tok = (lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')
      if (tok && !inTok) { starts.add(i); inTok = true }
      if (!tok && inTok) { ends.add(i); inTok = false }
      i += 1
    }
    if (inTok) ends.add(bytes.length)
    val nTok = starts.size()
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nTok - n + 1)
    var t = 0
    while (t <= nTok - n) {
      // span = tokens t .. t+n-1 joined with ' '
      var len = n - 1
      var j = t
      while (j < t + n) { len += ends.get(j) - starts.get(j); j += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      j = t
      while (j < t + n) {
        val s = starts.get(j); val e = ends.get(j)
        System.arraycopy(lower, s, buf, pos, e - s)
        pos += e - s
        if (j < t + n - 1) { buf(pos) = ' '; pos += 1 }
        j += 1
      }
      out(t) = UTF8String.fromBytes(buf)
      t += 1
    }
    new GenericArrayData(out)
  }
}

case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    WordNgrams.compute(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgrams.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

/** Single-pass character statistics for the entropy filter (d56):
  * one sweep over the text's CODE POINTS into a histogram, then the
  * Shannon terms accumulated in ASCENDING code-point order — the
  * same summation order as the sorted-run formulation it replaces
  * (and as a char-ordered SQL GROUP BY), so the float result is
  * bit-identical and the 6-dp oracle round-trip is unchanged. The
  * sorted-run expression it replaces costs O(len·log len) with one
  * boxed string per character; this is O(len + alphabet) with zero
  * allocation on the ASCII fast path. */
object CharStats {
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val ascii = new Array[Long](128)
    var wide: java.util.TreeMap[Integer, Long] = null
    var n = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1L
      else {
        if (wide == null) wide = new java.util.TreeMap[Integer, Long]()
        val prev = wide.get(cp)
        wide.put(cp, if (prev == null) 1L else prev + 1L)
      }
      n += 1L
      i += Character.charCount(cp)
    }
    var k = 0L
    var h = 0.0
    val dn = n.toDouble
    var c = 0
    while (c < 128) {
      val cnt = ascii(c)
      if (cnt > 0L) {
        k += 1L
        val p = cnt.toDouble / dn
        h += p * (0.0 - (math.log(p) / math.log(2.0)))
      }
      c += 1
    }
    if (wide != null) {
      val it = wide.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        k += 1L
        val p = e.getValue.toDouble / dn
        h += p * (0.0 - (math.log(p) / math.log(2.0)))
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, k, if (n == 0L) 0.0 else h))
  }
}

/** `char_stats(text)` → struct<n: bigint, k: bigint, entropy: double>. */
case class CharStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("k", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("entropy", DoubleType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    CharStats.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharStats.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): CharStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "char_stats"
}
