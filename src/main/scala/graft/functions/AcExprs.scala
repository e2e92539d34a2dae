package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern counting as a native codegen expression.
  *
  * The curation use case is a BLOCKLIST sweep: count occurrences of
  * each of P literal phrases in every document. The expression-level
  * alternative (a `transform` over the pattern array with the
  * replace()-length trick, or P `regexp_count` calls) rescans the
  * document once PER PATTERN — O(len × P). Production blocklists run
  * to thousands of terms, so the scan must be O(len) in the text and
  * independent of P: one deterministic-automaton pass, byte-at-a-time
  * (one array index per input byte), emitting per-pattern counts.
  * That is exactly the classic Aho–Corasick construction (goto
  * completed over the byte alphabet by BFS, output sets closed over
  * suffix links at build time), built ONCE per executor per pattern
  * spec and cached — the text pass touches no hash maps.
  *
  * Match semantics: every position where a pattern ends is counted
  * (the standard AC definition, overlaps included). For patterns with
  * no proper border (no prefix that is also a suffix — true of every
  * entry in [[AhoCorasick.Blocklist]], each starts and ends with a
  * different character) self-overlap is impossible, so the count
  * equals the non-overlapping occurrence count — which is what the
  * DuckDB oracle replays via the replace()-length identity. Counts
  * are per-pattern and independent, so one pattern being a substring
  * of another (both are counted at their own end positions) needs no
  * special handling on either engine.
  */
object AhoCorasick {

  /** The fixed blocklist. Phrases are drawn from the synthetic
    * corpus's own vocabulary (the d19 discipline: the match path must
    * actually fire end-to-end — real spam phrases would never occur in
    * the generated text). Every entry is BORDER-FREE (no proper prefix
    * equals a suffix — asserted below), so occurrences can never
    * self-overlap and AC end-position counts equal the oracle's
    * non-overlapping replace() counts. */
  val Blocklist: Seq[String] = Seq(
    "big data", "fast table", "slow scan", "spark join",
    "hash merge", "stream batch", "sort column", "small value",
    "window group", "query line", "customer row", "the vector")

  require(Blocklist.forall(p =>
    (1 until p.length).forall(k => p.take(k) != p.takeRight(k))),
    "blocklist patterns must be border-free (AC counts == replace counts)")

  val BlocklistSpec: String = Blocklist.mkString("|")

  /** Compiled deterministic automaton: `next` is a (nodes × 256) goto
    * table, `outs(node)` the pattern ids ending at the node (closed
    * over suffix links at build time — the text pass never walks
    * fail chains). */
  final class Automaton(patterns: Array[String]) {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "ac_counts: empty pattern in spec (adjacent/leading/trailing '|' " +
        "separators are invalid — an empty pattern would match at every byte)")
    val nPatterns: Int = patterns.length
    // trie nodes insert UTF-8 BYTES — size from byte length, not the
    // UTF-16 String.length (non-ASCII patterns need more nodes)
    private val totalLen = patterns.map(_.getBytes("UTF-8").length).sum + 1
    val next: Array[Int] = new Array[Int](totalLen * 256)
    private val fail = new Array[Int](totalLen)
    private val outBuf = Array.fill(totalLen)(List.empty[Int])
    private var nNodes = 1

    {
      // trie of the patterns' UTF-8 bytes (goto as sparse: 0 = missing)
      var p = 0
      while (p < nPatterns) {
        val bytes = patterns(p).getBytes("UTF-8")
        var node = 0
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          if (next(node * 256 + b) == 0) {
            next(node * 256 + b) = nNodes; nNodes += 1
          }
          node = next(node * 256 + b)
          i += 1
        }
        outBuf(node) = p :: outBuf(node)
        p += 1
      }
      // BFS: fail links + goto completion + output closure
      val queue = new java.util.ArrayDeque[Integer]()
      var b = 0
      while (b < 256) {
        val c = next(b) // root row: missing already 0 (= stay at root)
        if (c != 0) { fail(c) = 0; queue.add(c) }
        b += 1
      }
      while (!queue.isEmpty) {
        val u = queue.poll().intValue()
        outBuf(u) = outBuf(u) ++ outBuf(fail(u))
        var ch = 0
        while (ch < 256) {
          val v = next(u * 256 + ch)
          if (v != 0) {
            fail(v) = next(fail(u) * 256 + ch)
            queue.add(v)
          } else {
            next(u * 256 + ch) = next(fail(u) * 256 + ch)
          }
          ch += 1
        }
      }
    }

    val outs: Array[Array[Int]] = outBuf.map(_.toArray)
  }

  private val cache = new ConcurrentHashMap[String, Automaton]()

  /** Spec is '|'-delimited, so patterns containing '|' are
    * inexpressible through the string spec — construct an
    * [[Automaton]] directly for those. Empty patterns (adjacent
    * separators) are rejected at build. */
  def automaton(spec: String): Automaton =
    cache.computeIfAbsent(spec, s => new Automaton(s.split('|')))

  /** One pass over the text's UTF-8 bytes; returns per-pattern counts
    * in spec order. Called from generated code — keep it static-shaped. */
  def count(text: UTF8String, spec: String): GenericArrayData = {
    val a = automaton(spec)
    val counts = new Array[Long](a.nPatterns)
    val bytes = text.getBytes
    val next = a.next
    val outs = a.outs
    var node = 0
    var i = 0
    while (i < bytes.length) {
      node = next(node * 256 + (bytes(i) & 0xff))
      val out = outs(node)
      var j = 0
      while (j < out.length) { counts(out(j)) += 1L; j += 1 }
      i += 1
    }
    new GenericArrayData(counts)
  }
}

/** `ac_counts(text)` → array<long> of per-blocklist-pattern match
  * counts (spec fixed at construction; the one-argument SQL form binds the
  * default [[AhoCorasick.Blocklist]]). */
case class AcCounts(child: Expression, spec: String) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    AhoCorasick.count(input.asInstanceOf[UTF8String], spec)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ship the spec through a codegen reference, not a source literal
    // (patterns may contain arbitrary characters)
    val specRef = ctx.addReferenceObj("acSpec", spec, "java.lang.String")
    defineCodeGen(ctx, ev, c => s"graft.functions.AhoCorasick.count($c, $specRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): AcCounts =
    copy(child = newChild)
  override def prettyName: String = "ac_counts"
}
