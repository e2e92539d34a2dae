package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** The one table of the engine's native SQL functions:
  * `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[Harness.session]]) installs every one at session build, so they
  * resolve in pure SQL (`spark.sql("SELECT simhash64(text) …")`) and
  * through `expr`/`call_function` on every session created with the
  * config, including executors' SQL contexts on a cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def inject(ext: SparkSessionExtensions, name: String,
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name), info(name), builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    import GraftExtensions._
    inject(ext, "minhash_sig", es => MinHashSignature(es.head))
    inject(ext, "simhash64", es => SimHash64(es.head))
    inject(ext, "rolling_hash64", es => RollingHash64(es.head))
    inject(ext, "ngram_set", es => NGramSet(es.head))
    inject(ext, "minhash_agree", es => MinhashAgree(es.head, es(1)))
    inject(ext, "vec_dot", es => VecDot(es.head, es(1)))
    inject(ext, "char_stats", es => CharStatsExpr(es.head))
    inject(ext, "word_ngrams", {
      case Seq(text) => WordNgramsExpr(text, 3)
      case Seq(text, n) => WordNgramsExpr(text, positiveInt(n, "word_ngrams", "n"))
    })
    inject(ext, "lsh_bands", {
      case Seq(text) => LshBands(text, 8)
      case Seq(text, b) => LshBands(text, positiveInt(b, "lsh_bands", "bands"))
    })
    inject(ext, "lsh_bands_from_sig", {
      case Seq(sig) => LshBandsFromSig(sig, 8)
      case Seq(sig, b) => LshBandsFromSig(sig, positiveInt(b, "lsh_bands_from_sig", "bands"))
    })
    inject(ext, "frame_energies", {
      case Seq(text) => FrameEnergies(text, 64)
      case Seq(text, w) => FrameEnergies(text, positiveInt(w, "frame_energies", "window"))
    })
    inject(ext, "ahash_bits", es => AHashBits(es.head, es(1), es(2)))
    inject(ext, "bpe_count", es => BpeCount(es.head))
    inject(ext, "bpe_count_learned", {
      case Seq(text, spec) => BpeCountLearned(text,
        Bpe.parseMergeSpec(literalString(spec, "bpe_count_learned", "spec")))
    })
    inject(ext, "ac_counts", {
      case Seq(text) => AcCounts(text, AhoCorasick.BlocklistSpec)
      case Seq(text, spec) => AcCounts(text, literalString(spec, "ac_counts", "spec"))
    })
    inject(ext, "zorder64", es => ZOrder64(es.head, es(1)))
    // Spark's own runtime-filter bloom sketch, surfaced as callable
    // functions: bloom_agg(xxhash64(key)[, items[, bits]]) builds the
    // binary sketch, bloom_might_contain(bf, xxhash64(key)) probes it.
    // The probe side requires a FOLDABLE sketch (literal or scalar
    // subquery) — collect the bounded sketch and inline via lit(),
    // exactly how InjectRuntimeFilter ships it to the probe side.
    inject(ext, "bloom_agg", {
      case Seq(child) => new BloomFilterAggregate(child)
      case Seq(child, items) => new BloomFilterAggregate(child, items)
      case Seq(child, items, bits) => new BloomFilterAggregate(child, items, bits)
    })
    inject(ext, "bloom_might_contain", {
      case Seq(bf, v) => BloomFilterMightContain(bf, v)
    })
  }
}

object GraftExtensions {
  /** Analysis-time gate for size-like int args (ngram n, band count,
    * frame width): a foldable positive integer. Without it a column
    * arg NPEs at `eval(null)` and n <= 0 reaches `new Array(n-1)` /
    * malformed spans at run time; both fail analysis here instead. */
  private def positiveInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer, got non-foldable ${e.sql}")
    e.eval(null) match {
      case null => throw new IllegalArgumentException(s"$fn: $arg must not be null")
      case v: Number =>
        require(v.intValue > 0, s"$fn: $arg must be positive, got ${v.intValue}")
        v.intValue
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal integer, got ${e.sql}")
    }
  }

  /** Analysis-time gate for a spec argument: a foldable, non-null
    * string, fixed at construction like the expression it configures. */
  private def literalString(e: Expression, fn: String, arg: String): String = {
    require(e.foldable, s"$fn: $arg must be a literal string, got non-foldable ${e.sql}")
    e.eval(null) match {
      case null => throw new IllegalArgumentException(s"$fn: $arg must not be null")
      case s: UTF8String => s.toString
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal string, got ${e.sql}")
    }
  }
}
