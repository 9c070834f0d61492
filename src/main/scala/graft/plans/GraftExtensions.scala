package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.sim.DotProduct
import graft.text.{Dedup, HashedWordShingles, JaccardSortedLongs, RollingHash, TextFunctions,
  UncoveredTokens, WinnowingMins}

/**
 * Session extension entry point (the `SparkSessionExtensions` registration
 * path of SURVEY §7.3's custom-vs-builtin table): injects the engine's
 * functions into the SQL registry so pure-SQL users (and the Python/Java
 * surfaces, via `spark.sql`) can run the text/dedup/similarity pipeline:
 *
 *   rolling_hash(text)            — 64-bit polynomial rolling hash
 *   dot_product(a, b)             — dot product of two numeric arrays
 *   winnowing_mins(text, k, w)    — winnowing window minima
 *   canonical_fingerprint(text)   — md5 of canonicalized text
 *   bpeish_token_count(text)      — BPE-ish subword count
 *   simhash64(text)               — 64-bit SimHash
 *   hamming64(a, b)               — Hamming distance of two 64-bit signatures
 *   cosine_similarity(a, b)       — cosine of two double arrays
 *   hashed_word_shingles(text, k) — sorted 64-bit k-shingle hashes
 *   jaccard_sorted_longs(a, b)    — linear-merge Jaccard of sorted arrays
 *   uncovered_tokens(toks, st, k) — span-removal rebuild
 *
 * The six kernel functions build their native expression directly (integer
 * arguments must be literals); the rest are composed from the Column API and
 * rewritten to expressions through GraftSqlBridge — no parallel SQL
 * implementations to keep in sync.
 *
 * Usage: SparkSession.builder().withExtensions(new GraftExtensions) ... or
 * spark.sql.extensions=graft.plans.GraftExtensions.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Registers SQL function `name` over exactly `arity` argument expressions. */
  private def register(e: SparkSessionExtensions, name: String, arity: Int,
      cls: Class[_])(build: Seq[Expression] => Expression): Unit =
    e.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name takes exactly $arity argument(s)")
        build(children)
      }))

  /** A function composed from the Column API. */
  private def inject(e: SparkSessionExtensions, name: String, arity: Int)
      (build: Seq[Column] => Column): Unit =
    register(e, name, arity, classOf[GraftExtensions])(children =>
      GraftSqlBridge.analyzableExpression(build(children.map(GraftSqlBridge.column))))

  /** A native kernel; `intLit` reads its integer-literal arguments. */
  private def kernel(e: SparkSessionExtensions, name: String, arity: Int,
      cls: Class[_ <: Expression])(build: (Seq[Expression], Expression => Int) => Expression)
      : Unit =
    register(e, name, arity, cls)(children => build(children, {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name: integer arguments must be literals, got $other")
    }))

  override def apply(e: SparkSessionExtensions): Unit = {
    kernel(e, "rolling_hash", 1, classOf[RollingHash])((c, _) => RollingHash(c(0)))
    kernel(e, "dot_product", 2, classOf[DotProduct])((c, _) => DotProduct(c(0), c(1)))
    kernel(e, "winnowing_mins", 3, classOf[WinnowingMins])((c, intLit) =>
      WinnowingMins(c(0), intLit(c(1)), intLit(c(2))))
    kernel(e, "hashed_word_shingles", 2, classOf[HashedWordShingles])((c, intLit) =>
      HashedWordShingles(c(0), intLit(c(1))))
    kernel(e, "jaccard_sorted_longs", 2, classOf[JaccardSortedLongs])((c, _) =>
      JaccardSortedLongs(c(0), c(1)))
    kernel(e, "uncovered_tokens", 3, classOf[UncoveredTokens])((c, intLit) =>
      UncoveredTokens(c(0), c(1), intLit(c(2))))
    inject(e, "canonical_fingerprint", 1)(c => TextFunctions.canonicalFingerprint(c.head))
    inject(e, "bpeish_token_count", 1)(c => TextFunctions.bpeishTokenCount(c.head))
    inject(e, "simhash64", 1)(c => Dedup.simhash(c.head))
    inject(e, "hamming64", 2)(c => Dedup.hamming(c(0), c(1)))
    inject(e, "cosine_similarity", 2)(c => graft.sim.Similarity.cosine(c(0), c(1)))
  }
}
