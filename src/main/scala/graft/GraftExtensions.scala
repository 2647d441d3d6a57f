package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.TextHashExpressions._
import graft.expressions.VectorExpressions._

/** Session extensions: registers graft's custom Catalyst expressions as SQL
  * functions so `spark.sql(...)` users get the codegen'd fast paths too.
  *
  * Use: `withExtensions(new GraftExtensions)` on a session builder, or
  * `--conf spark.sql.extensions=graft.GraftExtensions` on spark-submit, or
  * `GraftExtensions.registerOn(spark)` for a session that already exists
  * (builder extensions only apply at session creation).
  *
  * {{{
  *   SELECT float_cosine(a.vec, b.vec)            -- one-pass cosine
  *   SELECT hyperplane_bucket(vec, 8, 64)         -- LSH bucket
  *   SELECT minhash_bands(text, 3, 16, 4)         -- MinHash LSH band keys
  *   SELECT simhash64(text), fingerprint64(text)
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Expected argument count per function — enforced by a named error
    * before the builder indexes `args(i)` (a missing argument would
    * otherwise surface as a bare IndexOutOfBoundsException with no mention
    * of the function or its signature). */
  private val arities: Map[String, Int] = Map(
    "float_cosine" -> 2, "hyperplane_bucket" -> 3, "minhash_bands" -> 4,
    "simhash64" -> 1, "fingerprint64" -> 1, "prefix_chain" -> 1,
    "hll_bucket_rank" -> 2, "cms_buckets" -> 3, "bigram_pair_keys" -> 2,
    "zorder2" -> 2, "kmv_agg" -> 2, "topk_agg" -> 3, "seq_ratio" -> 2,
    "token_sort_ratio" -> 2, "bottomk_agg" -> 3,
    "word_grams" -> 2, "word_chunks" -> 2, "word_windows" -> 3,
    "bloom_positions" -> 3)

  /** (identifier, info, builder) triples shared by the builder-time injection
    * and the existing-session registration path. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    rawFunctions.map { case (id, fi, b) =>
      // a rawFunctions entry without an arities row must NOT kill
      // registration of every graft function at session build (this val
      // initializes the object): it degrades to the raw builder, whose own
      // args(i) access still errors per call — just without the nice
      // arity message
      arities.get(id.funcName) match {
        case Some(n) =>
          (id, fi, (args: Seq[Expression]) => {
            if (args.length != n) throw new IllegalArgumentException(
              s"${id.funcName} requires $n arguments (${fi.getUsage}), got ${args.length}")
            b(args)
          })
        case None => (id, fi, b)
      }
    }

  private def rawFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_cosine"),
      info("float_cosine", "_FUNC_(a, b) - one-pass cosine of two array<float>"),
      (args: Seq[Expression]) => FloatCosine(args(0), args(1))),
    (FunctionIdentifier("hyperplane_bucket"),
      info("hyperplane_bucket", "_FUNC_(vec, bits, dim) - random-hyperplane LSH bucket"),
      (args: Seq[Expression]) => HyperplaneBucket(args(0),
        intArg(args(1), "bits"), intArg(args(2), "dim"), 42L)),
    (FunctionIdentifier("minhash_bands"),
      info("minhash_bands", "_FUNC_(text, k, numHashes, bands) - MinHash LSH band keys"),
      (args: Seq[Expression]) => MinHashBands(args(0), intArg(args(1), "k"),
        intArg(args(2), "numHashes"), intArg(args(3), "bands"))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "_FUNC_(text) - 64-bit SimHash over tokens"),
      (args: Seq[Expression]) => SimHash(args(0))),
    (FunctionIdentifier("fingerprint64"),
      info("fingerprint64", "_FUNC_(text) - 64-bit rolling document fingerprint"),
      (args: Seq[Expression]) => Fingerprint(args(0))),
    (FunctionIdentifier("prefix_chain"),
      info("prefix_chain", "_FUNC_(array<long>) - rolling prefix-chain hashes " +
        "(chain(i) = chain(i-1) * FNV_PRIME + h(i) mod 2^64)"),
      (args: Seq[Expression]) => PrefixChain(args(0))),
    (FunctionIdentifier("hll_bucket_rank"),
      info("hll_bucket_rank", "_FUNC_(value, p) - HyperLogLog [bucket, rank] pair"),
      (args: Seq[Expression]) => HllBucketRank(args(0), intArg(args(1), "p"))),
    (FunctionIdentifier("cms_buckets"),
      info("cms_buckets", "_FUNC_(value, depth, width) - count-min-sketch bucket per depth row"),
      (args: Seq[Expression]) => CmsBuckets(args(0),
        intArg(args(1), "depth"), intArg(args(2), "width"))),
    (FunctionIdentifier("bigram_pair_keys"),
      info("bigram_pair_keys", "_FUNC_(text, numBuckets) - ordered " +
        "conditional-bigram LM keys u*V+v, one per adjacent token pair"),
      (args: Seq[Expression]) => BigramPairKeys(args(0),
        intArg(args(1), "numBuckets"))),
    (FunctionIdentifier("zorder2"),
      info("zorder2", "_FUNC_(a, b) - 16-byte Morton (z-order) cluster key " +
        "of two bigints; binary sort order interleaves both dimensions"),
      (args: Seq[Expression]) => graft.expressions.ZOrder.ZOrder2(args(0), args(1))),
    (FunctionIdentifier("kmv_agg"),
      info("kmv_agg", "_FUNC_(fp, k) - per-group KMV bottom-k distinct sketch " +
        "of a long fingerprint column (aggregate; exactly mergeable)"),
      (args: Seq[Expression]) => graft.expressions.SketchAggregates.KmvAgg(
        args(0), intArg(args(1), "k"))),
    (FunctionIdentifier("topk_agg"),
      info("topk_agg", "_FUNC_(rank, id, k) - per-group top-k (rank desc, " +
        "id asc) as array<struct<rank,id>> with O(k) partial-agg state"),
      (args: Seq[Expression]) => graft.expressions.RankAggregates.TopKAgg(
        args(0), args(1), intArg(args(2), "k"))),
    (FunctionIdentifier("seq_ratio"),
      info("seq_ratio", "_FUNC_(a, b) - difflib SequenceMatcher(None,a,b)" +
        ".ratio(): Ratcliff-Obershelp similarity in [0,1]"),
      (args: Seq[Expression]) => graft.expressions.StringSimilarity.SeqRatio(
        args(0), args(1))),
    (FunctionIdentifier("token_sort_ratio"),
      info("token_sort_ratio", "_FUNC_(a, b) - fuzzywuzzy token_sort_ratio " +
        "(difflib backend): integer 0..100"),
      (args: Seq[Expression]) => graft.expressions.StringSimilarity
        .TokenSortRatio(args(0), args(1))),
    (FunctionIdentifier("bottomk_agg"),
      info("bottomk_agg", "_FUNC_(rank, id, k) - per-group bottom-k (rank " +
        "asc, id asc) as array<struct<rank,id>> with O(k) partial-agg state"),
      (args: Seq[Expression]) => graft.expressions.RankAggregates.TopKAgg(
        args(0), args(1), intArg(args(2), "k"), descending = false)),
    (FunctionIdentifier("word_grams"),
      info("word_grams", "_FUNC_(text, n) - distinct space-joined word " +
        "n-grams, first-occurrence order, split-once codegen pass"),
      (args: Seq[Expression]) => WordGrams(args(0), intArg(args(1), "n"))),
    (FunctionIdentifier("word_chunks"),
      info("word_chunks", "_FUNC_(text, k) - disjoint k-token chunks in " +
        "document order (last chunk short), split-once codegen pass"),
      (args: Seq[Expression]) => WordChunks(args(0), intArg(args(1), "k"))),
    (FunctionIdentifier("word_windows"),
      info("word_windows", "_FUNC_(text, chunk, stride) - overlapping " +
        "token windows clamped at the end, split-once codegen pass"),
      (args: Seq[Expression]) => WordWindows(args(0),
        intArg(args(1), "chunk"), intArg(args(2), "stride"))),
    (FunctionIdentifier("bloom_positions"),
      info("bloom_positions", "_FUNC_(fp, m_bits, k) - the k Bloom bit " +
        "positions of a 64-bit fingerprint (double hashing, odd step)"),
      (args: Seq[Expression]) => BloomPositions(args(0),
        intArg(args(1), "m_bits"), intArg(args(2), "k"))),
  )

  /** Register the functions on an ALREADY-CREATED session (builder-time
    * `withExtensions` cannot retrofit one that `getOrCreate` reused). */
  def registerOn(spark: SparkSession): Unit =
    functions.foreach { case (id, fi, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, fi, builder)
    }
}
