package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions hook: registers the graft expressions for SQL so
 * `spark.sql("SELECT cassandra_token(...)...")` works cluster-wide.
 *
 * Enable with either:
 *   graft.Sessions.local(cpus).withExtensions(new GraftExtensions)
 * or the config (works with spark-submit, no code change):
 *   spark.sql.extensions=graft.functions.GraftExtensions
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: pure range joins -> bin equi-join. Bin width from
    // spark.graft.rangejoin.binwidth: a positive long pins it, 'off'
    // disables, unset/'auto' derives it from a sampled median span of
    // the interval side
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    register(ext, "cassandra_token", "Murmur3Partitioner token of partition-key bytes",
      { case Seq(e) => CassandraTokenExpr(e) })
    register(ext, "token_bucket", "contiguous ring bucket of a token",
      { case Seq(e, n) => TokenBucketExpr(e, foldToInt(n, "token_bucket(expr, n)")) })
    register(ext, "cql_serialize", "Cassandra wire bytes of a scalar value",
      { case Seq(e) => CqlSerializeExpr(e) })
    register(ext, "composite_key", "CompositeType encoding of key components",
      { case es if es.nonEmpty => CompositeKeyExpr(es) })
    register(ext, "minhash_agg", "k-min MinHash signature over shingle-hash arrays",
      { case Seq(e, k) => MinHashAgg(e, foldToInt(k, "minhash_agg(expr, k)")) })
    register(ext, "cassandra_random_token",
      "RandomPartitioner (md5) token of partition-key bytes, canonical 16-byte form",
      { case Seq(e) => RandomTokenExpr(e) })
    register(ext, "random_token_bucket", "ring bucket of a RandomPartitioner token",
      { case Seq(e, n) => RandomTokenBucketExpr(e, foldToInt(n, "random_token_bucket(expr, n)")) })
    register(ext, "topk_agg", "bounded top-k (sim desc, id asc) aggregate",
      { case Seq(sim, id, k) => TopKAgg(sim, id, foldToInt(k, "topk_agg(sim, id, k)")) })
    register(ext, "topk_freq", "Misra-Gries top-k frequent items in bounded memory",
      { case Seq(e, cap, k) => FreqAgg(e, foldToInt(cap, "topk_freq(expr, capacity, k)"),
        foldToInt(k, "topk_freq(expr, capacity, k)")) })
    // text/dedup kernels (same expressions the Scala API builds)
    register(ext, "match_count", "count of non-overlapping regex matches",
      { case Seq(e, p) => RegexpCountExpr(e, foldToString(p, "match_count(expr, pattern)")) })
    register(ext, "char_gram_hashes", "32-bit hashes of overlapping k-code-point grams",
      { case Seq(e, k) => CharGramHashesExpr(e, foldToInt(k, "char_gram_hashes(expr, k)")) })
    register(ext, "shingle_hashes", "32-bit md5-derived hash per array element",
      { case Seq(e) => ShingleHashesExpr(e) })
    register(ext, "set_fingerprint", "order-insensitive md5 fingerprint of a string set",
      { case Seq(e) => SetFingerprintExpr(e) })
    register(ext, "max_token_count", "occurrences of the most frequent array element",
      { case Seq(e) => MaxTokenCountExpr(e) })
    register(ext, "array_sum_long", "sum of array<bigint> elements",
      { case Seq(e) => ArraySumLongExpr(e) })
    register(ext, "sorted_intersect_count",
      "distinct-intersection size of two ASC-sorted arrays (two-pointer)",
      { case Seq(a, b) => SortedIntersectCountExpr(a, b) })
    register(ext, "pack_sorted_longs",
      "delta-varint binary pack of an ASC-sorted null-free long/int array",
      { case Seq(e) => PackSortedLongsExpr(e) })
    register(ext, "packed_intersect_count",
      "distinct-intersection size of two pack_sorted_longs sets",
      { case Seq(a, b) => PackedIntersectCountExpr(a, b) })
    register(ext, "unpack_sorted_longs",
      "inverse of pack_sorted_longs: binary -> the packed array<bigint>",
      { case Seq(e) => UnpackSortedLongsExpr(e) })
    register(ext, "simhash_tokens", "in-row SimHash signature of a token array",
      { case Seq(e, bits) => SimhashExpr(e, foldToInt(bits, "simhash_tokens(expr, bits)")) })
    register(ext, "word_grams", "overlapping n-word shingles of whitespace-split text",
      { case Seq(e, n) => WordGramsExpr(e, foldToInt(n, "word_grams(expr, n)")) })
    register(ext, "dedup_lines", "first-occurrence line dedup, order-preserving",
      { case Seq(e) => DedupLinesExpr(e) })
    register(ext, "char_entropy", "Shannon entropy (bits) of a string's code points",
      { case Seq(e) => CharEntropyExpr(e) })
    register(ext, "dup_gram_chars", "code points covered by repeat word-n-gram occurrences",
      { case Seq(e, n) => DupGramCharsExpr(e, foldToInt(n, "dup_gram_chars(expr, n)")) })
    register(ext, "bloom_agg", "mergeable fixed-size Bloom filter over strings",
      { case Seq(e, bits, k) => BloomAggExpr(e,
        foldToInt(bits, "bloom_agg(expr, numBits, numHashes)"),
        foldToInt(k, "bloom_agg(expr, numBits, numHashes)")) })
    register(ext, "vec_dot", "double-precision dot product of two float/double arrays",
      { case Seq(a, b) => VectorDotExpr(a, b) })
    register(ext, "z_order", "Morton interleave of 2..6 bigint dims (data-skipping key)",
      { case es if es.size >= 2 && es.size <= 6 => ZOrderExpr(es) })
    register(ext, "vec_sum_agg", "elementwise vector-sum aggregate -> struct(n, sums)",
      { case Seq(e) => VecSumAgg(e) })
    register(ext, "vec_outer_agg", "second-moment aggregate -> struct(n, sums, outer)",
      { case Seq(e) => VecOuterAgg(e) })
    register(ext, "bloom_contains", "Bloom-blob membership probe",
      { case Seq(b, s) => BloomContainsExpr(b, s) })
    register(ext, "bloom_any", "true when any array element probes a Bloom blob positive",
      { case Seq(b, a) => BloomAnyExpr(b, a) })
  }

  private def foldToString(e: Expression, usage: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$usage needs a string literal, got $other")
  }

  private def foldToInt(e: Expression, usage: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$usage needs an integer literal, got $other")
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String,
      builder: PartialFunction[Seq[Expression], Expression]): Unit = {
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name, usage),
      (exprs: Seq[Expression]) => builder.applyOrElse(exprs,
        (es: Seq[Expression]) => throw new IllegalArgumentException(
          s"wrong argument count for $name: ${es.length}"))))
    ()
  }
}
