package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Keyword retrieval over a document corpus — the "find the passages that
 * mention X" step of retrieval-based curation (targeted decontamination,
 * topic filtering, eval-set mining).
 *
 * BM25 (Robertson-Sparck Jones) with the standard parameterization:
 *
 *   score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*|d|/avgdl))
 *   idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
 *
 * Distributed shape, built for the query-terms-are-few case (a search,
 * not an all-pairs index): corpus statistics (N, total tokens, per-term
 * document frequencies) come from ONE mergeable aggregate pass — a
 * handful of longs per partition through the exchange — then scoring is
 * pure scan-stage arithmetic: per-term tf is the in-row codegen'd
 * `array_count_in` kernel (no explode, no per-term join), and the idf /
 * avgdl constants fold into the plan as literals. The only data that
 * ever shuffles is the bounded top-k heap (TopKAgg, <= k rows per
 * upstream partition), so a 100 TB corpus costs two scans and two
 * tiny exchanges.
 *
 * Determinism contract: idf and avgdl derive from integer counts (exact
 * at any parallelism); the score is rounded to 4 decimals and ties break
 * on ascending id, so ranking is total and engine-portable.
 */
object Search {

  /** Top-k docs by BM25 over `terms`. Output: (idCol, bm25) with
    * round(score, 4), ordered (bm25 desc, id asc), zero-score docs
    * excluded (they match no term). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    Ids.requireIntegral(docs, idCol, "bm25TopK")
    require(terms.nonEmpty, "need at least one query term")
    require(k > 0, "k must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    // tokenize ONCE: the stats pass and the scoring pass both consume the
    // persisted token arrays instead of re-running the tokenizer over the
    // corpus (the naiveBayes/dedup-pair-engine cache pattern); the k-row
    // result is truncated before the release so the caller never
    // recomputes through the released cache
    Materialize.cached(docs.select(col(idCol), toks.as("_toks"),
        size(toks).cast("long").as("_len"))) { base =>
      // one corpus-stats pass: N, token total, df per term — all map-side
      // combinable longs, so the exchange carries one row per partition
      val statCols = Seq(count(lit(1)).as("_n"), sum(col("_len")).as("_tok")) ++
        terms.zipWithIndex.map { case (t, i) =>
          count_if(array_contains(col("_toks"), t)).as(s"_df_$i") }
      val stats = base.agg(statCols.head, statCols.tail: _*).head()
      val n = stats.getLong(0)
      val avgdl = if (n == 0) 1.0 else stats.getLong(1).toDouble / n
      val idf = terms.indices.map { i =>
        val df = stats.getLong(2 + i).toDouble
        math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      }

      // scan-stage scoring: tf per term is the codegen'd in-row counter
      val score = terms.zipWithIndex.map { case (t, i) =>
        val tf = graft.functions.array_count_in(col("_toks"), Seq(t)).cast("double")
        lit(idf(i)) * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_len").cast("double") / lit(avgdl)))
      }.reduce(_ + _)

      val scored = base.select(col(idCol), round(score, 4).as("bm25"))
        .filter(col("bm25") > 0)
      // bounded top-k: heap-reduce per partition before the single exchange
      // (the orderBy+limit form is equivalent here but rankTopK's TopKAgg
      // pattern keeps the shuffle k-bounded at any corpus size)
      Materialize.truncate(scored.agg(graft.functions.TopKAgg.topk_agg(
          col("bm25"), col(idCol).cast("long"), k).as("_top"))
        .select(explode(col("_top")).as("_e"))
        .select(col("_e.c_id").as(idCol), col("_e.sim").as("bm25")))
    }
  }

  /**
   * TF-IDF keyword extraction: the top `k` terms of every document by
   * `tf * (ln((N+1)/(df+1)) + 1)` (smoothed idf, sklearn's form) — the
   * corpus-feature sibling of [[bm25TopK]]'s query scoring. Ranking uses
   * the 4-decimal-ROUNDED score (ties broken by term text) so the order
   * is the same in any engine whose `ln` is within 1 ulp.
   *
   * Scale shape: term frequencies are one map-side-combinable
   * aggregation (the (doc, term) exchange); document frequencies reduce
   * to a vocabulary-sized table that AQE broadcasts back onto tf; the
   * per-doc top-k window partitions by document — millions of small
   * groups, no global sort, skew bounded by the longest document. N is
   * one count job folded into a plan literal (the bm25 stats-pass
   * pattern).
   */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    val n = docs.count().toDouble
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", round(col("tf").cast("double") *
        (log((lit(n) + lit(1.0)) / (col("df").cast("double") + lit(1.0)))
          + lit(1.0)), 4))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  /**
   * Hybrid retrieval by reciprocal-rank fusion (Cormack et al., SIGIR
   * 2009): fuse a sparse BM25 ranking with a dense embedding ranking —
   * the standard RAG retrieval stack, where lexical and semantic signals
   * cover each other's blind spots.
   *
   *   rrf(d) = sum over lists containing d of 1 / (kRrf + rank_list(d))
   *
   * Each branch is independently scale-bounded ([[bm25TopK]]'s two scans
   * + k-bounded heap; [[Similarity.bruteForceTopK]]'s broadcast probe —
   * swap in ivfTopK for web-scale corpora, the fusion is rank-only and
   * does not care which retriever produced the list). The fusion itself
   * touches only the two <= poolK-row candidate lists: the rank windows
   * and the full-outer join run on constant-size inputs no matter how
   * large the corpus is.
   *
   * Determinism: ranks are integers with total order (bm25 round-4 score
   * desc then id; cosine round-4 desc then id), each RRF term is one IEEE
   * division of exact integers, and the two-term sum is fixed-order —
   * bit-identical on any engine, rounded to 6 for the contract.
   *
   * Output: (doc_id, rrf, r_bm25, r_dense) — top `k` by (rrf desc,
   * doc_id), ranks null for docs absent from that branch's pool.
   */
  def hybridRrf(docs: DataFrame, embs: DataFrame, idCol: String,
      textCol: String, vecIdCol: String, vecCol: String, terms: Seq[String],
      queryVecId: Long, k: Int, poolK: Int = 50, kRrf: Int = 60): DataFrame = {
    require(k > 0 && poolK >= k, "need poolK >= k > 0")
    Ids.requireIntegral(embs, vecIdCol, "hybridRrf")
    // single-partition window is safe: bm25TopK's output is <= poolK rows
    val byScore = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col(idCol))
    val sparse = bm25TopK(docs, idCol, textCol, terms, poolK)
      .select(col(idCol).cast("long").as("doc_id"),
        row_number().over(byScore).cast("long").as("r_bm25"))
    val dense = Similarity.bruteForceTopK(
        embs.filter(col(vecIdCol) === queryVecId),
        embs.filter(col(vecIdCol) =!= queryVecId), vecIdCol, vecCol, poolK)
      .select(col("c_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("r_dense"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("r_dense")), lit(0.0)), 6).as("rrf"),
        col("r_bm25"), col("r_dense"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }
}
