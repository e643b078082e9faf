package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Statistical n-gram language-model scoring — the CCNet-style quality
 * signal (Wenzek et al. 2019, arXiv:1911.00359): train a smoothed bigram
 * model on a reference corpus, score every document by per-token negative
 * log-likelihood, and keep/bucket documents by score. CCNet uses a 5-gram
 * KenLM; the distributed SHAPE is identical at any order — counts are one
 * aggregation, scoring is one join — and a bigram keeps the model exactly
 * reproducible from public arithmetic (no external model artifact).
 *
 * Model: add-alpha bigram,  P(w2|w1) = (c(w1,w2) + a) / (c(w1) + a*|V|)
 * where c() are training counts and |V| the training unigram vocabulary.
 * Unseen w1 degrades to the uniform 1/|V| floor — every document scores,
 * OOV text just scores badly (the property the filter relies on).
 *
 * Scale shape (the 100 TB lens):
 *   - model training is two map-side-combinable count aggregations over
 *     the reference corpus (one token exchange, one bigram exchange);
 *   - |V| is one count job folded into the plan as a literal (the bm25
 *     stats-pass pattern);
 *   - scoring is bigram-explode -> two equi-joins against the count
 *     tables (AQE broadcasts them when the reference corpus is small,
 *     shuffle-hash-joins when the vocabulary is web-scale) -> one
 *     map-side-combinable per-document aggregation. Nothing is ever
 *     quadratic; the widest intermediate is one row per document bigram.
 *
 * Determinism contract: counts are exact integers at any parallelism;
 * each bigram's log-probability is one ln() of an integer-derived ratio
 * (engines differ by <=1 ulp); the per-document sum commutes over <=
 * thousands of such terms (error ~1e-12), hidden by round(_, 4). The
 * perplexity column exponentiates the ALREADY-ROUNDED nll so it is a
 * pure function of the hash-checked value.
 */
object LangModel {

  /** (idCol, w1, w2) rows: consecutive whitespace-token pairs. Documents
    * with fewer than 2 tokens produce no bigrams (and are absent from
    * [[bigramScore]]'s output — the documented contract). */
  private def bigrams(df: DataFrame, idCols: Seq[String], textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val w = col("_w")
    df.select(idCols.map(col) :+ toks.as("_w"): _*)
      .filter(size(w) >= 2)
      .select(idCols.map(col) :+
        explode(arrays_zip(
          slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1))).as("_bg"): _*)
      .select(idCols.map(col) :+ col("_bg.0").as("w1") :+ col("_bg.1").as("w2"): _*)
  }

  /**
   * Per-document bigram NLL under an add-alpha LM trained on `train`.
   * Output: (idCol, n_bigrams, nll, ppl) — nll = round(-mean ln P, 4),
   * ppl = round(exp(nll), 2) from the rounded nll. Documents with < 2
   * tokens are excluded (no bigram evidence to score).
   */
  def bigramScore(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, "alpha must be positive (zero-count bigrams need mass)")
    val trainBg = bigrams(train.select(col(textCol)).withColumn("_one", lit(1)),
      Seq("_one"), textCol)
    // unigram counts over ALL training tokens (not just bigram-left
    // positions): the simpler, equally-standard denominator — documented
    // so the oracle mirrors it exactly
    // uni feeds BOTH the |V| count and the scoring join — persist the
    // vocab-bounded table so the second consumer doesn't re-tokenize the
    // training slice (the naiveBayes/bm25 cache pattern); the O(docs)
    // result is truncated before the release
    Materialize.cached(train
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("_c1"))) { uni =>
      val big = trainBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("_c2"))
      // vocabulary size: one count job, folded into the plan as a literal
      val vocab = uni.count().toDouble
      require(vocab > 0, "training corpus has no tokens")

      val logp = log((coalesce(col("_c2"), lit(0L)).cast(DoubleType) + lit(alpha)) /
        (coalesce(col("_c1"), lit(0L)).cast(DoubleType) + lit(alpha * vocab)))
      val nll = round(-sum(col("_lp")) / count(lit(1)), 4)
      Materialize.truncate(bigrams(docs, Seq(idCol), textCol)
        .join(big, Seq("w1", "w2"), "left")
        .join(uni, Seq("w1"), "left")
        .select(col(idCol), logp.as("_lp"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_bigrams"), nll.as("nll"))
        .withColumn("ppl", round(exp(col("nll")), 2)))
    }
  }
}
