package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multinomial Naive Bayes document classification — the classic linear
 * text classifier behind fasttext-style corpus curation (CCNet routes
 * documents with exactly this shape of model; McCallum & Nigam 1998 is
 * the textbook reference). Training is closed-form counting, so the whole
 * train-and-predict pipeline is reproducible from public arithmetic on
 * any engine — no model artifact, no iterative fit.
 *
 * Model: P(l | d) ∝ P(l) * Π_w P(w | l),  P(w | l) = (c_lw + a) / (c_l + a|V|)
 * with c_lw the training count of word w under label l, c_l the label's
 * token total, |V| the training vocabulary, a the add-alpha smoothing.
 *
 * Log-space decomposition that avoids materializing the (token × label)
 * left join for unseen words: for document d with n tokens,
 *
 *   score(d,l) = ln(nd_l / N)                        (prior)
 *              + n * (ln a - ln(c_l + a|V|))         (every token's floor)
 *              + Σ_{tokens w with c_lw > 0} ln((c_lw + a) / a)   (S_dl)
 *
 * so the token stream INNER-joins the (label, word) count table once —
 * tokens absent from a label's vocabulary contribute through the closed
 * form, not through join rows.
 *
 * Scale shape (the 100 TB lens):
 *   - training: two map-side-combinable count aggregations over the
 *     (bounded, labeled) training slice; |V| and the doc total fold into
 *     the plan as literals (the bm25/bigram stats-pass pattern);
 *   - scoring: token explode -> ONE equi-join against the vocab-bounded
 *     (label, word) table (AQE broadcasts it when small, shuffle-hash at
 *     web-scale vocabularies) -> per-(doc, label) partial sum; the
 *     #labels-row prior table fans each doc out by broadcast (labels are
 *     a config-bounded cardinality); one final (doc, label)-keyed left
 *     join stitches floor and evidence. Widest intermediate: one row per
 *     matched (token, label) — never tokens × labels.
 *   - argmax is min(struct(-score, label)): one more map-side-combinable
 *     aggregation, no window over the corpus.
 *
 * Determinism: counts are exact integers; each ln() agrees within 1 ulp
 * across engines; the per-(doc,label) sum's association error (~1e-12)
 * hides under round(_, 4); ties on the ROUNDED score break by label asc,
 * so `pred_label` is a pure function of hash-checked values.
 *
 * Output: (idCol, pred_label, score) — one row per document (documents
 * matching no training word still score via prior + floor).
 */
object Classify {

  def naiveBayes(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String, labelCol: String, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, "alpha must be positive (unseen words need mass)")
    val toks = TextAnalysis.tokens(col(textCol))

    // The model table and the tokenized corpus each feed MULTIPLE
    // consumers (lw -> label totals + |V| + the evidence join; the doc
    // tokens -> the evidence explode + the per-doc length) — without a
    // cache each consumer re-runs the tokenizer over its whole input
    // (measured r20: the two corpus-sized scans were ~2/3 of this
    // operator's wall time). lw is vocab*labels-bounded; docTok is one
    // token-array row per corpus row — the same O(corpus) cache the
    // dedup pair engine holds for its shingle frame. Each scope releases
    // its cache on the way out, also when an inner one throws; the result
    // is truncated (O(docs) rows) first so the caller never recomputes
    // through the released lineage.
    val trainTok = train.select(col(labelCol).as("_l"), explode(toks).as("_w"))
    val wordCounts = trainTok.groupBy(col("_l"), col("_w"))
      .agg(count(lit(1)).as("_clw"))
    // priors also has two consumers (the labels join AND the doc total —
    // a separate train.count() was a third full pass over the training
    // input); the #labels-row cache serves both
    val labelDocs = train.groupBy(col(labelCol).as("_l"))
      .agg(count(lit(1)).as("_nd"))
    // The tokenized corpus keeps the scan's width: repartitioning it on
    // an under-split input was no reproducible win under the engine
    // session (plans/r22/classify_nb_nbwide_ab.txt), and widening the
    // INPUT measured a 1.37-1.39x loss (r20+r21), the exchange re-paid
    // by each of the three caches.
    val docTokens = docs.select(col(idCol), toks.as("_toks"))
    Materialize.cached(wordCounts) { lw =>
    Materialize.cached(labelDocs) { priors =>
    Materialize.cached(docTokens) { docTok =>
      val lTotals = lw.groupBy(col("_l")).agg(sum(col("_clw")).as("_cl"))
      // |V| and the training doc total: two count jobs, plan literals
      val vocab = lw.select(col("_w")).distinct().count().toDouble
      require(vocab > 0, "training corpus has no tokens")
      val totalDocs = priors.agg(coalesce(sum(col("_nd")), lit(0L)))
        .head().getLong(0).toDouble

      // evidence: Σ ln((c_lw + a)/a) over tokens the label has seen
      val evidence = docTok
        .select(col(idCol), explode(col("_toks")).as("_w"))
        .join(lw, "_w")
        .groupBy(col(idCol), col("_l"))
        .agg(sum(log((col("_clw").cast(DoubleType) + lit(alpha)) / lit(alpha)))
          .as("_s"))

      // every (doc, label) frame row: prior + per-token floor
      val labels = priors.join(lTotals, "_l")
      val frame = docTok
        .select(col(idCol), size(col("_toks")).cast(DoubleType).as("_n"))
        .crossJoin(broadcast(labels))

      val score = round(
        log(col("_nd").cast(DoubleType) / lit(totalDocs)) +
          col("_n") * (log(lit(alpha)) -
            log(col("_cl").cast(DoubleType) + lit(alpha * vocab))) +
          coalesce(col("_s"), lit(0.0)), 4)

      Materialize.truncate(frame.join(evidence, Seq(idCol, "_l"), "left")
        .select(col(idCol), col("_l"), score.as("_score"))
        // argmax with min-struct: min(-score) = max(score), ties -> min label
        .groupBy(col(idCol))
        .agg(min(struct((-col("_score")).as("_ns"), col("_l").as("_lbl"))).as("_b"))
        .select(col(idCol), col("_b._lbl").as("pred_label"),
          round(-col("_b._ns"), 4).as("score")))
    }}}
  }
}
