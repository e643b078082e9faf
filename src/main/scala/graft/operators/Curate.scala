package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus curation — the composition a pretraining data
 * pipeline actually runs, assembled from the graft operators:
 *
 *   1. quality scoring + filter (cheap, in the scan stage);
 *   2. language filter (stopword/CJK heuristic);
 *   3. exact dedup (fingerprint hash-groupBy, min-id survivor);
 *   4. near-dup clustering (MinHash+LSH pairs -> connected components),
 *      keeping only each cluster's minimum-id member.
 *
 * Ordering matters at scale: the per-row filters run first (no shuffle),
 * exact dedup halves the near-dup candidate load, and LSH only ever
 * shuffles ids + band signatures.
 */
object Curate {

  final case class CurationStats(
      input: Long, afterQuality: Long, afterLang: Long,
      afterExact: Long, afterNearDup: Long)

  /**
   * Returns (curated corpus, stats). `langs` empty means keep all
   * languages.
   *
   * One corpus scan and two materializations. Job 1 runs scan ->
   * verdicts -> fingerprint -> exact dedup and truncates the exact-deduped
   * rows; job 2 anti-joins the near-dup losers and truncates the curated
   * rows it returns, so the caller (semantic dedup, a writer) reads
   * blocks instead of re-running the text pipeline. Storage peaks at
   * about 2x the exact-deduped corpus, local or reliable per
   * [[Materialize.truncate]]; the exact-deduped rows and the LSH pairs
   * are released once the curated rows are written. Every count is
   * observed at the root of a checkpoint job — its result stage, where a
   * retried task's update is applied once (inside a shuffle-map stage a
   * re-run counts again).
   */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.3, langs: Set[String] = Set("en"),
      nearDupThreshold: Double = 0.8): (DataFrame, CurationStats) = {
    val scored = TextAnalysis.withQuality(docs, textCol)
    val enriched =
      if (langs.isEmpty) scored else TextAnalysis.withLangId(scored, textCol)
    val qPass = col("quality") >= minQuality
    val langPass =
      if (langs.isEmpty) lit(true)
      else col("predicted_lang").isin(langs.toSeq: _*)
    val (key, n) = (col("__k"), col("__n"))
    def total(c: Column) = coalesce(sum(c), lit(0L))

    // exact dedup: keep the min-id doc per fingerprint. min_by over the
    // whole row is ONE aggregation (map-side combinable); non-keepers
    // collapse into one null-key group that carries their counts.
    val funnel = Observation()
    val exact = Materialize.truncate(enriched
      .groupBy(when(qPass && langPass, TextAnalysis.fingerprint(col(textCol))).as("__k"))
      .agg(min_by(struct(enriched.columns.toIndexedSeq.map(col): _*), col(idCol)).as("__r"),
        count(lit(1)).as("__n"), count_if(qPass).as("__nq"))
      .observe(funnel, total(n).as("input"), total(col("__nq")).as("after_quality"),
        total(when(key.isNotNull, n)).as("after_lang"), count(key).as("after_exact"))
      .filter(key.isNotNull).select("__r.*"))

    // near-dup: drop every cluster member except the minimum id
    val kept = Observation()
    val curated = try {
      val pairs = Dedup.minhashLshPairs(exact, idCol, textCol,
        threshold = nearDupThreshold)
      try {
        val losers = Dedup.dupClusters(pairs).filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as(idCol))
        Materialize.truncate(exact.join(losers, Seq(idCol), "left_anti")
          .observe(kept, count(lit(1)).as("n")))
      } finally Materialize.release(pairs)
    } finally Materialize.release(exact)

    val f = funnel.get.view.mapValues(_.asInstanceOf[Long]).toMap
    (curated, CurationStats(f("input"), f("after_quality"), f("after_lang"),
      f("after_exact"), kept.get("n").asInstanceOf[Long]))
  }

  /**
   * Deterministic train/val/test assignment: md5(id) modulo 1000 buckets.
   * What a seeded `sample()` cannot promise: the SAME document lands in
   * the SAME split on any engine, any run, any cluster size — splits are
   * reproducible across re-runs, resumable after partial failures, and
   * auditable by any SQL engine with md5. Scan-stage only (no shuffle).
   */
  def withSplit(df: DataFrame, idCol: String,
      trainPerMille: Int = 900, valPerMille: Int = 50): DataFrame = {
    require(trainPerMille + valPerMille <= 1000, "split fractions exceed 1")
    val bucket = splitBucket(idCol, "split")
    df.withColumn("split",
      when(bucket < trainPerMille, "train")
        .when(bucket < trainPerMille + valPerMille, "val")
        .otherwise("test"))
  }

  /**
   * Deterministic per-source downsampling ("corpus mixing"): keep a row
   * when its md5 bucket falls under the source's keep-rate (per mille).
   * Uses a DIFFERENT salt than withSplit so mixing and splitting stay
   * independent events. Rates compile to a plan-time when-chain — a scan
   * predicate, not a join against a rates table.
   */
  def mixKeep(idCol: String, sourceCol: String,
      ratesPerMille: Map[String, Int], defaultPerMille: Int): org.apache.spark.sql.Column = {
    val bucket = splitBucket(idCol, "mix")
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    bucket < rate
  }

  /** md5-derived bucket in [0, 1000): first 8 hex chars of
    * md5(salt:id) as an integer, mod 1000 — portable to any engine. */
  private def splitBucket(idCol: String, salt: String): org.apache.spark.sql.Column =
    bucketOf(col(idCol), salt)

  private def bucketOf(id: org.apache.spark.sql.Column,
      salt: String): org.apache.spark.sql.Column =
    (conv(substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000)

  /**
   * Leakage-safe train/val/test split: members of the same near-duplicate
   * cluster ALWAYS land on the same side. A plain per-document split
   * ([[withSplit]]) leaks — when a test document has a near-copy in
   * train, the eval measures memorization, not generalization. Here the
   * split is keyed on the cluster REPRESENTATIVE (min doc id reachable
   * through the duplicate-pair graph; a document in no pair represents
   * itself), so the whole cluster moves together by construction.
   *
   * `pairs` is any near-dup pair frame (`doc_a`, `doc_b`) — MinHash+LSH
   * ([[Dedup.minhashLshPairs]]), SimHash bands, n-gram Jaccard — letting
   * the caller pick the similarity notion that defines "leak".
   *
   * Scale: the cluster map from [[Dedup.dupClusters]] holds one row per
   * document in a pair, a local frame under its driver cap, so the left
   * join broadcasts and the corpus never shuffles; bucket assignment is
   * a scan-stage md5 (deterministic across engines/runs/cluster sizes,
   * same contract as [[withSplit]], distinct salt so the two stay
   * independent events).
   */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPerMille: Int = 900, valPerMille: Int = 50): DataFrame = {
    require(trainPerMille + valPerMille <= 1000, "split fractions exceed 1")
    val clusters = Dedup.dupClusters(pairs)
      .withColumnRenamed("doc_id", idCol).withColumnRenamed("cluster_id", "_cl")
    // the singleton fallback stays in the ID's OWN type: a long cast here
    // would null out non-numeric ids (UUID/URL corpora) and silently dump
    // every singleton into 'test'; bucketOf hashes the string form either
    // way, so long-id corpora bucket identically
    val rep = coalesce(col("_cl").cast(docs.schema(idCol).dataType), col(idCol))
    val bucket = bucketOf(rep, "lsplit")
    docs.join(clusters, Seq(idCol), "left")
      .withColumn("split_rep", rep)
      .withColumn("split",
        when(bucket < trainPerMille, "train")
          .when(bucket < trainPerMille + valPerMille, "val")
          .otherwise("test"))
      .drop("_cl")
  }

  /**
   * Sequence packing: assign every document (in `idCol` order) its global
   * token offset and fixed-budget training-block id — the "pack documents
   * into ~blockTokens-token shards" step of an LLM pretraining pipeline.
   *
   * The naive form is a running-sum window over a GLOBAL ordering — a
   * single-partition bottleneck at corpus scale. This is the distributed
   * two-phase prefix sum instead: range-partition by id (each partition
   * owns a contiguous id span), per-partition token totals to the driver
   * (one tiny row per partition), prefix those into base offsets, then a
   * second per-partition pass assigns exact offsets imperatively. Offsets
   * depend only on (ordering, counts) — the result is partition-count
   * invariant, and blocks are reproducible across runs and cluster sizes.
   */
  def packBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Long): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // ONE RDD instance serves both phases: range-partition boundaries come
    // from sampling, so a second `.rdd` materialization could draw
    // DIFFERENT boundaries than the ones the base offsets were computed
    // for (e.g. after cache eviction forces a recompute). A single RDD
    // lineage re-executes with the same partitioner no matter what.
    Materialize.cached(df.select(col(idCol).cast("long"),
        size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .as[(Long, Long)]
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol))
      .rdd) { ranged =>
      // phase 1: one (partitionIndex, tokenTotal) row per partition
      val totals = ranged
        .mapPartitionsWithIndex { case (i, it) =>
          var s = 0L; it.foreach(s += _._2); Iterator.single(i -> s)
        }.collect().sortBy(_._1).map(_._2)
      val bases = totals.scanLeft(0L)(_ + _) // bases(i) = tokens before partition i
      // phase 2: exact running offsets within each partition
      val packed = ranged.mapPartitionsWithIndex { case (i, it) =>
        var off = bases(i)
        it.map { case (id, n) =>
          val o = off; off += n; (id, n, o, o / blockTokens)
        }
      }
      // materialize before the release: the result must not re-depend on
      // the cached two-pass lineage after this method returns
      Materialize.truncate(spark.createDataset(packed)
        .toDF(idCol, "n_tokens", "token_offset", "block_id"))
    }
  }

  /**
   * Benchmark decontamination: which corpus documents share any word
   * n-gram with an evaluation set. The eval side (tiny vs the corpus)
   * collapses to distinct shingles and BROADCASTS; the corpus side is
   * scan-stage shingle explode -> broadcast hash join -> partial-agg
   * count. No corpus-side shuffle of text — only (id, matched shingle)
   * pairs reach the aggregation exchange.
   */
  def contaminationHits(corpus: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val evalSh = evalDocs
      .select(explode(Dedup.shingles(col(textCol), n)).as("sh")).distinct()
    corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("sh"))
      .join(broadcast(evalSh), "sh")
      // shingles() is distinct-per-doc and evalSh is distinct, so
      // (id, sh) rows are unique: count(*) IS the distinct shared count
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /**
   * Deterministic source-repeat upsampling — data mixing with "epochs
   * > 1" (the UniMax / Llama-style recipe where high-quality sources
   * repeat 2-4x while bulk web text is sampled down, all in one pass):
   * a source with factor f emits every doc floor(f) times, plus one more
   * copy for a deterministic md5-chosen fraction frac(f) of its docs.
   * Factors below 1 degrade to deterministic downsampling (floor 0 +
   * fractional keep), so one primitive covers both directions.
   *
   * Scan-stage only: the factor compiles to a plan-time when-chain, the
   * copy fan-out is an in-row sequence explode — zero shuffle at any
   * corpus size, and the output carries `copy` (0-based repeat index) so
   * downstream packing/shuffling can treat copies independently.
   *
   * Determinism: u = (first-8-hex-digits-of-md5 + 0.5) / 2^32 is exact
   * in double on any engine; the fractional-copy comparison u < frac(f)
   * is one IEEE compare of exact values — the [[withSplit]] contract.
   *
   * Output: (all input columns, copy), rows with zero copies dropped.
   */
  def upsampleBySource(df: DataFrame, idCol: String, sourceCol: String,
      factors: Map[String, Double], defaultFactor: Double = 1.0): DataFrame = {
    require((factors.values ++ Seq(defaultFactor)).forall(_ >= 0.0),
      "repeat factors must be >= 0")
    val factor = factors.foldLeft(lit(defaultFactor)) { case (acc, (src, f)) =>
      when(col(sourceCol).cast("string") === src, lit(f)).otherwise(acc)
    }
    val base = floor(factor).cast("int")
    val u = ((conv(substring(md5(concat(lit("upsample:"),
        col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0))
    val copies = base + when(u < factor - base.cast("double"), 1).otherwise(0)
    df.withColumn("_copies", copies)
      // sequence(0, -1) would helpfully count DOWN; empty-array explode
      // is the correct zero-copy behavior
      .withColumn("copy", explode(when(col("_copies") > 0,
        sequence(lit(0), col("_copies") - 1))
        .otherwise(array().cast("array<int>"))))
      .drop("_copies")
      .withColumn("copy", col("copy").cast("long"))
  }

  /**
   * Pairwise source-overlap matrix: for every pair of sources, the exact
   * Jaccard similarity of their distinct word-n-gram sets — the corpus
   * forensics behind "is src_a scraped from src_b" / "how much will
   * cross-source dedup remove" decisions.
   *
   * Scale shape — critically NOT the textbook self-join of the
   * (source, shingle) relation on shingle (the oracle's form), which at
   * 100 TB re-shuffles the full shingle stream into a join whose output
   * is quadratic in per-shingle source frequency. The corpus is scanned
   * and the shingle stream exchanged exactly ONCE:
   *   1. explode shingles -> groupBy(shingle) -> collect_set(source):
   *      one shuffle with map-side combine; aggregation state bounded by
   *      the SOURCE CARDINALITY (a config-bounded dimension, like
   *      languages — tens to hundreds, never corpus-scale). The result
   *      is truncated eagerly because BOTH derivations below read it
   *      (without it Catalyst would re-run the scan+exchange per
   *      consumer — the 3-scan shape this operator had at first cut; a
   *      lazy truncation would let the two sibling stages compute it
   *      twice);
   *   2. per-source sizes = explode the source sets and count — a
   *      #sources-row table, broadcast back for the Jaccard denominator;
   *   3. in-row pair expansion of each multi-source set (<= |S| choose 2
   *      per shingle) -> count per (src_a, src_b): the exchange carries
   *      pre-aggregated pair counts, not shingles.
   * Pairs with zero shared shingles are omitted (their Jaccard is 0).
   *
   * Jaccard = n_common / (n_a + n_b - n_common): exact integers and one
   * IEEE division, bit-identical on any engine, rounded to 6.
   *
   * Output: (src_a, src_b, n_a, n_b, n_common, jaccard), src_a < src_b.
   */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // collect_set absorbs duplicate (source, shingle) pairs, so no
    // separate distinct pass is needed before the aggregation
    val bySrc = Materialize.truncate(df.select(col(sourceCol).as("_src"),
        explode(Dedup.shingles(col(textCol), n)).as("_sh"))
      .groupBy(col("_sh"))
      .agg(sort_array(collect_set(col("_src"))).as("_srcs")))
    val sizes = bySrc.select(explode(col("_srcs")).as("_src"))
      .groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    val pairs = bySrc
      .filter(size(col("_srcs")) >= 2)
      // in-row ordered-pair expansion: element i with every element > i
      .select(explode(flatten(transform(col("_srcs"), (x, i) =>
        transform(slice(col("_srcs"), i + 2, size(col("_srcs"))),
          y => struct(x.as("a"), y.as("b")))))).as("_p"))
      .groupBy(col("_p.a").as("src_a"), col("_p.b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("_src").as("src_a"), col("_n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("_src").as("src_b"), col("_n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  /**
   * Deterministic k-per-stratum sample ("give me exactly 10 docs per
   * source"): each row's priority is an md5-derived hash of its id, and
   * the k highest-priority rows per stratum win — a uniform sample that,
   * like [[withSplit]], is reproducible across engines, runs, and
   * cluster sizes, and is auditable by any SQL engine with md5.
   *
   * Scale shape: the `row_number() OVER (PARTITION BY stratum ORDER BY
   * hash)` form shuffles the ENTIRE corpus into #strata partitions —
   * with a handful of sources that is a handful of tasks sorting
   * everything (the same skew TopKAgg exists to kill). Here each input
   * partition heap-reduces to <= k rows per stratum before the exchange,
   * so the shuffle carries O(#partitions * #strata * k) rows no matter
   * the corpus size.
   *
   * Priorities are 32-bit (exact in double); equal priorities resolve by
   * ascending id, so the sample is total-ordered and engine-portable.
   */
  def sampleKPerStratum(df: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    Ids.requireIntegral(df, idCol, "sampleKPerStratum")
    val prio = conv(substring(md5(concat(lit("sample:"),
        col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double")
    df.groupBy(col(strataCol))
      .agg(graft.functions.TopKAgg.topk_agg(prio,
        col(idCol).cast("long"), k).as("_picks"))
      .select(col(strataCol), explode(col("_picks")).as("_e"))
      .select(col(strataCol), col("_e.c_id").as(idCol))
  }

  /**
   * Weighted sampling without replacement (Efraimidis–Spirakis): keep the
   * k rows with the largest priority `u^(1/w)` where `u` is a
   * deterministic per-row uniform and `w` the row's weight — the
   * "sample 10M docs, long/high-quality docs proportionally more often"
   * step of corpus curation. Comparing `ln(u)/w` is monotone-equivalent
   * to `u^(1/w)` and avoids cross-engine `pow` drift.
   *
   * `u = (h + 0.5) / 2^32` with `h` the first 8 md5 hex digits of
   * `"wsample:" + id` — an exact dyadic double, so both engines feed
   * `ln` the IDENTICAL input and the key differs only by the library's
   * sub-ulp `ln` error (order flips need two keys within ~1e-16 relative;
   * uniform order-statistic gaps at corpus scale are ~1/n).
   *
   * Scale shape: same bounded-heap reduction as [[sampleKPerStratum]] —
   * each input partition heap-reduces to <= k rows before the single
   * exchange, so the shuffle carries O(#partitions * k) rows no matter
   * the corpus size; no global sort, no single-task window.
   *
   * Rows with weight <= 0 or null never sample (filtered, matching
   * `u^(1/w) -> 0`).
   */
  def weightedSampleK(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    Ids.requireIntegral(df, idCol, "weightedSampleK")
    val u = ((conv(substring(md5(concat(lit("wsample:"),
        col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0))
    val key = log(u) / col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .groupBy()
      .agg(graft.functions.TopKAgg.topk_agg(key,
        col(idCol).cast("long"), k).as("_picks"))
      .select(explode(col("_picks")).as("_e"))
      .select(col("_e.c_id").as(idCol))
  }

  /**
   * Temperature-scaled source rebalancing (the multilingual "alpha
   * sampling" of mT5/XLM-R, UniMax-flavored): sources are kept at rates
   * proportional to `count^alpha / count`, so low-resource sources are
   * upweighted relative to their natural share. With `alpha = 0.5` the
   * per-source share of the kept corpus is proportional to sqrt(count).
   *
   * Rates are realized as deterministic per-row Bernoulli keeps: row id's
   * 32-bit md5 value (salt "tmix") is compared against a per-source
   * threshold `floor(rate * 2^32)` compiled into a plan-time when-chain —
   * a scan predicate, no join, same shape as [[mixKeep]]. A source whose
   * target exceeds its size caps at rate 1 (the excess is truncated, not
   * redistributed — UniMax's epoch cap with cap = 1 epoch).
   *
   * Only `alpha = 0.5` is engine-portable bit-for-bit (sqrt is IEEE
   * correctly-rounded; pow is not) — the oracle contract holds for 0.5,
   * other alphas are best-effort cross-engine.
   *
   * Source counts are one tiny aggregate collected to the driver (one row
   * per source — the same legitimate driver step as the pack prefix sum);
   * the corpus itself is scanned once with the compiled predicate.
   */
  def temperatureMixKeep(df: DataFrame, idCol: String, sourceCol: String,
      targetRows: Long, alpha: Double = 0.5): DataFrame = {
    require(targetRows > 0, "targetRows must be positive")
    // the source is compared AS STRING on both the driver and executor
    // side so non-string source columns work; null-source rows have no
    // quota and are dropped (they match no threshold branch)
    val src = col(sourceCol).cast("string")
    val counts = df.filter(src.isNotNull).groupBy(src.as("_src")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def powA(c: Long): Double =
      if (alpha == 0.5) math.sqrt(c.toDouble) else math.pow(c.toDouble, alpha)
    val z = counts.values.map(powA).sum
    val thresholds: Map[String, Long] = counts.map { case (src, c) =>
      val rate = math.min(1.0, powA(c) / z * targetRows.toDouble / c.toDouble)
      src -> math.floor(rate * 4294967296.0).toLong
    }
    val h = conv(substring(md5(concat(lit("tmix:"),
        col(idCol).cast("string"))), 1, 8), 16, 10).cast("long")
    val thr = thresholds.foldLeft(lit(0L)) { case (acc, (sv, t)) =>
      when(src === sv, lit(t)).otherwise(acc)
    }
    df.filter(h < thr)
  }

  /**
   * Bloom-accelerated decontamination: same EXACT output as
   * [[contaminationHits]], different scale shape. The eval shingle set is
   * folded into a fixed `numBits`-bit Bloom filter (one tiny aggregate,
   * [[graft.functions.BloomAggExpr]]) and shipped as a plan literal; the
   * corpus scan then keeps only docs where ANY shingle probes positive —
   * an in-row codegen'd test, so the all-clean common case never explodes
   * into shingle rows at all. Survivors (true hits + the filter's ~FP
   * rate of clean docs) flow through the exact broadcast-join count,
   * which eliminates false positives; Bloom filters have no false
   * negatives, so the result is row-identical to the exact operator.
   *
   * Why at 100 TB: the exact path broadcasts the full distinct eval
   * shingle set (unbounded — a large eval suite is GBs) and fans every
   * corpus doc out into ~tokens rows through the join probe. Here the
   * broadcast is `numBits/8` bytes NO MATTER the eval size, and the
   * explode+join+aggregate runs only over the contaminated sliver.
   */
  def decontaminateBloom(corpus: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomAgg.bloom_agg
    // no distinct before the agg: bloom insertion is idempotent, so a
    // dedup pass would add a full shuffle of the eval shingle stream for
    // a bit-identical blob
    val blob = evalDocs
      .select(explode(Dedup.shingles(col(textCol), n)).as("sh"))
      .agg(bloom_agg(col("sh"), numBits, numHashes)).head().getAs[Array[Byte]](0)
    val candidates = corpus.filter(
      graft.functions.bloom_any(lit(blob), Dedup.shingles(col(textCol), n)))
    contaminationHits(candidates, evalDocs, idCol, textCol, n)
  }

  /**
   * Diff two corpus snapshots — the nightly "what changed between
   * yesterday's crawl and today's" report: one row per doc present in
   * either side with `change_type` ∈ added / removed / changed (and
   * unchanged, opt-in). Each side reduces to `(id, md5 fingerprint)`
   * BEFORE the full-outer join, so document text never shuffles — the
   * join moves 16-byte hashes however large the documents are, and
   * md5 equality is the same content-identity contract the exact-dedup
   * family uses.
   */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, includeUnchanged: Boolean = false): DataFrame = {
    val o = oldDf.select(col(idCol).as("_oid"), md5(col(textCol)).as("_ofp"))
    val n = newDf.select(col(idCol).as("_nid"), md5(col(textCol)).as("_nfp"))
    val joined = o.join(n, col("_oid") === col("_nid"), "full_outer")
      .select(coalesce(col("_oid"), col("_nid")).as(idCol),
        when(col("_oid").isNull, "added")
          .when(col("_nid").isNull, "removed")
          .when(col("_ofp") =!= col("_nfp"), "changed")
          .otherwise("unchanged").as("change_type"))
    if (includeUnchanged) joined
    else joined.filter(col("change_type") =!= "unchanged")
  }
}
