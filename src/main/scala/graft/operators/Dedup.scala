package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for training-data pipelines, each designed for
 * the 100 TB shape of the problem:
 *
 *  - exact:       one hash-shuffle on a 32-byte fingerprint (map-side
 *                 partial aggregation collapses duplicates before the wire);
 *  - MinHash+LSH: shingle -> k minhashes -> banded signatures -> bucket
 *                 join. Candidate generation is linear in corpus size (no
 *                 O(n^2) pair scan); only bucket-colliding pairs are
 *                 verified with exact Jaccard;
 *  - SimHash:     64->16-bit locality-sensitive signature per document,
 *                 equal-signature buckets give near-exact duplicates;
 *  - n-gram Jaccard: exact verification used on blocked/candidate pairs.
 *
 * Everything is Catalyst expressions (md5, array ops) — no UDFs — so the
 * heavy per-document work stays in whole-stage codegen.
 */
object Dedup {

  /**
   * Word n-gram shingles (distinct, first-occurrence order). One
   * codegen'd byte-level kernel pass — replaces the token-anchored
   * regexp_extract_all lookahead form, which ran the regex engine at
   * every character position and materialized a normalized copy of the
   * text first. Identical shingle sets (KernelEquivalenceSpec).
   */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.word_grams(text, n)

  /**
   * MinHash permutation constants: h32 = first 32 bits of md5(shingle),
   * then k universal-hash permutations h_i = (A_i*h32 + B_i) mod P. ONE
   * md5 per shingle (the expensive part) + k cheap integer ops, instead
   * of k md5 passes. A_i*h32 stays under 2^63 (A_i < 2^31, h32 < 2^32),
   * so the arithmetic is portable to any engine with strict int64.
   */
  val MinhashP: Long = graft.core.TextHash.MinhashP
  val MinhashA: Seq[Long] = graft.core.TextHash.MinhashA.toSeq
  val MinhashB: Seq[Long] = graft.core.TextHash.MinhashB.toSeq

  /** 32-bit md5-derived hash of each shingle (engine-portable values,
    * computed by the codegen'd kernel — equal to
    * `conv(substring(md5(s),1,8),16,10)` without the hex detour). */
  def shingleHashes(shingleCol: Column): Column =
    graft.functions.shingle_hashes(shingleCol)

  /** MinHash signature: k permutation minima over shingle hashes. */
  def minhashSignature(hashCol: Column, k: Int = 8): Column = {
    require(k <= MinhashA.length, s"at most ${MinhashA.length} permutations configured")
    graft.functions.minhash_signature(hashCol, k)
  }

  /**
   * Exact duplicate groups over a doubled/noisy corpus: group by content
   * fingerprint, keep the smallest id as survivor.
   */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /**
   * Exact segment-level dedup with document rewriting (the fixed-window
   * form of Lee et al. 2022's exact substring deduplication): documents
   * are cut into consecutive `segTokens`-token segments, every segment
   * whose exact text already occurred at a lexicographically smaller
   * (id, position) — in ANY document — is removed, and surviving
   * segments are stitched back into the document. Duplicated boilerplate
   * is erased corpus-wide while its first occurrence survives; a fully
   * duplicated document keeps nothing and disappears from the output.
   *
   * Tokenization is whitespace-exact (`\s+` on trimmed text) and all
   * comparisons are exact strings — no floats, no hashing in the
   * dedup decision, engine-portable bit-for-bit.
   *
   * Scale shape: two content-sized exchanges — segments shuffle once by
   * segment text (the first-occurrence window) and once by document id
   * (reassembly). A rewriting dedup cannot shuffle less than its output;
   * the decision itself adds no joins and no driver state. Window skew is
   * bounded by the most-duplicated segment's copy count (boilerplate —
   * exactly what the operator deletes).
   */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 50): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    val n = size(toks)
    // ceil(n/seg) with a floor of 1: same chunk-count formula (stride ==
    // chunk) as TextAnalysis.chunkPassages, mirrored in the oracle
    val nSegs = (lit(1) + floor((greatest(n - segTokens, lit(0))
      + lit(segTokens - 1)).cast(LongType) / segTokens).cast(IntegerType))
    val segs = df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nSegs - 1),
          i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " "))))
      .toDF(idCol, "seg_idx", "seg")
    val firstOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col(idCol), col("seg_idx"))
    segs.withColumn("_rn", row_number().over(firstOcc))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg")), " ").as(textCol),
        count(lit(1)).as("n_kept"))
  }

  /**
   * LSH candidate pairs + exact-Jaccard verification in one dataflow:
   *   docs -> (shingles, signature) -> explode bands -> self-join on
   *   (band_id, band_signature) -> distinct pairs -> verify jaccard.
   *
   * `bands` x `rowsPerBand` must equal the signature length. At scale the
   * band join is the only shuffle that matters; its key space (band
   * signatures) is huge, so skew is bounded by true duplicate clusters.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.8): DataFrame = {
    val k = bands * rowsPerBand
    // shingle sets are reused (signature + verification) — cached instead
    // of recomputing the scan + md5 pass on every branch. At the 100 TB
    // scale this becomes a checkpoint to storage; same dataflow.
    Materialize.cached(df
      .select(col(idCol).as("doc_id"), shingles(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", shingleHashes(col("sh")))) { withSh => // md5 once, cached
      val withSig = withSh
        .withColumn("sig", minhashSignature(col("hs"), k))

      // bands carry ONLY (doc_id, band_id, band_sig) through the shuffle —
      // the shingle arrays would otherwise be duplicated `bands` times. The
      // band signature is an 8-byte xxhash64 of the band's minima, not a
      // concat string: ~5x fewer shuffle bytes, and a hash collision can
      // only ADD a candidate pair, which exact-Jaccard verification drops.
      val banded = bandSigs(withSig, bands, rowsPerBand)

      val a = banded.alias("a")
      val b = banded.alias("b")
      val candidates = a.join(b,
          col("a.band_id") === col("b.band_id") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()

      // exact-Jaccard verification only on bucket-colliding pairs;
      // |union| = na + nb - |intersect| avoids building the union array.
      val sa = withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val sb = withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val verified = candidates.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jac", round(col("inter").cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
        .filter(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jac"))
      // Materialize the verified pairs (tiny relative to the corpus — bounded
      // by true duplicate clusters) so the shingle cache can be released NOW
      // instead of pinning executor storage for the app lifetime — also on
      // failure. Downstream consumers (clustering iterations, joins) reuse
      // the materialized pairs instead of re-running the LSH dataflow.
      Materialize.truncate(verified)
    }
  }

  /** (doc_id, band_id, band_sig) rows from a minhash-signature frame:
    * only ids + 8-byte band hashes travel through any downstream shuffle
    * (an xxhash64 collision can only ADD a candidate, which exact-Jaccard
    * verification drops). Shared by the one-shot and incremental paths so
    * their band semantics cannot drift. */
  private def bandSigs(withSig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    withSig.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band_id"),
          xxhash64((0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("band_sig"))): _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_sig"))

  /**
   * The persisted LSH index of a corpus: `(doc_id, band_id, band_sig)`,
   * `bands * |docs|` rows of ids + 8-byte hashes. Build it ONCE when the
   * corpus is ingested, write it to storage, and every later delta dedups
   * against it via [[incrementalNearDupPairs]] without touching corpus
   * text — the 100 TB corpus is re-read only for the (duplicate-bounded)
   * candidate ids a delta actually collides with.
   */
  def lshBandIndex(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val k = bands * rowsPerBand
    val withSig = df
      .select(col(idCol).as("doc_id"), shingles(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(shingleHashes(col("sh")), k))
    bandSigs(withSig, bands, rowsPerBand)
  }

  /**
   * Incremental near-dup detection — the nightly-ingest shape: find every
   * near-dup pair TOUCHING the new `delta` batch (delta-vs-corpus and
   * delta-vs-delta) without reprocessing the corpus. Result is exactly
   * `minhashLshPairs(corpus ∪ delta)` restricted to pairs with at least
   * one delta member (canonical `doc_a < doc_b` order, same `jac` values)
   * — pinned as an equivalence spec, and the contract the DuckDB oracle
   * re-derives from first principles.
   *
   * `index` is [[lshBandIndex]] of `corpus` at the SAME `bands` /
   * `rowsPerBand` (typically read back from storage, not recomputed).
   * `corpus` and `delta` must carry disjoint id sets (a delta id also
   * present in the index would pair with itself and be dropped, not
   * flagged).
   *
   * Scale: only delta text is shingled; candidates against the corpus
   * come from an equi-join of delta band hashes vs the index (ids + 8
   * bytes per row, never text). Corpus TEXT is then read back only for
   * the distinct candidate ids — a duplicate-bounded set, so that join
   * broadcasts under AQE and prunes the corpus scan instead of rescanning
   * 100 TB. Verification is exact Jaccard on full shingle sets, so hash
   * collisions anywhere upstream only cost work, never correctness.
   */
  def incrementalNearDupPairs(delta: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, index: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.8): DataFrame = {
    val k = bands * rowsPerBand
    Materialize.cached(delta
      .select(col(idCol).as("doc_id"), shingles(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", shingleHashes(col("sh")))) { deltaSh =>
      val deltaBands = bandSigs(
        deltaSh.withColumn("sig", minhashSignature(col("hs"), k)), bands, rowsPerBand)

      // delta vs corpus: band-hash equi-join against the index
      val d = deltaBands.alias("d")
      val i = index.alias("i")
      val candCross = d.join(i,
          col("d.band_id") === col("i.band_id") &&
          col("d.band_sig") === col("i.band_sig") &&
          col("d.doc_id") =!= col("i.doc_id"))
        .select(col("d.doc_id").as("delta_id"), col("i.doc_id").as("corpus_id"))
        .distinct()
      // corpus text ONLY for colliding ids: candIds is duplicate-bounded,
      // so this join prunes the corpus scan rather than re-shingling it
      val candIds = candCross.select(col("corpus_id").as("doc_id")).distinct()
      val corpusSh = corpus
        .select(col(idCol).as("doc_id"), shingles(col(textCol)).as("sh"))
        .join(candIds, "doc_id")
        .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
      val crossVerified = candCross
        .join(deltaSh.select(col("doc_id").as("delta_id"), col("sh").as("sh_d")), "delta_id")
        .join(corpusSh, "corpus_id")
        .withColumn("inter", size(array_intersect(col("sh_d"), col("sh_c"))))
        .withColumn("jac", round(col("inter").cast(DoubleType) /
          (size(col("sh_d")) + size(col("sh_c")) - col("inter")), 4))
        .filter(col("jac") >= threshold)
        .select(least(col("delta_id"), col("corpus_id")).as("doc_a"),
          greatest(col("delta_id"), col("corpus_id")).as("doc_b"), col("jac"))

      // delta vs delta: the one-shot operator's dataflow over just the batch
      val da = deltaBands.alias("da")
      val db = deltaBands.alias("db")
      val candDelta = da.join(db,
          col("da.band_id") === col("db.band_id") &&
          col("da.band_sig") === col("db.band_sig") &&
          col("da.doc_id") < col("db.doc_id"))
        .select(col("da.doc_id").as("doc_a"), col("db.doc_id").as("doc_b"))
        .distinct()
      val deltaVerified = candDelta
        .join(deltaSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(deltaSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jac", round(col("inter").cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
        .filter(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jac"))

      // disjoint by construction (cross pairs have exactly one delta member,
      // delta pairs two) — union, materialize, release the shingle cache
      Materialize.truncate(crossVerified.unionByName(deltaVerified))
    }
  }

  /**
   * Exact n-gram Jaccard over blocked pairs (blocking key bounds the pair
   * count; at 100 TB you block on a cheap key — here `source` — then
   * verify only within blocks).
   *
   * Candidate generation is an inverted-index join with a block-local
   * document-frequency cap: a shingle occurring in more than `maxDf`
   * documents of one block is a stopword-like shingle — it contributes
   * O(df^2) candidate join rows while carrying almost no discriminative
   * signal (one hot shingle in a block would otherwise produce a quadratic
   * candidate blow-up). Capped shingles are dropped from the INDEX only;
   * verification computes the exact Jaccard from the FULL shingle sets, so
   * results are exact for every pair sharing at least one sub-cap shingle
   * (at threshold >= 0.5 a true near-dup pair shares roughly half its
   * shingles — the chance all of them are block-stopwords is negligible,
   * and `maxDf` can be raised if blocks legitimately contain more than
   * `maxDf` copies of a document).
   *
   * `maxDf` defaults to Int.MaxValue — EXHAUSTIVE semantics (every pair
   * with jac >= threshold is found), matching a naive inverted-index
   * join. The cap is opt-in because it is a contract change, not a tuning
   * knob: with a finite cap, a near-dup (jac &lt; 1) pair whose shared
   * shingles are ALL block-hot is not found (identical-set copies are
   * still rescued). At 100 TB pass an explicit cap (e.g. 100) — one hot
   * shingle in a block otherwise costs O(df^2) candidate rows.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, maxDf: Int = Int.MaxValue): DataFrame =
    ngramPairs(df, idCol, textCol, blockCol, threshold, maxDf,
      jaccardMeasure, "jac")

  /**
   * Exact n-gram CONTAINMENT over blocked pairs: |A∩B| / min(|A|, |B|) —
   * the asymmetric near-dup measure Jaccard dilutes. A short document
   * fully quoted inside a long one (wrapper boilerplate, syndicated
   * excerpts, prompt/completion pairs) has jac ≈ |A|/|B| → 0 as the host
   * grows, but containment exactly 1. Same machinery, candidate bound,
   * df-cap semantics, and exactness argument as [[ngramJaccardPairs]]
   * (the cap logic reasons about the INTERSECTION count, which both
   * measures share); identical-set mass duplicates rescue at 1.0 under
   * either measure.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, maxDf: Int = Int.MaxValue): DataFrame =
    ngramPairs(df, idCol, textCol, blockCol, threshold, maxDf,
      containmentMeasure, "containment")

  private def ngramPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, maxDf: Int,
      measure: (Column, Column, Column) => Column, outCol: String): DataFrame = {
    // shingle extraction (the regex pass) runs ONCE into a cached frame
    Materialize.cached(df.select(col(idCol).as("doc_id"), col(blockCol).as("block"),
        shingles(col(textCol)).as("sh"))
      .withColumn("n", size(col("sh")))) {
      ngramPairsImpl(_, threshold, maxDf, measure, outCol)
    }
  }

  /** round-4 Jaccard |A∩B| / |A∪B| from (intersection, |A|, |B|). */
  private def jaccardMeasure(inter: Column, na: Column, nb: Column): Column =
    round(inter.cast(DoubleType) / (na + nb - inter), 4)

  /** round-4 containment of the smaller set: |A∩B| / min(|A|, |B|). */
  private def containmentMeasure(inter: Column, na: Column, nb: Column): Column =
    round(inter.cast(DoubleType) / least(na, nb), 4)

  /** Shared pair engine: every `measure` must map identical sets to 1.0
    * (the set-fingerprint rescue emits that constant directly) and be
    * monotone in `inter` at fixed sizes (the df-cap exactness argument
    * reasons only about the intersection count). */
  private def ngramPairsImpl(withSh: DataFrame, threshold: Double,
      maxDf: Int, measure: (Column, Column, Column) => Column,
      outCol: String): DataFrame = {
    // ONE aggregation builds the posting list per (block, shingle); list
    // size is the document frequency. Shingles must stay STRINGS here —
    // the intersection counts below feed the final Jaccard, so hash
    // collisions are not survivable in this variant. Each posting entry
    // carries the doc's total shingle count so Jaccard denominators ride
    // along with the expansion — no join back to the corpus for counts.
    Materialize.cached(withSh
      .select(col("block"), struct(col("doc_id"), col("n")).as("d"),
        explode(col("sh")).as("s"))
      .groupBy(col("block"), col("s"))
      .agg(collect_set(col("d")).as("ds"))) { posts =>
      // |A∩B| over the KEPT (sub-cap) index falls out of counting pair
      // occurrences across posting lists — pairs expand in-row from ≤maxDf
      // arrays, no self-join, no array shipping. (n is functionally
      // dependent on doc_id, so grouping by it adds no cardinality.)
      val interKept = posts
        .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
        .select(explode(col("ds")).as("a"), col("ds"))
        .select(col("a"), explode(col("ds")).as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter_kept"))
      // docs containing at least one over-cap shingle: only for THESE can
      // the true intersection exceed inter_kept
      val hotDocs = posts.filter(size(col("ds")) > maxDf)
        .select(explode(col("ds")).as("d"))
        .select(col("d.doc_id").as("doc_id")).distinct()
        .withColumn("hot", lit(true))
      // common case at sane caps: NO hot docs. One cheap probe over the
      // cached index then skips the hot-flag joins, the dirty verify, and
      // the set-fingerprint rescue outright — inter_kept is exact for every
      // pair and the groupBy already emits unique pairs (no distinct).
      if (hotDocs.isEmpty) Materialize.truncate(interKept
        .select(col("doc_a"), col("doc_b"),
          measure(col("inter_kept"), col("na"), col("nb")).as(outCol))
        .filter(col(outCol) >= threshold))
      else {
        val scored = interKept
          .join(hotDocs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hot", "hot_a"),
            Seq("doc_a"), "left")
          .join(hotDocs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hot", "hot_b"),
            Seq("doc_b"), "left")
        // neither doc touches a hot shingle -> inter_kept IS the exact
        // intersection; Jaccard from counts alone (the common case at scale)
        val clean = scored.filter(col("hot_a").isNull && col("hot_b").isNull)
          .select(col("doc_a"), col("doc_b"),
            measure(col("inter_kept"), col("na"), col("nb")).as(outCol))
          .filter(col(outCol) >= threshold)
        // hot-doc pairs (rare by construction): exact verify from full sets
        val dirty = scored.filter(col("hot_a").isNotNull || col("hot_b").isNotNull)
          .select(col("doc_a"), col("doc_b"))
        val sa = withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val sb = withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        val verified = dirty.join(sa, "doc_a").join(sb, "doc_b")
          .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
          .withColumn(outCol,
            measure(col("inter"), size(col("sh_a")), size(col("sh_b"))))
          .filter(col(outCol) >= threshold)
          .select(col("doc_a"), col("doc_b"), col(outCol))
        // Mass-duplicate rescue: a document copied more than maxDf times per
        // block has EVERY shingle over the cap, so such copies share no
        // sub-cap shingle and would silently escape the index — yet they are
        // the most common real dedup target. Identical shingle SETS are
        // caught linearly: group hot docs by a set fingerprint and expand
        // jac=1.0 pairs in-row (the pair count is inherent to the output
        // contract; the INDEX stays bounded). Near-dup (jac < 1) pairs whose
        // shared shingles are all hot remain out of reach by design — raise
        // maxDf if a block legitimately holds that shape.
        val hotExact = withSh.join(hotDocs.drop("hot"), "doc_id")
          .withColumn("setfp", graft.functions.set_fingerprint(col("sh")))
          .groupBy(col("block"), col("setfp"))
          .agg(collect_set(col("doc_id")).as("ds"))
          .filter(size(col("ds")) > 1)
          .select(explode(col("ds")).as("doc_a"), col("ds"))
          .select(col("doc_a"), explode(col("ds")).as("doc_b"))
          .filter(col("doc_a") < col("doc_b"))
          .withColumn(outCol, lit(1.0))
        // materialize (tiny, threshold-bounded); the caches are released by
        // the enclosing scopes even when a stage throws.
        // distinct: a hot exact-duplicate pair can also surface via `verified`
        // when it shares a sub-cap shingle with a third doc's vocabulary.
        Materialize.truncate(clean.unionByName(verified).unionByName(hotExact)
          .distinct())
      }
    }
  }

  /**
   * Candidate (doc_a, doc_b) pairs for blocked n-gram Jaccard: inverted-
   * index self-join on (block, shingle), restricted to shingles with
   * block-local document frequency in (1, maxDf] — df==1 cannot form a
   * pair, df&gt;maxDf would form O(df^2) of them. Exposed separately so the
   * candidate bound is directly testable.
   */
  def ngramCandidates(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxDf: Int): DataFrame =
    candidatesFromIndex(
      df.select(col(blockCol).as("block"), col(idCol).as("doc_id"),
        explode(shingles(col(textCol))).as("s")),
      maxDf)

  /** Inverted-index candidates over an exploded (block, doc_id, s)
    * relation with the block-local df cap applied. ONE aggregation builds
    * the posting list per (block, shingle) — its size IS the document
    * frequency, so the cap both filters and bounds the list — and pair
    * expansion happens in-row (two explodes over a ≤maxDf array) instead
    * of a second shuffle-heavy self-join of the full index. */
  private def candidatesFromIndex(ex: DataFrame, maxDf: Int): DataFrame =
    ex.groupBy(col("block"), col("s"))
      .agg(collect_set(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

  /** Edge-set bytes up to which [[dupClusters]] finishes on the driver:
    * about 600k long-id edges, a few hundred MB of driver heap. */
  val ClusterDriverCapBytes: Long = 16L << 20

  /**
   * Connected components over a near-dup pair graph (`doc_a`, `doc_b`):
   * every document in a pair gets the minimum doc id of its component as
   * cluster_id (the survivor). A pair with a null id is no edge.
   *
   * The pairs are truncated once, observing their count and bytes. While
   * they exceed [[ClusterDriverCapBytes]], large-star/small-star rounds
   * (Kiveris et al., SoCC 2014: O(log^2 n) rounds) contract them on the
   * cluster, one observed truncation each. Then either the edges fit, and
   * the driver collects them and returns union-find's labels as a local
   * frame (2 jobs for an input that fits), or a round changed no edge and
   * its stars (node -> component minimum, minimum -> itself) are the labels.
   *
   * The minimum is in Spark's order for the id type, as Catalyst compares
   * in both exits: string ids order by UTF-8 bytes, not by
   * `String.compareTo`'s UTF-16 units. Every truncation but the returned
   * one is released; the caller's `pairs` are not.
   */
  def dupClusters(pairs: DataFrame): DataFrame = dupClusters(pairs, ClusterDriverCapBytes)

  private[graft] def dupClusters(pairs: DataFrame, capBytes: Long): DataFrame = {
    val (a, b) = (col("doc_a"), col("doc_b"))
    var cur = observedEdges(pairs.filter(a.isNotNull && b.isNotNull)
      .select(greatest(a, b).as("doc_id"), least(a, b).as("cluster_id")), lit(true))
    var stars = false
    try {
      while (cur.bytes > capBytes && !stars) {
        val next = starRound(cur.frame)
        Materialize.release(cur.frame)
        stars = next.fresh == 0 && next.count == cur.count
        cur = next
      }
      if (stars) cur.frame else driverLabels(cur.frame)
    } finally if (!stars) Materialize.release(cur.frame)
  }

  /** A truncated edge set with its count, its bytes and its edges that
    * were not in the previous set, as its truncation observed them. */
  private final case class EdgeSet(frame: DataFrame, count: Long, bytes: Long, fresh: Long)

  private def observedEdges(edges: DataFrame, fresh: Column): EdgeSet = {
    // a collect ships each edge as a 4-byte length and a two-field UnsafeRow:
    // null bitmap, two 8-byte slots, and a string id's bytes padded to a word
    val idBytes: Column => Column = edges.schema("doc_id").dataType match {
      case _: StringType => c => (octet_length(c) + 7).bitwiseAND(-8)
      case _ => _ => lit(0)
    }
    val obs = org.apache.spark.sql.Observation()
    val frame = Materialize.truncate(edges.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(idBytes(col("doc_id")) + idBytes(col("cluster_id")) + 28L), lit(0L)).as("b"),
      count_if(fresh).as("f")).select("doc_id", "cluster_id"))
    val m = obs.get.view.mapValues(_.asInstanceOf[Long])
    EdgeSet(frame, m("n"), m("b"), m("f"))
  }

  /** One large-star then small-star round over edges oriented doc_id >=
    * cluster_id. Self-loops only mark nodes: large-star passes them on and
    * small-star gives each minimum it finds one, so a star's root keeps
    * its (root, root) label. */
  private def starRound(prev: DataFrame): EdgeSet = {
    import org.apache.spark.sql.expressions.Window
    val (u, v, x, y, m) = (col("u"), col("v"), col("x"), col("y"), col("m"))
    // large-star: u's larger neighbours move to u's minimum neighbour
    val large = prev.select(col("doc_id").as("u"), col("cluster_id").as("v"))
      .union(prev.select(col("cluster_id").as("u"), col("doc_id").as("v")))
      .withColumn("m", least(u, min(v).over(Window.partitionBy(u))))
      .filter(v >= u).select(v.as("x"), when(v === u, u).otherwise(m).as("y"))
    // small-star: x and its smaller neighbours move to their minimum
    val small = large.withColumn("m", min(y).over(Window.partitionBy(x)))
      .select(inline(array(struct(x.as("doc_id"), m.as("cluster_id")),
        struct(y.as("doc_id"), m.as("cluster_id")))))
    observedEdges(small.withColumn("_new", lit(true)).withColumn("_old", lit(false))
      .unionByName(prev.withColumn("_new", lit(false)).withColumn("_old", lit(true)))
      .groupBy("doc_id", "cluster_id").agg(max("_new").as("_new"), max("_old").as("_old"))
      .filter(col("_new")), !col("_old"))
  }

  /** Union-find on the driver over Catalyst values, whose ordering keeps
    * the smaller root, so each root is its component's minimum. */
  private def driverLabels(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters._
    val dt = edges.schema("doc_id").dataType
    val (toCatalyst, toScala) = (createToCatalystConverter(dt), createToScalaConverter(dt))
    val lt = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt).lt _
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(id: Any): Any = {
      var r = parent.getOrElseUpdate(id, id)
      while (parent(r) != r) r = parent(r)
      var c = id
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.collect().foreach { e =>
      val (p, q) = (find(toCatalyst(e.get(0))), find(toCatalyst(e.get(1))))
      if (lt(p, q)) parent(q) = p else parent(p) = q
    }
    import scala.jdk.CollectionConverters._
    edges.sparkSession.createDataFrame(parent.keys.toSeq
      .map(id => Row(toScala(id), toScala(find(id)))).asJava, edges.schema)
  }

  /**
   * 16-bit SimHash per document from md5-derived token hashes: bit b is
   * set when the (+1/-1) majority vote of that bit across all token
   * occurrences is positive. Equal signatures (or small Hamming distance
   * via bit_count(xor)) mark near-duplicates.
   */
  def withSimhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.simhash_tokens(TextAnalysis.tokens(col(textCol)), 16)
        .as("simhash16"))

  /**
   * 60-bit SimHash (first 15 hex chars of md5 per token — 60 bits keeps
   * the signature inside a SIGNED int64 on every engine, so the value is
   * SQL-reproducible). Same kernel as [[withSimhash16]], scan-stage only.
   */
  private[graft] def withSimhash60(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.simhash_tokens(TextAnalysis.tokens(col(textCol)), 60)
        .as("simhash60"))

  /**
   * SimHash near-dup pairs via an EXACT banded Hamming join: the 60-bit
   * signature splits into four 15-bit bands; by pigeonhole, any pair with
   * Hamming distance <= 3 differs in at most 3 bands and therefore agrees
   * on at least one — so candidates from the band-bucket self-join plus a
   * bit_count verify recover EXACTLY the <=maxHamming pairs (maxHamming
   * <= 3), with no all-pairs comparison anywhere.
   *
   * Scale contract: a band bucket holds corpus_size/2^15 docs on average
   * and candidates grow with the square of bucket size — the same hot-key
   * shape as ngram's posting lists. `maxBucket` (opt-in) drops over-cap
   * buckets; a dropped bucket can only lose pairs whose EVERY agreeing
   * band is hot, the exact analog of the ngram df-cap trade documented at
   * `ngramJaccardPairsImpl`.
   */
  def simhashBandPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3, s"4 bands over 60 bits are exact only for hamming <= 3, got $maxHamming")
    // both sides of the band self-join derive from the signature frame —
    // cache it so the tokenize+simhash kernel runs ONCE over the corpus
    // instead of once per side (16 bytes/row of cache; the threshold-
    // bounded pair result is truncated before the release, the ngram pair
    // engine's pattern)
    Materialize.cached(withSimhash60(df, idCol, textCol)) { sims =>
      val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash60"), b * 15).bitwiseAND(lit(0x7FFFL)).as("v")))
      val bands = sims.select(struct(col("doc_id"), col("simhash60")).as("d"),
        explode(array(bandCols: _*)).as("bv"))
        .select(col("d"), col("bv.band").as("band"), col("bv.v").as("v"))
      val capped =
        if (maxBucket == Int.MaxValue) bands
        else bands.withColumn("n", count(lit(1))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("v"))))
          .filter(col("n") <= maxBucket).drop("n")
      val left = capped.select(col("band"), col("v"), col("d").as("a"))
      val right = capped.select(col("band"), col("v"), col("d").as("b"))
      Materialize.truncate(left.join(right, Seq("band", "v"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash60").bitwiseXOR(col("b.simhash60"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()) // a close pair can agree on several bands
    }
  }
}
