package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over an embedding column (array<float>).
 *
 * Baseline: brute-force cosine top-k — the query side is broadcast, the
 * corpus side streams through one scan (no shuffle until the tiny top-k
 * aggregation), so it scales to any corpus size that can be scanned; cost
 * is O(|corpus| * |queries| * dim).
 *
 * Scale path: random-hyperplane LSH bucketing (signBucket) — candidates
 * only within matching buckets, turning top-k into a bucket-local scan.
 * Hyperplane components are md5-derived so any engine reproduces them.
 *
 * All math is double-precision Catalyst expressions (zip_with + aggregate)
 * — deterministic and engine-portable, no UDFs.
 */
object Similarity {

  /** Sum of element products in double precision (sequential, stable
    * order) — the codegen'd VectorDotExpr kernel. */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Rank a scored (q_id, c_id, sim) relation down to k rows per query with
   * the bounded-heap TopKAgg — NOT a row_number() window. The window form
   * shuffles every scored row into #distinct(q_id) partitions (a 10-probe
   * query set would funnel the whole corpus scan through 10 tasks); the
   * aggregate reduces each input partition to ≤k entries per query before
   * the exchange, so the shuffle is O(#partitions * #queries * k) no matter
   * the corpus size. Same output contract: sim desc, ties by c_id asc,
   * rank 1..k.
   */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk_agg(col("sim"), col("c_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.c_id").as("c_id"), col("t.sim").as("sim"),
        (col("pos") + 1).cast(IntegerType).as("rank"))

  /**
   * Brute-force top-k: for each query vector, the k nearest corpus vectors
   * by cosine (rounded for cross-engine determinism, tie-broken by id).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    Ids.requireIntegral(corpus, idCol, "bruteForceTopK")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(scored, k)
  }

  /**
   * Random-hyperplane sign bucket: `planes` md5-derived hyperplanes; bit p
   * is set when dot(v, plane_p) > 0. Equal buckets are ANN candidates.
   * plane_p[c] = +1 if the first hex digit of md5("p|c") is < '8' else -1.
   */
  private[graft] def signBucket(vec: Column, dim: Int, planes: Int = 8): Column = {
    val bits = (0 until planes).map { p =>
      val plane = (0 until dim).map(c => planeComponent(p, c).toDouble)
      // one zip_with/aggregate pass per plane beats a dim-wide expression
      // tree of element_at terms (O(dim) vs O(dim^2) positional lookups)
      val s = dot(vec, typedlit(plane))
      when(s > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast(LongType)
  }

  /** Deterministic +-1 hyperplane component (md5-derived, public recipe). */
  private[graft] def planeComponent(plane: Int, component: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane|$component".getBytes("UTF-8"))
    if ((digest(0) & 0x80) == 0) 1 else -1
  }

  /**
   * Johnson-Lindenstrauss random projection to `k` dimensions (Achlioptas
   * 2003: +-1 sign matrices satisfy the JL lemma): `rp_p = (1/sqrt(k)) *
   * dot(x, plane_p)`, rounded to 4 — the dimensionality-reduction step
   * before clustering/ANN when 64-dim is still too wide to shuffle.
   * Pairwise distances are preserved within ~1/sqrt(k) distortion in
   * expectation.
   *
   * The planes are the SAME md5-derived [[planeComponent]] hyperplanes
   * that [[signBucket]] uses, so `sign(rp_p)` IS bit p of the LSH bucket
   * — a projected corpus keeps its LSH geometry for free. Deterministic
   * and engine-reproducible (an oracle rebuilds the matrix from md5);
   * k codegen'd vec_dot kernels per row, zero shuffle.
   */
  def randomProjection(df: DataFrame, carryCols: Seq[String], vecCol: String,
      dim: Int, k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val scale = math.sqrt(k.toDouble)
    df.select(carryCols.map(col) ++ (0 until k).map { p =>
      val plane = (0 until dim).map(c => planeComponent(p, c).toDouble)
      round(dot(col(vecCol), typedlit(plane)) / scale, 4).as(s"rp$p")
    }: _*)
  }

  /**
   * Embedding-cosine near-duplicate pairs within blocks: the dedup-flavored
   * use of similarity — pairs above a cosine threshold, with a blocking
   * column bounding the pair space (at 100 TB, block on a cheap partition
   * key — cluster id, shard, label — then verify within blocks; the
   * unblocked variant is lshTopK/ivfTopK candidate generation).
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // norms once per vector, not once per pair (the pair space is the
    // square of the block size — per-pair work must be one dot product)
    val v = df.select(col(idCol).as("id"), col(blockCol).as("block"),
      col(vecCol).as("vec"))
      .withColumn("nrm", norm(col("vec")))
    val a = v.alias("a")
    val b = v.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("sim", round(
        dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): k-means clusters the embedding space, then within
   * each cluster every vector whose cosine to a SMALLER-id cluster member
   * reaches `threshold` is dropped — each semantic group keeps its min-id
   * representative. Returns the KEPT rows of `df`, all columns intact.
   *
   * Scale shape: training is bounded-sample (like IVF: one pass draws
   * it, [[graft.core.KMeans]] trains on the driver); assignment is one
   * scan; the within-cluster pair join is the only quadratic piece and it
   * is quadratic in CLUSTER size, not corpus size — size `nlist`
   * proportional to the corpus (the paper uses fixed-occupancy clusters)
   * to hold cluster occupancy constant, and the join cost stays linear in
   * the corpus. Identical vectors can never split across clusters (equal
   * distances resolve to the same argmin), so exact duplicates are always
   * caught; near-duplicates straddling a cluster boundary are missed —
   * the recall trade the paper accepts by design.
   *
   * Cosine comparisons are on `round(cosine, 4)` — the cross-engine
   * determinism contract every similarity operator here shares (float
   * vectors perturb by ~1e-7; 4 decimals is stable across engines). A
   * pair whose true cosine sits within 5e-5 BELOW `threshold` can round
   * up into the drop set: the threshold is a semantic knob with
   * 4-decimal resolution, not an exact cutoff.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, seed: Long = 42L,
      maxTrainRows: Long = 100000L): DataFrame = {
    // cluster L2-NORMALIZED embeddings (the paper's setup): the grouping
    // criterion is cosine, so same-direction vectors must be the same
    // point to k-means or a scale difference could split a dup group
    // across cells; zero vectors stay raw (no direction to normalize)
    val v = df.select(col(idCol).as("_sd_id"), col(vecCol).as("_sd_vec"))
      .withColumn("_sd_nrm0", norm(col("_sd_vec")))
      .withColumn("_sd_unit",
        when(col("_sd_nrm0") > 0,
          transform(col("_sd_vec"), x => x.cast(DoubleType) / col("_sd_nrm0")))
          .otherwise(col("_sd_vec").cast("array<double>")))
    val cents = graft.core.KMeans.train(
      trainSample(v, col("_sd_unit"), maxTrainRows, seed), nlist, seed)
    val assigned = v.select(col("_sd_id"), col("_sd_vec"),
      cellOf(col("_sd_unit"), cents).as("_sd_cluster"))
    // collapse EXACT duplicates first (one linear hash aggregation): a
    // non-min member m of an exact group has its representative r < m at
    // cosine 1.0 >= threshold, so m is dropped under the contract no
    // matter what else is in the cluster; and any sub-threshold witness
    // v < r is itself represented by v' <= v with the same vector — so
    // running the quadratic pair join on REPRESENTATIVES only yields
    // exactly the same survivor set. Mega-duplicate groups (the common
    // real-corpus shape) now cost one aggregation, not |group|^2 pairs.
    // reps feeds BOTH sides of the pair join AND the kept-set anti-join:
    // left lazy, the cell assignment + collapse aggregation would execute
    // three times (the r10 plan audit showed the pipeline planned 3x).
    // A LAZY truncation computes it once on first use and shares
    // the materialized partitions across the three scans — no extra
    // eager job (the operator is overhead-dominated at small corpora)
    // and no cache-manager entry accumulating per call the way persist()
    // would. Size is one row per distinct (cluster, vector) — at most
    // the corpus — spilling to executor disk when memory-pressured.
    // Without a checkpoint dir the truncated lineage lives in
    // non-replicated executor blocks (see Materialize).
    val reps = Materialize.truncate(assigned
      .groupBy(col("_sd_cluster"), col("_sd_vec"))
      .agg(min(col("_sd_id")).as("_sd_id"))
      .withColumn("_sd_nrm", norm(col("_sd_vec"))), eager = false)
    // a representative is dropped when ANY smaller-id same-cluster rep is
    // within the threshold; everything else (reps minus dropped) is kept
    val a = reps.alias("a")
    val b = reps.alias("b")
    val dropped = a.join(b,
        col("a._sd_cluster") === col("b._sd_cluster") &&
          col("b._sd_id") < col("a._sd_id"))
      .filter(round(dot(col("a._sd_vec"), col("b._sd_vec")) /
        (col("a._sd_nrm") * col("b._sd_nrm")), 4) >= threshold)
      .select(col("a._sd_id").as("_sd_id")).distinct()
    val kept = reps.select(col("_sd_id"))
      .join(dropped, Seq("_sd_id"), "left_anti")
    df.join(kept, df(idCol) === kept("_sd_id"), "left_semi")
  }

  /**
   * IVF (inverted-file) ANN: k-means partitions the corpus into nlist
   * cells; each query probes only the nprobe nearest cells. The classic
   * trade: train once (sampled at real scale), then every search touches
   * ~nprobe/nlist of the corpus. Centroids ride to executors as literal
   * arrays (nlist is small); assignment is one scan through the
   * codegen'd `pq_encode` kernel with the centroids as its one subspace.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L, maxTrainRows: Long = 100000L): DataFrame = {
    val (assigned, centroids) =
      ivfIndexFrames(corpus, idCol, vecCol, nlist, seed, maxTrainRows)
    ivfSearchIndex(queries, assigned, centroids, idCol, vecCol, k, nprobe)
  }

  /**
   * The persistable IVF index of a corpus, as two plain frames a 100 TB
   * deployment writes at ingest and every later query batch reads back
   * — no re-clustering, no training scan:
   *   - `assigned`: `(c_id, c_vec, bucket)` — the corpus partitioned
   *     into `nlist` cells (write it bucketed/partitioned BY `bucket`
   *     so probes prune the scan);
   *   - `centroids`: `(bucket, centroid array<double>)` — `nlist` rows.
   * Few k-means iterations suffice: cells only gate the candidate set,
   * exact cosine re-ranks inside them — centroid quality is not
   * precision. Training reads a BOUNDED sample ([[trainSample]], one
   * pass over the corpus) and iterates on the driver, never on the corpus.
   */
  def ivfIndexFrames(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L,
      maxTrainRows: Long = 100000L): (DataFrame, DataFrame) = {
    Ids.requireIntegral(corpus, idCol, "ivfIndexFrames")
    ivfIndex(corpus, trainSample(corpus, col(vecCol), maxTrainRows, seed),
      idCol, vecCol, nlist, seed)
  }

  /** [[ivfIndexFrames]] trained on an already drawn sample, so
    * [[ivfPqIndexFrames]] trains both models on one corpus pass. */
  private def ivfIndex(corpus: DataFrame, sample: Array[Array[Double]],
      idCol: String, vecCol: String, nlist: Int,
      seed: Long): (DataFrame, DataFrame) = {
    val cents = graft.core.KMeans.train(sample, nlist, seed)
    val assigned = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      cellOf(col(vecCol), cents).as("bucket"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = cents.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("bucket", "centroid")
    (assigned, centroids)
  }

  /** The cell of each row: the index of the nearest centroid, through the
    * codegen'd `pq_encode` kernel with the centroids as its one subspace
    * — the same [[graft.core.VecMath.nearest]] rule training used. */
  private def cellOf(vec: Column, cents: Array[Array[Double]]): Column =
    element_at(graft.functions.pq_encode(vec.cast("array<double>"),
      Seq(cents.toSeq.map(_.toSeq))), 1)

  /** Search a (possibly storage-round-tripped) [[ivfIndexFrames]] index:
    * the `nlist`-row centroid table collects to the driver (the same
    * footprint the in-memory model carried) and folds into plan-literal
    * probe expressions; the probe join against `assigned` is the only
    * corpus-sized work. Result is identical to [[ivfTopK]] on the same
    * index — pinned by the parquet round-trip spec. */
  def ivfSearchIndex(queries: DataFrame, assigned: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val cents = collectCentroids(centroids, "ivfSearchIndex")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val probes = cellProbes(q, cents, nprobe)
      .select(col("q_id"), col("q_vec"), col("bucket"))
    val scored = assigned.join(broadcast(probes), "bucket")
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(scored, k)
  }

  private def collectCentroids(centroids: DataFrame,
      caller: String): Seq[(Int, Seq[Double])] = {
    val cents = centroids
      .select(col("bucket").cast("int").as("b"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    require(cents.nonEmpty, s"$caller: empty centroid table")
    cents
  }

  /** Adds each query row's `nprobe` nearest cells as exploded `bucket`
    * rows, keeping every other column (per-query distances to all
    * centroids fold in as plan literals — nlist is small). */
  private def cellProbes(q: DataFrame, cents: Seq[(Int, Seq[Double])],
      nprobe: Int): DataFrame = {
    def l2sq(a: Column, centroid: Seq[Double]): Column =
      aggregate(zip_with(a, typedlit(centroid),
        (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
        lit(0.0), (acc, x) => acc + x)
    val cellDists = array(cents.map { case (b, cent) =>
      struct(l2sq(col("q_vec"), cent).as("d"), lit(b).as("b"))
    }: _*)
    q.withColumn("probe", explode(slice(array_sort(cellDists), 1, nprobe)))
      .withColumn("bucket", col("probe.b")).drop("probe")
  }

  /**
   * Scalar int8 quantization of an embedding: `scale = max|x| / 127`,
   * `q_i = round(x_i / scale)` ∈ [-127, 127] — 4x smaller vectors for
   * ANN candidate generation and shuffle/storage (store q + one float
   * scale; verify/re-rank in float). Round-trip error is bounded by
   * scale/2 per component. Zero vectors quantize to scale 0, q all 0.
   * Pure built-in Catalyst expressions (transform/aggregate), double
   * math with ties-away-from-zero rounding — deterministic and
   * engine-portable, so the contract is oracle-checkable.
   */
  def quantizeI8(vec: Column): Column = {
    val maxabs = array_max(transform(vec, x => abs(x.cast(DoubleType))))
    val scale = maxabs / lit(127.0)
    struct(
      scale.cast(FloatType).as("scale"),
      when(maxabs > 0,
        transform(vec, x => round(x.cast(DoubleType) / scale).cast(ByteType)))
        .otherwise(transform(vec, x => lit(0.toByte))).as("q"))
  }

  /** Inverse of quantizeI8: `q_i * scale` as float — the approximate
    * vector an int8 ANN stage scores against. */
  private[graft] def dequantI8(quantized: Column): Column =
    transform(quantized.getField("q"),
      q => (q.cast(DoubleType) * quantized.getField("scale").cast(DoubleType))
        .cast(FloatType))

  /**
   * Two-stage ANN with an int8-quantized coarse pass and an exact float
   * re-rank — the standard scalar-quantization serving shape:
   *
   *  1. COARSE: rank the quantized corpus (what a 100 TB deployment
   *     would persist — 4x smaller than float32, so the scan reads a
   *     quarter of the bytes) down to `refine` candidates per query via
   *     cosine over the dequantized vectors, pre-aggregated by the
   *     bounded-heap TopKAgg before any exchange.
   *  2. RE-RANK: only the `#queries * refine` surviving (q_id, c_id)
   *     pairs — a tiny relation, broadcast back against the
   *     full-precision corpus — are re-scored in float for the final
   *     top-k. The float vectors are touched for candidates only, never
   *     crossed with the whole query set.
   *
   * With `refine >= k` the result equals brute force whenever
   * quantization preserves enough order for the true top-k to survive
   * the coarse cut — guaranteed for separated clusters (quantized
   * round-trip error is <= scale/2 per component), probabilistic on
   * organic corpora (recall spec'd in OperatorsSpec). Output contract
   * matches bruteForceTopK: (q_id, c_id, sim, rank), sim the EXACT
   * rounded float cosine, ties by c_id asc.
   */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val cq = corpus.select(col(idCol).as("c_id"),
      quantizeI8(col(vecCol)).as("c_qz"))
    val coarse = cq.crossJoin(broadcast(q))
      .withColumn("sim", round(cosine(col("q_vec"), dequantI8(col("c_qz"))), 4))
    val cand = rankTopK(coarse, refine).select(col("q_id"), col("c_id"))
    val cfull = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    val rescored = cfull.join(broadcast(cand), "c_id")
      .join(broadcast(q), "q_id")
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(rescored, k)
  }

  /**
   * Product-quantization (PQ) index of a corpus — Jégou et al., "Product
   * Quantization for Nearest Neighbor Search" (TPAMI 2011) — as two plain
   * persistable frames, the 100 TB ANN shape where even int8 vectors are
   * too big to scan:
   *
   *   - `codes`: `(c_id, code array<int>, c_norm)` — each vector reduced
   *     to m sub-codeword indices plus its exact L2 norm. At m=8 that is
   *     ~12 bytes/vector against 256 for float32×64: the search scan
   *     reads ~4% of the bytes, and the float vectors are never touched
   *     until the final re-rank.
   *   - `codebooks`: `(sub, code, centroid array<double>)` — at most
   *     m*ksub rows, the driver-collectable model.
   *
   * Training draws one bounded sample ([[trainSample]], one corpus pass)
   * and splits each sampled vector into m contiguous dsub-dim
   * subvectors; each subspace trains on the driver with
   * [[graft.core.KMeans]]. A subspace with <= ksub DISTINCT subvectors
   * keeps one codeword per distinct value in lexicographic order
   * (quantization error exactly 0 — the property the planted-corpus
   * oracle exploits); a richer subspace gets seeded k-means codewords
   * (seed + subspace index). Either way codes are reproducible.
   *
   * Encoding is one scan through the codegen'd
   * [[graft.functions.pq_encode]] kernel — m*ksub*dsub multiply-adds per
   * row, codebook shipped as a plan-time reference object.
   */
  def pqIndexFrames(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 64, seed: Long = 42L,
      maxTrainRows: Long = 100000L): (DataFrame, DataFrame) = {
    Ids.requireIntegral(corpus, idCol, "pqIndexFrames")
    pqIndex(corpus, trainSample(corpus, col(vecCol), maxTrainRows, seed),
      idCol, vecCol, m, ksub, seed)
  }

  /** [[pqIndexFrames]] trained on an already drawn sample (see
    * [[ivfIndex]]). */
  private def pqIndex(corpus: DataFrame, sample: Array[Array[Double]],
      idCol: String, vecCol: String, m: Int, ksub: Int,
      seed: Long): (DataFrame, DataFrame) = {
    require(m >= 1 && ksub >= 1, s"need m >= 1 and ksub >= 1, got m=$m ksub=$ksub")
    require(sample.nonEmpty, "pqIndexFrames: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val dsub = dim / m
    val codebook = (0 until m).map { j =>
      graft.core.KMeans.train(sample.map(_.slice(j * dsub, (j + 1) * dsub)),
        ksub, seed + j).toSeq.map(_.toSeq)
    }
    val c = corpus.select(col(idCol).as("c_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
    val codes = c.select(col("c_id"),
      graft.functions.pq_encode(col("c_vec"), codebook).as("code"),
      sqrt(dot(col("c_vec"), col("c_vec"))).as("c_norm"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val codebooks = codebook.zipWithIndex.flatMap { case (words, j) =>
      words.zipWithIndex.map { case (w, k) => (j, k, w) }
    }.toDF("sub", "code", "centroid")
    (codes, codebooks)
  }

  /**
   * Asymmetric-distance (ADC) search over a (possibly storage-round-
   * tripped) [[pqIndexFrames]] index, with an exact float re-rank:
   *
   *  1. The `codebooks` table collects to the driver (<= m*ksub rows,
   *     the same footprint training held) and each query precomputes its
   *     LUT — dot(q_sub_j, codeword) for every (subspace, codeword) —
   *     through the codegen'd vec_dot kernel on the broadcast side.
   *  2. COARSE: the codes scan — the only corpus-sized work — scores
   *     adc = Σ_j lut[j][code_j] per (query, vector) with m element_at
   *     adds, cosine-normalizes by the stored norms, and reduces to
   *     `refine` candidates per query via the bounded-heap TopKAgg
   *     before any exchange.
   *  3. RE-RANK: only the #queries*refine survivors join back (broadcast)
   *     against the full-precision corpus for the exact rounded cosine
   *     — identical arithmetic to [[bruteForceTopK]], ties by c_id.
   *
   * When every subspace trained in exact mode (distinct subvectors <=
   * ksub covered by the sample), ADC equals exact cosine up to fp
   * regrouping, so coarse order matches the true order and the result
   * IS brute force — the planted-corpus guarantee. With k-means
   * codebooks the coarse pass is approximate and `refine` buys recall
   * (spec'd on organic data).
   */
  def pqSearchIndex(queries: DataFrame, codes: DataFrame,
      codebooks: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    val cb = collectCodebooks(codebooks, "pqSearchIndex")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val qlut = withAdcLut(q, cb)
    val coarse = codes.crossJoin(broadcast(qlut.select(col("q_id"),
        col("_lut"), col("_qn"))))
      .withColumn("sim", round(adcDot(cb.length) / (col("_qn") * col("c_norm")), 4))
    val cand = rankTopK(coarse, refine).select(col("q_id"), col("c_id"))
    exactRerank(q, cand, corpus, idCol, vecCol, k)
  }

  private def collectCodebooks(codebooks: DataFrame,
      caller: String): Seq[Seq[Seq[Double]]] = {
    val cb = codebooks
      .select(col("sub").cast("int"), col("code").cast("int"), col("centroid"))
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).toSeq.map(_.getSeq[Double](2)) }
    require(cb.nonEmpty, s"$caller: empty codebook table")
    cb
  }

  /** Adds the per-query ADC lookup table `_lut` (dot of each q subvector
    * against every codeword, via the codegen'd vec_dot on the broadcast
    * side) and the exact query norm `_qn`. */
  private def withAdcLut(q: DataFrame, cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = cb.length
    val dsubs = cb.map(_.head.length)
    val offsets = dsubs.scanLeft(0)(_ + _)
    q.withColumn("_lut", array((0 until m).map { j =>
      array(cb(j).map { cent =>
        dot(slice(col("q_vec").cast("array<double>"),
          offsets(j) + 1, dsubs(j)), typedlit(cent))
      }: _*)
    }: _*)).withColumn("_qn", sqrt(dot(col("q_vec"), col("q_vec"))))
  }

  /** ADC approximate dot: sum over subspaces of lut[j][code_j] — m
    * codegen'd element_at adds per scored row. */
  private def adcDot(m: Int): Column = (0 until m).map { j =>
    element_at(element_at(col("_lut"), j + 1),
      element_at(col("code"), j + 1) + 1)
  }.reduce(_ + _)

  /** Exact float re-rank of the (q_id, c_id) candidate set — identical
    * arithmetic to [[bruteForceTopK]], candidates broadcast so the
    * full-precision corpus is touched by one pruning join only. */
  private def exactRerank(q: DataFrame, cand: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cfull = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    val rescored = cfull.join(broadcast(cand), "c_id")
      .join(broadcast(q), "q_id")
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(rescored, k)
  }

  /** Train-encode-search in one call: [[pqIndexFrames]] +
    * [[pqSearchIndex]]. `refine < 0` defaults to `max(4*k, 20)`. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int = -1, m: Int = 8,
      ksub: Int = 64, seed: Long = 42L,
      maxTrainRows: Long = 100000L): DataFrame = {
    val r = if (refine < 0) math.max(4 * k, 20) else refine
    val (codes, cbs) = pqIndexFrames(corpus, idCol, vecCol, m, ksub,
      seed, maxTrainRows)
    pqSearchIndex(queries, codes, cbs, corpus, idCol, vecCol, k, r)
  }

  /**
   * IVF+PQ composition (the FAISS IVFPQ serving shape, on raw vectors
   * rather than cell residuals — the same codes table then serves both
   * the global PQ scan and the cell-pruned one): the index is ONE frame
   * `(c_id, bucket, code, c_norm)` — ~16 bytes/vector — plus the two
   * driver-collectable model tables. Search probes `nprobe` cells and
   * ADC-scores ONLY those cells' codes: the coarse scan reads
   * ~nprobe/nlist of an already ~20x-smaller-than-float table, then the
   * usual exact float re-rank on `refine` survivors. Build cost is two
   * corpus scans (cell assignment + encode) and one build-time join —
   * paid once at ingest, like [[Bucketing]]'s write-side shuffle; write
   * `index` partitioned by `bucket` so probes prune the storage scan.
   */
  private[graft] def ivfPqIndexFrames(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 64, seed: Long = 42L,
      maxTrainRows: Long = 100000L): (DataFrame, DataFrame, DataFrame) = {
    // ONE training sample serves both trainings: it is the same rows
    // either unshared form would draw, so the models are identical and
    // the corpus runs once for training, not twice
    Ids.requireIntegral(corpus, idCol, "ivfPqIndexFrames")
    val sample = trainSample(corpus, col(vecCol), maxTrainRows, seed)
    val (assigned, centroids) = ivfIndex(corpus, sample, idCol, vecCol, nlist, seed)
    val (codes, codebooks) = pqIndex(corpus, sample, idCol, vecCol, m, ksub, seed)
    val index = assigned.select(col("c_id"), col("bucket")).join(codes, "c_id")
    (index, centroids, codebooks)
  }

  /** Cell-pruned ADC search over an [[ivfPqIndexFrames]] index (possibly
    * storage-round-tripped) + exact float re-rank. Exactness composes:
    * when the planted corpus gives IVF probing recall 1 AND every PQ
    * subspace trained in exact mode, the coarse candidate set contains
    * the true top-k and the re-rank IS brute force. */
  private[graft] def ivfPqSearchIndex(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int,
      nprobe: Int = 4): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    val cb = collectCodebooks(codebooks, "ivfPqSearchIndex")
    val cents = collectCentroids(centroids, "ivfPqSearchIndex")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val qp = cellProbes(withAdcLut(q, cb), cents, nprobe)
      .select(col("q_id"), col("_lut"), col("_qn"), col("bucket"))
    val coarse = index.join(broadcast(qp), "bucket")
      .withColumn("sim", round(adcDot(cb.length) / (col("_qn") * col("c_norm")), 4))
    val cand = rankTopK(coarse, refine).select(col("q_id"), col("c_id"))
    exactRerank(q, cand, corpus, idCol, vecCol, k)
  }

  /** Train-encode-search in one call: [[ivfPqIndexFrames]] +
    * [[ivfPqSearchIndex]]. `refine < 0` defaults to `max(4*k, 20)`. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int = -1, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, ksub: Int = 64, seed: Long = 42L,
      maxTrainRows: Long = 100000L): DataFrame = {
    val r = if (refine < 0) math.max(4 * k, 20) else refine
    val (index, cents, cbs) = ivfPqIndexFrames(corpus, idCol, vecCol,
      nlist, m, ksub, seed, maxTrainRows)
    ivfPqSearchIndex(queries, index, cents, cbs, corpus, idCol, vecCol,
      k, r, nprobe)
  }

  /**
   * Bounded k-means training sample, collected to the driver: the
   * `min(n, maxTrainRows)` rows with the smallest `xxhash64(seed, vec)`,
   * ties broken by the vector. One job: each partition keeps its bounded
   * top-k, the tops shuffle to ONE partition and merge there, so a lazy
   * multi-stage input runs once and the driver receives at most
   * `maxTrainRows` rows however many partitions the input has (the
   * shape of `TakeOrderedAndProjectExec.execute`; `RDD.takeOrdered`
   * would ship every partition's top-k to the driver). The cap is exact,
   * and the rows depend on the seed and the data only, not on
   * partitioning. (An `orderBy(...).limit(...)` would be the same job,
   * but the optimizer drops a limit its input provably fits under, and
   * the global sort left behind runs the input twice.)
   */
  private def trainSample(df: DataFrame, vec: Column,
      maxTrainRows: Long, seed: Long): Array[Array[Double]] = {
    require(maxTrainRows > 0 && maxTrainRows <= Int.MaxValue,
      s"maxTrainRows must be in 1..${Int.MaxValue}: $maxTrainRows")
    val spark = df.sparkSession
    import spark.implicits._
    val v = vec.cast("array<double>")
    val byHash = Ordering.by[(Long, Array[Double]), Long](_._1)
      .orElseBy(_._2)(graft.core.KMeans.lexicographic)
    val cap = maxTrainRows.toInt
    val tops = df.select(xxhash64(lit(seed), v), v).as[(Long, Array[Double])]
      .rdd.mapPartitions(rows => smallest(rows, cap, byHash))
    val merged = if (tops.getNumPartitions <= 1) tops
      else tops.repartition(1).mapPartitions(rows => smallest(rows, cap, byHash))
    merged.collect().map(_._2)
  }

  /** The `k` smallest of `rows` under `ord`, ascending; holds at most `k`. */
  private def smallest[T](rows: Iterator[T], k: Int, ord: Ordering[T]): Iterator[T] = {
    val heap = new java.util.PriorityQueue[T](ord.reverse) // largest kept on top
    rows.foreach { r =>
      if (heap.size < k) heap.add(r)
      else if (ord.lt(r, heap.peek())) { heap.poll(); heap.add(r) }
    }
    import scala.jdk.CollectionConverters._
    heap.asScala.toSeq.sorted(ord).iterator
  }

  /**
   * Planted validation corpus for ANN oracle-by-construction: embeddings
   * derived purely from the row id so the true top-k is analytically
   * known and recall is provably 1 for both ANN variants.
   *
   *   id < 10 (queries):  one-hot axis `id`.
   *   id >= 10 (corpus):  cluster g = id % 10, ring position
   *     r = (id-10)/10, angle theta = 0.1 * min(r, 4) in the plane
   *     spanned by axes (g, 20+g):  [cos theta] e_g + [sin theta] e_{20+g}.
   *
   * Properties that make the answer exact:
   *  - clusters live on ORTHOGONAL axis pairs, so cross-cluster cosine is
   *    exactly 0 and each query's positive-similarity candidates are its
   *    own cluster only;
   *  - within a cluster, cosine(q_g, c) = cos(theta) is strictly
   *    decreasing over r = 0..4 and constant after (ties broken by c_id,
   *    the ranker's pinned tie order), so top-5 = c in {10+g .. 50+g}
   *    with sims [1, cos .1, cos .2, cos .3, cos .4];
   *  - every cluster member sits within 0.4 rad (< pi/4) of its query, so
   *    for ANY +-1 hyperplane h, sign(h . c) = sign(h . q): the whole
   *    cluster shares the query's LSH sign bucket — recall 1 by a margin
   *    argument, not by luck;
   *  - all angles sit >= 1e-5 from a round(.,4) boundary while float32
   *    storage perturbs them by <= ~1e-7, so Spark (float vectors) and an
   *    oracle computing cos(theta) in doubles round identically.
   */
  def plantedClusterVector(id: Column, dim: Int = 64): Column = {
    require(dim >= 30, s"need axes 0..29, got dim=$dim")
    val isQuery = id < 10
    val g = when(isQuery, id).otherwise(id % 10).cast(IntegerType)
    val theta = when(isQuery, lit(0.0))
      .otherwise(lit(0.1) * least(floor((id - 10) / 10).cast(DoubleType), lit(4.0)))
    // one small 3-branch lambda over a sequence, NOT dim separate case
    // expressions — keeps the generated code constant-size in dim
    transform(sequence(lit(0), lit(dim - 1)), i =>
      when(i === g, cos(theta))
        .when(i === g + 20, sin(theta))
        .otherwise(lit(0.0)).cast(FloatType))
  }

  /**
   * LSH-bucketed ANN: group corpus by sign bucket, search each query only
   * in its own bucket. Recall < 1 by construction; the bucket join replaces
   * the cross join, so cost is O(corpus/2^planes) per query.
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, planes: Int = 8): DataFrame = {
    Ids.requireIntegral(corpus, idCol, "lshTopK")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      signBucket(col(vecCol), dim, planes).as("bucket"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      signBucket(col(vecCol), dim, planes).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    rankTopK(scored, k)
  }

  /**
   * Per-group mean embedding (class centroids / per-source embedding
   * profiles / drift baselines), long-form output:
   * (labelCol, pos 1-based, centroid = round(mean, 4), n).
   *
   * ONE exchange via the bounded-state [[graft.functions.VecSumAgg]]:
   * each input partition reduces every group to a single dim-double sum
   * vector before the shuffle. The textbook posexplode ->
   * groupBy(label, pos) -> avg form shuffles dim× the corpus row count —
   * at 100 TB that is the difference between exchanging kilobytes per
   * partition and exchanging 64× the table. The long (label, pos) output
   * shape is chosen for the oracle hash; `groupBy(pos)`-free consumers
   * can collect_list it back into vectors.
   */
  def labelCentroids(embs: DataFrame, labelCol: String, vecCol: String): DataFrame =
    embs.groupBy(col(labelCol))
      .agg(graft.functions.VecSumAgg.vec_sum_agg(col(vecCol)).as("_vs"))
      .select(col(labelCol), col("_vs.n").as("n"),
        posexplode(col("_vs.sums")).as(Seq("_pos", "_sum")))
      .select(col(labelCol),
        (col("_pos") + 1).cast(LongType).as("pos"),
        round(col("_sum") / col("n"), 4).as("centroid"),
        col("n").as("n"))

  /**
   * Embedding outliers by cosine-to-own-centroid — the standard "does
   * this vector belong to its labeled cluster" screen (mislabeled or
   * corrupted embeddings score low against their class mean and get
   * flagged before training).
   *
   * Cosine is scale-invariant, so the UN-normalized [[graft.functions.VecSumAgg]]
   * sum vector IS the centroid direction — no per-element division, and
   * the oracle reproduces the exact same arithmetic from its own per-pos
   * sums. Two stages at any corpus size: one bounded-state aggregation
   * (dim-double sums per label, merged map-side), then the #labels-row
   * sum table broadcast back onto the scan — the corpus rows themselves
   * never shuffle.
   *
   * The centroid includes the scored point itself (the usual bulk-screen
   * form; at corpus scale one vector's contribution to its class mean is
   * noise). `is_outlier` compares the ROUNDED cosine so the flag is a
   * pure function of the hash-checked `sim_centroid` value.
   *
   * Output: (idCol, labelCol, n_label, sim_centroid, is_outlier).
   */
  def centroidOutliers(embs: DataFrame, idCol: String, labelCol: String,
      vecCol: String, simThreshold: Double): DataFrame = {
    val sums = embs.groupBy(col(labelCol))
      .agg(graft.functions.VecSumAgg.vec_sum_agg(col(vecCol)).as("_vs"))
      .select(col(labelCol), col("_vs.sums").as("_csum"),
        col("_vs.n").as("n_label"))
    embs.join(broadcast(sums), labelCol)
      .select(col(idCol), col(labelCol), col("n_label"),
        round(cosine(col(vecCol), col("_csum")), 4).as("sim_centroid"))
      .withColumn("is_outlier", col("sim_centroid") < simThreshold)
  }
}
