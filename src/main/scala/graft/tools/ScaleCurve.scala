package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.{Curate, Dedup, Similarity}

/**
 * Empirical scale curve for the five headline dedup/pack/ANN queries: run
 * each at a base size and at `factor`× the base, report wall seconds and
 * the scaling exponent log(t_big/t_base)/log(factor). Linear operators
 * read ~1.0; anything structurally super-linear shows up immediately.
 *
 * The corpora keep DENSITY constant while size grows (the property a real
 * 100 TB corpus has): the DedupSoak document generator plants one near-dup
 * per 50 docs from a fixed vocabulary, and the AnnSoak embedding generator
 * draws from 1000 cluster centers — so pair/candidate OUTPUT grows
 * linearly with input, never quadratically.
 *
 *   sbt "runMain graft.tools.ScaleCurve 50000 10"
 */
object ScaleCurve {

  /** DedupSoak's corpus (80 words/doc, near-dup every 50th) plus the
    * `source` blocking column the dedup_ngram query uses. */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val docSeed = when(col("id") % 50 === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    val words = transform(sequence(lit(0), lit(79)), i =>
      concat(lit("w"), pmod(xxhash64(docSeed * 128 + i), lit(1000))))
    val firstWord = when(col("id") % 50 === 0 && col("id") > 0,
      concat(lit("CHANGED"), col("id"))).otherwise(element_at(words, 1))
    // block assignment must keep each planted pair (id-1, id) in ONE
    // block — (id+1)/50 maps both sides of a pair to the same value
    spark.range(n).select(col("id").as("doc_id"),
      pmod(floor((col("id") + 1) / 50), lit(20)).cast("string").as("source"),
      concat_ws(" ", array_prepend(slice(words, 2, 79), firstWord)).as("text"))
  }

  /** Clustered 64-dim vectors: md5-free center-plus-noise construction
    * shared by both embedding corpora — `center` picks the cluster id
    * expression, `noiseDiv` scales the per-vector perturbation. */
  private def clusteredVecs(spark: SparkSession, n: Long, center: Column,
      noiseDiv: Double): DataFrame = {
    val vec = transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(center * 64 + i), lit(1000)).cast("double") / 1000.0 - 0.5) +
        pmod(xxhash64(col("id") * 64 + i), lit(100)).cast("double") / noiseDiv)
        .cast("float"))
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
  }

  /** Constant-DENSITY semantic-dedup corpus: one 8-member near-dup group
    * per 8 ids (centers grow with n, group size fixed — the shape a real
    * dedup corpus has), noise small enough that within-group cosine
    * clears 0.9 and cross-group cosine (random 64-dim directions,
    * concentration ~N(0, 1/64)) never does. */
  private def semVecs(spark: SparkSession, n: Long): DataFrame =
    clusteredVecs(spark, n, floor(col("id") / 8), noiseDiv = 20000.0)

  /** AnnSoak's clustered 64-dim vectors (1000 centers + per-vector noise). */
  private def vecs(spark: SparkSession, n: Long): DataFrame =
    clusteredVecs(spark, n, pmod(col("id"), lit(1000)), noiseDiv = 2000.0)

  /** ~n distinct doubles — the shape that makes the EXACT equi-height
    * boundary pass hold corpus-sized percentile state. */
  private def histCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      (pmod(xxhash64(col("id")), lit(1000000)).cast("double") / 7.0).as("v"))

  /** Z-clustered lakehouse layout for `n` rows (1000-value key `k` x
    * monotone time `t`, 32 files + manifest), written once per size; the
    * timed bodies' min-of-2 means the write (first pass only) never
    * lands in the reported seconds. */
  private val lakehouseWritten = scala.collection.mutable.Set.empty[Long]
  private def lakehousePath(spark: SparkSession, n: Long): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-scale-lh-$n"
    if (!lakehouseWritten.contains(n)) {
      // ~120-byte payload: the consuming aggregate reads it, so scan
      // seconds track BYTES TOUCHED — the quantity file skipping saves —
      // rather than the per-job fixed cost a 2-column count would measure
      val d = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(1000)).as("k"),
        col("id").as("t"),
        concat_ws("", transform(sequence(lit(0), lit(14)), i =>
          hex(xxhash64(col("id") * 16 + i)))).as("payload"))
      graft.operators.Lakehouse.writeClustered(d, path, Seq("k", "t"),
        files = 32)
      lakehouseWritten += n
    }
    path
  }

  /** A PRIVATE lakehouse copy for the mutation curve: upserts change the
    * layout run-to-run, so the read-path entries must not share it. */
  private val lakehouseUpsWritten = scala.collection.mutable.Set.empty[Long]
  /** Fresh 1000-key band per measured run (see the entry's comment). */
  private val lakehouseUpsBand = new java.util.concurrent.atomic.AtomicInteger(0)
  private def lakehouseUpsertPath(spark: SparkSession, n: Long): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-scale-lhu-$n"
    if (!lakehouseUpsWritten.contains(n)) {
      val d = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(1000)).as("k"),
        col("id").as("t"),
        concat_ws("", transform(sequence(lit(0), lit(14)), i =>
          hex(xxhash64(col("id") * 16 + i)))).as("payload"))
      graft.operators.Lakehouse.writeClustered(d, path, Seq("k", "t"),
        files = 32)
      lakehouseUpsWritten += n
    }
    path
  }

  /** A third private copy for the SHUFFLE-side mutation curve — the two
    * upsert entries must not share a table: each run adds postimage
    * files, and cross-entry interleaving would drift the probe cost the
    * other entry measures. */
  private val lakehouseUplWritten = scala.collection.mutable.Set.empty[Long]
  private val lakehouseUplBand = new java.util.concurrent.atomic.AtomicInteger(0)
  private def lakehouseUplPath(spark: SparkSession, n: Long): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-scale-lhl-$n"
    if (!lakehouseUplWritten.contains(n)) {
      val d = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(1000)).as("k"),
        col("id").as("t"),
        concat_ws("", transform(sequence(lit(0), lit(14)), i =>
          hex(xxhash64(col("id") * 16 + i)))).as("payload"))
      graft.operators.Lakehouse.writeClustered(d, path, Seq("k", "t"),
        files = 32)
      lakehouseUplWritten += n
    }
    path
  }

  /** min-of-2 wall time: a single measurement at this runtime length is
    * hostage to one unlucky full GC or JIT recompilation — the r9 curve
    * and a r10 re-run disagreed 2x on single-shot points while their
    * minima agreed. Two passes bound that noise without tripling cost. */
  private def time(body: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    for (_ <- 1 to 2) {
      val t0 = System.nanoTime()
      rows = body
      val t = (System.nanoTime() - t0) / 1e9
      if (t < best) best = t
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0).toLong else 50000L
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // identical shapes to the SparkEntry bench queries, corpus swapped
    val queries: Seq[(String, Long => Long)] = Seq(
      "dedup_minhash_lsh" -> { n =>
        Dedup.minhashLshPairs(docs(spark, n), "doc_id", "text",
          bands = 4, rowsPerBand = 2, threshold = 0.8).count()
      },
      "dedup_ngram" -> { n =>
        Dedup.ngramJaccardPairs(docs(spark, n), "doc_id", "text", "source",
          0.5, maxDf = 100).count()
      },
      "dedup_clusters" -> { n =>
        // isolate the clustering: pairs are precomputed and pinned so the
        // measured time is the clustering, not the LSH front half
        val pairs = graft.core.Materialize.truncate(Dedup.minhashLshPairs(
          docs(spark, n), "doc_id", "text", bands = 4, rowsPerBand = 2, threshold = 0.8))
        Dedup.dupClusters(pairs).count()
      },
      "corpus_pack" -> { n =>
        Curate.packBlocks(docs(spark, n), "doc_id", "text",
          blockTokens = 2048L).count()
      },
      "embed_ivf_topk" -> { n =>
        val e = vecs(spark, n * 4) // embeddings outnumber docs in the testdata
        Similarity.ivfTopK(e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10), "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = 3).count()
      },
      "embed_pq_topk" -> { n =>
        // k-means codebooks train on the driver over a bounded sample
        // (one sample pass, fixed training cost at any n); the clock then
        // measures the ENCODE scan
        // (n*m*ksub*dsub madds, linear) + the codes-table ADC scan
        val e = vecs(spark, n * 4)
        Similarity.pqTopK(e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10), "vec_id", "embedding",
          k = 5, refine = 50, m = 8, ksub = 64).count()
      },
      "embed_ivfpq_topk" -> { n =>
        // the composed index: cell assignment + encode + build join are
        // the linear build cost; the coarse search reads ~nprobe/nlist of
        // the codes table — the exponent shows build dominating at these
        // sizes while staying linear
        val e = vecs(spark, n * 4)
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10), "vec_id", "embedding",
          k = 5, refine = 50, nlist = 8, nprobe = 3, m = 8, ksub = 64).count()
      },
      "dedup_containment" -> { n =>
        // same engine and df-cap bound as dedup_ngram, asymmetric measure
        Dedup.containmentPairs(docs(spark, n), "doc_id", "text", "source",
          0.6, maxDf = 100).count()
      },
      "asof_join" -> { n =>
        // event-shaped: n left rows as-of n/10 right rows over n/500 keys
        // (constant per-key density as n grows, like a real event stream)
        val left = spark.range(n).select(col("id"),
          pmod(col("id"), lit(math.max(1L, n / 500))).as("k"),
          pmod(xxhash64(col("id")), lit(1000000L)).as("t"))
        val right = spark.range(n / 10).select(col("id").as("rid"),
          pmod(col("id") * 7, lit(math.max(1L, n / 500))).as("k"),
          pmod(xxhash64(col("id") + 1), lit(1000000L)).as("rt"))
        // count the CARRIED payload, not the rows: asofJoin is left-row-
        // preserving, so .count() lets ColumnPruning drop the window (and
        // its exchange+sort) entirely — the r10 curve timed the union, not
        // the join. count(asof_rid) forces the carry-forward to run.
        graft.operators.TemporalJoin.asofJoin(left, right, Seq("k"), "t", "rt",
          rightCols = Seq("rid"), tiebreakCols = Seq("rid"))
          .agg(count(col("asof_rid"))).head().getLong(0)
      },
      "interval_join" -> { n =>
        // constant density: point times uniform over [0, n), intervals
        // cover a fixed span of 100 — matches per interval stay ~100 as n
        // grows, output is ~10n rows. The bin equi-join + residual must
        // scale with points + interval-replicas, both linear here.
        val pts = spark.range(n).select(col("id").as("pid"),
          pmod(xxhash64(col("id")), lit(n)).as("t"))
        val iv = spark.range(n / 10).select(col("id").as("iid"),
          pmod(xxhash64(col("id") * 31), lit(n)).as("s"))
          .withColumn("e", col("s") + lit(100))
        graft.operators.TemporalJoin.intervalJoin(iv, pts, "s", "e", "t",
          keyCols = Nil, binWidth = 100).count()
      },
      "sessionize" -> { n =>
        // event-shaped: n events over n/500 users (events-per-user
        // constant at 500 as n grows, like a real fleet). The native
        // session_window agg is one keyed shuffle + sorted aggregation;
        // sum(n_events) consumes the result so nothing prunes.
        val ev = spark.range(n).select(col("id").as("event_id"),
          pmod(col("id"), lit(math.max(1L, n / 500))).as("user_id"),
          (pmod(xxhash64(col("id")), lit(1000000L)) * 1000L).as("ts"))
        graft.streaming.Sessionize.sessionizeWindows(ev, gapMicros = 1000000L)
          .agg(sum(col("n_events"))).head().getLong(0)
      },
      "entity_resolve" -> { n =>
        // constant-density record linkage: n records over n/100 distinct
        // names, 10 name-variants per 4-hex-char prefix block and the
        // BLOCK COUNT (n/1000) growing with n — per-block comparison work
        // stays a constant 45 thresholded-levenshtein calls, so the whole
        // distinct -> block -> pair -> cluster chain must scale linearly.
        val names = spark.range(n).select(concat(
          format_string("%04x", pmod(xxhash64(col("id")), lit(math.max(1L, n / 1000)))),
          lit("_v"), pmod(xxhash64(col("id") * 3), lit(10))).as("name"))
        graft.operators.Entity.resolveEntities(names, "name", blockPrefix = 4)
          .count()
      },
      "dedup_semantic" -> { n =>
        // nlist grows with n (constant ~1000-vector cluster occupancy —
        // the paper's fixed-occupancy setup), so the within-cluster pair
        // join stays linear; training is capped at a 20k sample so the
        // driver-side k-means never iterates over the corpus. The honest
        // super-linear remainder is the assignment pass (n*k distance
        // evals, k ∝ n) — tiny at these sizes, and the term a two-level
        // coarse quantizer would remove at true 100 TB.
        graft.operators.Similarity.semanticDedup(semVecs(spark, n),
          "vec_id", "embedding", threshold = 0.9,
          nlist = math.max(8, (n / 1000).toInt), maxTrainRows = 20000).count()
      },
      "segment_dedup" -> { n =>
        // consume BOTH outputs (rewritten text length + kept counts) so
        // neither the reassembly string_agg nor the window is pruned;
        // duplicate density is constant (1 near-dup per 50 docs), so
        // erased segments grow linearly with the corpus
        Dedup.segmentDedup(docs(spark, n), "doc_id", "text", segTokens = 8)
          .agg(sum(length(col("text"))), sum(col("n_kept"))).head().getLong(1)
      },
      "pagerank" -> { n =>
        // constant-degree bipartite graph: n edges, n/50 left nodes,
        // n/500 right nodes — per-iteration join+agg must scale with
        // edges. sum(r) consumes the rank column so no iteration prunes
        val e = spark.range(n).select(
          concat(lit("c"), pmod(col("id"), lit(math.max(1L, n / 50)))).as("src"),
          concat(lit("s"), pmod(col("id") * 7 + 3, lit(math.max(1L, n / 500)))).as("dst"))
        graft.operators.Graph.pageRank(e, "src", "dst",
          iterations = 5, symmetrize = true)
          .agg(sum(col("r"))).head().getDouble(0).round
      },
      "source_overlap" -> { n =>
        // 20 sources at any n: per-shingle source-set state is bounded
        // while the shingle stream grows linearly; sum(n_common)
        // consumes the pair aggregation so nothing prunes
        Curate.sourceOverlap(docs(spark, n), "source", "text")
          .agg(sum(col("n_common"))).head().getLong(0)
      },
      "classify_nb" -> { n =>
        // 20 classes; vocabulary grows ~n/250 (the planted CHANGED
        // tokens) — the realistic open-vocabulary regime for the
        // (label, word) table; sum(score) consumes the argmax so every
        // stage (two count jobs included) is on the clock
        val d = docs(spark, n)
        graft.operators.Classify.naiveBayes(d,
          d.filter(col("doc_id") % 5 === 0), "doc_id", "text", "source")
          .agg(sum(col("score"))).head().getDouble(0).round
      },
      "decontaminate_bloom" -> { n =>
        // eval = the first 20 generator docs, so corpus ids 0..19 are
        // exact copies: ~20 contaminated docs at ANY corpus size (plus
        // planted near-dup shingle overlap). The bloom prunes the clean
        // remainder in the scan stage — the exponent shows the clean-
        // corpus fast path staying linear with a small constant while
        // the verify join's input stays O(contaminated), not O(n).
        Curate.decontaminateBloom(docs(spark, n), docs(spark, 20),
          "doc_id", "text", n = 3, numBits = 1 << 20, numHashes = 5).count()
      },
      "bm25" -> { n =>
        // three vocab terms; cost = one stats pass + one scoring scan +
        // a k-bounded heap exchange — structurally two linear scans.
        // count() is safe here (unlike the old heavy_ngrams trap): the
        // counted rows come from exploding the heap output, so the
        // aggregate is referenced and cannot be pruned away
        graft.operators.Search.bm25TopK(docs(spark, n), "doc_id", "text",
          terms = Seq("w17", "w42", "w7"), k = 20).count()
      },
      "heavy_ngrams" -> { n =>
        import graft.functions.FreqAgg.topk_freq
        // the sketch capacity stays FIXED while the corpus grows — the
        // exponent shows the bounded-memory property directly
        docs(spark, n)
          .withColumn("_w", graft.operators.TextAnalysis.tokens(col("text")))
          .select(explode(expr(
            "filter(transform(_w, (x, i) -> IF(i + 2 < size(_w), " +
              "concat(x, ' ', _w[i+1], ' ', _w[i+2]), NULL)), g -> g IS NOT NULL)"
          )).as("gram"))
          // consume the sketch OUTPUT: agg(...).count() lets Catalyst drop
          // the unreferenced aggregate expression, so the r10 curve timed
          // tokenization+explode only — exploding the top-k array forces
          // the Misra-Gries update path
          .agg(topk_freq(col("gram"), 4096, 20).as("top"))
          .select(explode(col("top"))).count()
      },
      "triangles" -> { n =>
        // constant-degree random graph: n edges over n/50 nodes (~100
        // average degree at any n) — oriented out-degrees stay bounded,
        // so adjacency lists and per-edge intersection work are constant
        // per node and the census must scale linearly with edges
        val e = spark.range(n).select(
          pmod(xxhash64(col("id")), lit(math.max(2L, n / 50))).as("a"),
          pmod(xxhash64(col("id") * 7 + 1), lit(math.max(2L, n / 50))).as("b"))
        graft.operators.Graph.triangleStats(e, "a", "b")
          .head().getAs[Long]("n_triangles")
      },
      "funnel" -> { n =>
        // n events over n/500 users, three stage types round-robin —
        // entrants grow with users, per-stage join inputs stay linear;
        // sum(stages_reached) consumes every stage column
        val ev = spark.range(n).select(col("id"),
          pmod(col("id"), lit(math.max(1L, n / 500))).as("user_id"),
          pmod(xxhash64(col("id")), lit(1000000L)).as("ts"),
          element_at(array(lit("A"), lit("B"), lit("C")),
            (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"))
        graft.operators.Funnel.funnel(ev, "user_id", "ts", "event_type",
            Seq("A", "B", "C"), windowMicros = 1000000L)
          .agg(sum(col("stages_reached"))).head().getLong(0)
      },
      "cdc_compact" -> { n =>
        // n-version changelog over n/100 keys: the map-side max_by must
        // keep the exchange at O(keys × partitions) whatever the version
        // count — wall time scales with the scan, not the shuffle
        val log = spark.range(n).select(col("id"),
          pmod(col("id"), lit(math.max(1L, n / 100))).as("k"),
          xxhash64(col("id")).as("payload"))
        graft.operators.Cdc.latestByKey(log, Seq("k"), "id").count()
      },
      "histogram_eq_exact" -> { n =>
        // the scaling hazard the sampled form exists to avoid: exact
        // percentile() state grows with the DISTINCT-value count (~n
        // here) — its exponent should read visibly above the sampled
        // twin's as the boundary state stops fitting cheap aggregation
        graft.operators.Profile.equiHeightHistogram(
            histCorpus(spark, n), "v", bins = 4)
          .agg(sum(col("n"))).head().getLong(0)
      },
      "histogram_eq_sampled" -> { n =>
        // the 100 TB path: boundary state bounded by the 5% md5 sample,
        // wall time by the scan — exponent ~linear at any corpus size
        graft.operators.Profile.equiHeightHistogramSampled(
            histCorpus(spark, n), "v", "id", bins = 4, keepPerMille = 50)
          .agg(sum(col("n"))).head().getLong(0)
      },
      // manifest-pruned read over a 10% key range: wall time = the
      // manifest replay's fixed #files-row planning cost + a scan of the
      // SELECTED bytes only, so the exponent stays well under the ~0.5
      // a local[32] full-table scan reads at these sizes. (A wall-clock
      // fullscan TWIN is deliberately absent: at 32 local files of one
      // row group each, parquet's own row-group stats give a z-ordered
      // full scan nearly the same skipping, and the A/B gap measured
      // below run-to-run noise. The files-opened effect — the thing that
      // matters at millions of files, where listing+footers dominate —
      // is pinned exactly in OperatorsSpec instead.)
      "lakehouse_prune" -> { n =>
        graft.operators.Lakehouse.prunedRead(spark,
            lakehousePath(spark, n * 20), "k", 0, 99)
          .agg(sum(length(col("payload")))).head().getLong(0)
      },
      // COW mutation cost: a FIXED 1000-key upsert (keyed on clustered
      // t, probe pruned to the t-band) against tables of n and 10n rows.
      // Cost = the pruned probe + rewriting the AFFECTED files only —
      // affected-file bytes grow with n/32 at fixed file count, so the
      // exponent sits well under 1 but above the prune curve's; the
      // 100 TB claim is "mutation pays for affected bytes, not the
      // table". Each run takes a FRESH untouched t-band: re-running the
      // same band would find the prior run's tiny postimage files and
      // measure a degenerate O(1) rewrite on the second (min-of-2) pass
      // instead of the n-proportional affected-file cost.
      "lakehouse_upsert_pruned" -> { n =>
        val path = lakehouseUpsertPath(spark, n * 20)
        val lo = lakehouseUpsBand.getAndIncrement() * 1000L
        val ups = spark.range(lo, lo + 1000).select(
          pmod(xxhash64(col("id")), lit(1000)).as("k"),
          col("id").as("t"),
          concat_ws("", transform(sequence(lit(0), lit(14)), i =>
            hex(xxhash64(col("id") * 16 + i + 7)))).as("payload"))
        val (_, repl, tot) = graft.operators.Lakehouse.upsertByKey(spark,
          path, ups, Seq("t"), files = 4,
          pruneRanges = Seq(("t", lo, lo + 999)))
        repl + tot
      },
      // the SAME fixed-band merge through the shuffle-side largeBatch
      // path: probe semi-join shuffled, matched keys distributed, one
      // extra key-pruned scan of the affected files — the exponent must
      // stay in the broadcast path's family (affected bytes, not table
      // bytes), pinning that opting out of the broadcast contract does
      // not change the mutation's scale story
      "lakehouse_upsert_large" -> { n =>
        val path = lakehouseUplPath(spark, n * 20)
        val lo = lakehouseUplBand.getAndIncrement() * 1000L
        val ups = spark.range(lo, lo + 1000).select(
          pmod(xxhash64(col("id")), lit(1000)).as("k"),
          col("id").as("t"),
          concat_ws("", transform(sequence(lit(0), lit(14)), i =>
            hex(xxhash64(col("id") * 16 + i + 7)))).as("payload"))
        val (_, repl, tot) = graft.operators.Lakehouse.upsertByKey(spark,
          path, ups, Seq("t"), files = 4,
          pruneRanges = Seq(("t", lo, lo + 999)), largeBatch = true)
        repl + tot
      })

    // SPARK_GRAFT_SCALE_ONLY=<csv of names>: re-measure a subset (e.g.
    // points known to have run under external load) and MERGE into the
    // existing json — other entries survive verbatim, provided the file
    // was measured at the same base/factor
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = queries.filter { case (n, _) => only.forall(_.contains(n)) }
    require(selected.nonEmpty, "SPARK_GRAFT_SCALE_ONLY matched no curve entries")

    // warm codegen/broadcast/shuffle machinery off the clock
    selected.foreach { case (_, run) => run(2000L) }

    val results = selected.map { case (name, run) =>
      val (tBase, rowsBase) = time(run(base))
      val (tBig, rowsBig) = time(run(base * factor))
      val exp = math.log(tBig / tBase) / math.log(factor.toDouble)
      // "out" is each body's consuming value — a row COUNT for count()-
      // shaped bodies, a rounded checksum for sum()-shaped ones (it can be
      // negative); its only job is proving the two points computed
      // comparable work. It is NOT a row count, hence not named one.
      System.err.println(f"[scale] $name: $tBase%.1fs @ $base -> $tBig%.1fs " +
        f"@ ${base * factor} (exp $exp%.2f, out $rowsBase -> $rowsBig)")
      name ->
        (f""""$name":{"base_sec":$tBase%.2f,"big_sec":$tBig%.2f,""" +
          f""""exponent":$exp%.2f,"base_out":$rowsBase,"big_out":$rowsBig}""")
    }.toMap
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_curve.json")
    // prior entries (our own fixed format) parsed by name; kept only when
    // the scales match, so a partial run can never mix incomparable points
    val prior: Map[String, String] = {
      val p = java.nio.file.Paths.get(out)
      if (only.isDefined && java.nio.file.Files.exists(p)) {
        val s = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val sameScale = s.contains(s""""base":$base,"factor":$factor,""")
        if (!sameScale) Map.empty
        else """"(\w+)":\{"base_sec[^}]*\}""".r.findAllMatchIn(s)
          // drop pre-rename (base_rows-era) entries rather than merging a
          // mixed-field-name file; they re-measure on the next full run
          .filter(_.matched.contains("\"base_out\""))
          .map(m => m.group(1) -> m.matched).toMap
      } else Map.empty
    }
    val merged = queries.map(_._1).flatMap(n => results.get(n).orElse(prior.get(n)))
    // the timestamp keeps a stale committed artifact honest: Bench embeds
    // this JSON verbatim, so a reader can see WHEN the curve was measured
    val json = s"""{"base":$base,"factor":$factor,""" +
      s""""measured_at":"${java.time.Instant.now()}",""" +
      s""""queries":{${merged.mkString(",")}}}"""
    println(json)
    // persist next to the repo so graft.Bench can fold the latest measured
    // exponents into its per-round JSON (scale regressions then surface in
    // BENCH_r{N}, not only on re-audit)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
