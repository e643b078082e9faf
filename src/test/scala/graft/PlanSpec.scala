package graft
import org.scalatest.funsuite.AnyFunSuite
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val sf = "/root/testdata/sf0.01"
  private def plan(name: String): String =
    SparkEntry.query(name).build(spark, sf).queryExecution.executedPlan.toString

  /** Plans of EVERY execution a query construction triggers, plus the
    * result's own: operators that materialize an internal frame (the
    * eager localCheckpoint in naiveBayes/bm25TopK — their returned plan
    * is a truncated ExistingRDD scan) run those jobs through
    * `Dataset.withAction`, so a QueryExecutionListener observes the full
    * pre-checkpoint physical plan the shape pins are about. */
  private def plansDuring(name: String): String = {
    val plans = new java.lang.StringBuilder
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans.append(qe.executedPlan.toString).append('\n'); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // drain stragglers from PRIOR tests before registering (their late
    // events would otherwise land in this listener and pollute the
    // negative assertions), and drain deterministically after the run —
    // a fixed sleep made the positive pins flaky under load
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val p = plan(name)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      plans.synchronized(plans.append(p))
      plans.toString
    } finally spark.listenerManager.unregister(l)
  }

  test("s1: filter and projection pushed to parquet scan") {
    val p = plan("s1_scan_project")
    println(p.linesIterator.filter(l => l.contains("PushedFilters") || l.contains("ReadSchema")).mkString("\n"))
    assert(p.contains("PushedFilters: ["))
    assert(!p.contains("PushedFilters: []"))
  }
  test("lakehouse typed pruning: string and date residuals pushed to the pruned scan in native types") {
    // formatted mode: the one-line toString truncates long PushedFilters
    // lists, hiding exactly the date bounds this test exists to pin
    val p = SparkEntry.query("lakehouse_pruned_date").build(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    // the residual predicates must reach the parquet scan as NATIVE
    // string and date filters — a cast on the COLUMN would disable
    // row-group pushdown and leave only manifest-level file skipping
    assert(p.contains("GreaterThanOrEqual(event_type,click)") &&
      p.contains("LessThanOrEqual(event_type,click)"),
      s"string bounds not pushed:\n$pushed")
    assert(p.contains("GreaterThanOrEqual(event_date,") &&
      p.contains("LessThanOrEqual(event_date,"),
      s"date bounds not pushed:\n$pushed")
    assert(!p.contains("cast(event_date"),
      "residual casts the data column — row-group pushdown lost")
  }

  test("q3: dimension join is broadcast") {
    val p = plan("q3_join_topk")
    println(p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"))
  }
  test("q1: partial aggregation before exchange") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"))
    assert(p.contains("Exchange"))
  }
  test("embed topk: bounded-heap aggregate with map-side partial, no window shuffle") {
    // the row_number() window form would shuffle every scored row into
    // #distinct(q_id) partitions; the TopKAgg form must show a partial
    // ObjectHashAggregate BEFORE the exchange and no Window node at all
    for (q <- Seq("embed_knn", "embed_lsh_topk")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q still ranks via a window:\n${p.take(1500)}")
      // partial-mode aggregate prints as partial_topk_agg — its presence
      // (plus the exchange) proves map-side reduction to <=k rows per query
      // happens before any shuffle
      assert(p.contains("partial_topk_agg"),
        s"$q has no partial topk aggregation:\n${p.take(2000)}")
      assert(p.contains("ObjectHashAggregate") && p.contains("Exchange"),
        s"$q plan shape unexpected:\n${p.take(2000)}")
    }
  }
  test("text_encoding, text_sentences, embed_random_projection are scan-stage only") {
    // per-row kernel projections; an Exchange in any of these plans means
    // a shuffle crept into a pure scan
    for (q <- Seq("text_encoding", "text_sentences", "embed_random_projection")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n${p.take(2000)}")
    }
  }

  test("profile_histogram_eq_approx: boundary pass is a sampled agg, no full-sort state") {
    import org.apache.spark.sql.functions.col
    // the 100 TB contract: the percentile aggregate runs over the md5
    // sample only (filter below the agg, in the scan stage) and plans as
    // an ObjectHashAggregate — a SortAggregate would mean Catalyst chose
    // full-sorted per-group state, the shape the sample exists to avoid
    val d = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_extendedprice").isNotNull)
    val p = graft.operators.Profile
      .sampledBoundaries(d, "l_extendedprice", "l_orderkey",
        bins = 4, keepPerMille = 50)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortAggregate"), s"boundary pass sort-aggregates:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate"), s"unexpected agg shape:\n${p.take(2000)}")
    assert(p.contains("Filter"), s"sample filter missing:\n${p.take(2000)}")
    // the final bucket-count plan is one hash aggregation, never a sort
    val f = plan("profile_histogram_eq_approx")
    assert(!f.contains("Window") && !f.contains("SortAggregate"),
      s"bucket pass shape unexpected:\n${f.take(2000)}")
  }

  test("events_ohlc: one partial-agg exchange, no Window, no Sort") {
    // open/close ride min_by/max_by inside the hash aggregate — a
    // first_value/last_value window form would add a per-bucket sort +
    // whole-relation window pass
    val p = plan("events_ohlc")
    assert(!p.contains("Window"), s"ohlc ranks via a window:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1,
      s"ohlc should shuffle exactly once:\n${p.take(2000)}")
  }

  test("q39: bucketed join + per-key aggregation plan zero shuffle Exchange") {
    // both tables were written bucketBy(8, custkey).sortBy(custkey): the
    // SortMergeJoin must consume the co-partitioned buckets directly and
    // the per-customer aggregation must reuse the join's partitioning —
    // any Exchange (shuffle OR broadcast) is the write-once-join-free
    // contract breaking
    val p = plan("q39_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"co-located join degraded:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"bucketed pipeline shuffles:\n${p.take(2500)}")
  }

  test("lakehouse_incremental: pruned scan keeps parquet pushdown in the column's native type") {
    // the residual BETWEEN is rebound to the integral column's type —
    // a double-literal compare would cast user_id and silently disable
    // row-group pushdown on exactly the files the manifest selected
    val p = plan("lakehouse_incremental")
    val scanFilters = p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(scanFilters.contains("GreaterThanOrEqual(user_id,4)") &&
      scanFilters.contains("LessThanOrEqual(user_id,7)"),
      s"residual range not pushed to the pruned parquet scan:\n$scanFilters")
    assert(!p.contains("cast(user_id"),
      s"predicate casts the column (pushdown lost):\n${p.take(2000)}")
  }

  test("lakehouse_pruned_join: co-located join exchange-free; only the final agg shuffles") {
    // the pruned events subset and the customer dim are both bucketed on
    // the join key, so the SortMergeJoin itself must add NO Exchange; the
    // single allowed shuffle is the final (mktsegment, event_type)
    // aggregation, whose keys differ from the bucket key by design
    val p = plan("lakehouse_pruned_join")
    assert(p.contains("SortMergeJoin"), s"co-located join degraded:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1,
      s"expected exactly the final-agg exchange:\n${p.take(2500)}")
  }

  test("text_repetition is scan-stage only: no exchange, fully codegen'd") {
    // the top-word count comes from the in-row max_token_count kernel; the
    // explode + groupBy(doc, word) + max form it replaces would show two
    // Exchanges here. A shuffle appearing in this plan is a regression.
    val p = plan("text_repetition")
    assert(!p.contains("Exchange"), s"repetition signals shuffle:\n${p.take(2000)}")
    assert(!p.contains("Generate"), s"explode crept back in:\n${p.take(2000)}")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(2000))
  }
  test("text_chunks is scan-stage only: explode without shuffle") {
    // window construction + posexplode are per-row; any Exchange means
    // chunking acquired a shuffle it does not need
    val p = plan("text_chunks")
    assert(!p.contains("Exchange"), s"chunking shuffles:\n${p.take(2000)}")
    assert(p.contains("Generate"), s"explode missing:\n${p.take(2000)}")
  }
  test("decontaminate_bloom: in-row candidate filter, broadcast verify join only") {
    // the bloom probe must be a scan-stage Filter (no explode/join for
    // clean docs) and the exact verify must stay a broadcast hash join —
    // a SortMergeJoin here means the eval side lost its broadcast
    val p = plan("decontaminate_bloom")
    assert(p.contains("bloom_any"), s"bloom filter missing:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), s"verify join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"verify join shuffles:\n${p.take(2000)}")
  }
  test("text_bm25: scan-stage scoring into a bounded heap, no window, no join") {
    // tf is the in-row array_count_in kernel and ranking is the partial
    // topk aggregate: a Window or any Join here means scoring fell back
    // to explode-and-rank
    // bm25TopK materializes through an eager localCheckpoint, so the
    // shapes live in the INTERNAL execution's plan (plansDuring)
    val p = plansDuring("text_bm25")
    assert(!p.contains("Window"), s"bm25 ranks via a window:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"bm25 acquired a join:\n${p.take(2000)}")
    assert(p.contains("partial_topk_agg"), s"no bounded-heap partial:\n${p.take(2000)}")
    assert(p.contains("array_count_in"), s"tf kernel missing:\n${p.take(2000)}")
  }
  test("corpus_weighted_sample: bounded-heap, no global sort or window") {
    // rank-by-key would TopK-sort the whole corpus through one task; the
    // heap form must show a map-side partial before the single exchange
    val p = plan("corpus_weighted_sample")
    assert(!p.contains("Window") && !p.contains("TakeOrderedAndProject"),
      s"weighted sample ranks globally:\n${p.take(2000)}")
    assert(p.contains("partial_topk_agg"), s"no map-side heap:\n${p.take(2000)}")
  }
  test("corpus_temperature_mix: compiled scan predicate, no join, no shuffle") {
    // the rates table is a plan-time when-chain; a SortMergeJoin or any
    // Exchange here means the rebalance stopped being a scan predicate
    val p = plan("corpus_temperature_mix")
    assert(!p.contains("Join"), s"rates joined, not compiled:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"rebalance shuffles:\n${p.take(2000)}")
  }
  test("text_entropy is scan-stage only: no exchange, codegen'd") {
    val p = plan("text_entropy")
    assert(!p.contains("Exchange"), s"entropy shuffles:\n${p.take(2000)}")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(2000))
  }
  test("corpus_sample_k: bounded-heap sample, no window over the corpus") {
    // row_number-per-stratum would funnel the whole corpus into #sources
    // tasks; the heap form must show a map-side partial before the exchange
    val p = plan("corpus_sample_k")
    assert(!p.contains("Window"), s"sample ranks via a window:\n${p.take(2000)}")
    assert(p.contains("partial_topk_agg"), s"no bounded-heap partial:\n${p.take(2000)}")
  }
  test("corpus_split is scan-stage only: no exchange") {
    // split + mix assignment are md5-bucket scan predicates; any Exchange
    // here means someone turned them into a join or sample
    val p = plan("corpus_split")
    assert(!p.contains("Exchange"), s"split assignment shuffles:\n${p.take(2000)}")
  }
  test("decontaminate broadcasts the eval side; corpus text never shuffles") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n${p.take(2000)}")
    // the only exchange allowed is the final count aggregation of
    // (id, shingle) hits — the corpus relation itself must not round-trip
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n${p.take(2000)}")
  }
  test("whole-stage codegen active in scan queries") {
    val df = SparkEntry.query("p1_cql_projection").build(spark, sf)
    df.count() // materialize AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(2000))
  }

  test("heavy-ngrams sketch aggregates partially before the exchange; line dedup is scan-only") {
    // Misra-Gries partials must combine map-side (ObjectHashAggregate
    // partial_topk_freq before the single exchange) — without it every
    // gram occurrence of a 100 TB corpus would shuffle
    val p = plan("corpus_heavy_ngrams")
    assert(p.contains("partial_topk_freq"),
      s"no partial sketch aggregation before the exchange:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate") && p.contains("Exchange"))
    // in-row line dedup must not shuffle at all
    val p2 = plan("text_line_dedup")
    assert(!p2.contains("Exchange"), s"line dedup shuffles:\n${p2.take(1500)}")
    // shared passages: ONE fingerprint shuffle with a map-side partial
    // count before it — per-doc fingerprints are distinct, so no
    // two-phase distinct aggregation may appear
    val p3 = plan("text_shared_passages")
    assert(p3.linesIterator.count(_.contains("Exchange")) === 1,
      s"shared passages should shuffle once:\n${p3.take(1500)}")
    assert(p3.contains("partial_count"),
      s"no map-side combine before the fingerprint exchange:\n${p3.take(1500)}")
  }

  test("q18 as-of join: one keyed window pass, no nested loop, no extra exchange") {
    // the inequality-join formulation would plan a BroadcastNestedLoopJoin
    // (O(n*m) compares); the union+window form must show exactly one
    // shuffle (the key partitioning, shared by the window sort) and no
    // join node at all
    val p = plan("q18_asof_join")
    assert(!p.contains("NestedLoop"), s"as-of planned a nested loop:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"as-of planned a join:\n${p.take(2000)}")
    assert(p.contains("Window"))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1, s"expected 1 exchange (the key partitioning), got $exchanges")
  }

  test("q14b session_window: one keyed exchange shared by the session agg and the ordinal window") {
    // session-window aggregation partitions by the NON-window grouping
    // keys (user_id) — a user's events must co-locate to merge sessions —
    // and the ordinal-session-id window partitions by user_id too, so the
    // whole query must reuse ONE hashpartitioning(user_id) exchange (plus
    // the single-partition gather AQE may add for nothing at this scale).
    val p = plan("q14b_session_window")
    assert(p.contains("Window"), s"no ordinal window:\n${p.take(1500)}")
    val keyed = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(keyed.size === 1,
      s"expected 1 keyed exchange, got ${keyed.size}:\n${keyed.mkString("\n")}")
    assert(keyed.head.contains("user_id"),
      s"keyed exchange not on user_id:\n${keyed.head}")
  }

  test("q19 range join: bin equi-join (hash/merge), never BroadcastNestedLoopJoin") {
    // a raw time-range predicate with no equi-key can only nested-loop;
    // the bin trick turns it into an equi-join on the bin column
    val p = plan("q19_range_join")
    assert(!p.contains("NestedLoop"), s"range join nested-looped:\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in plan:\n${p.take(2000)}")
  }

  // --- graft-bulk read-side declarations -> re-plan without re-shuffle ---

  test("redundant sortWithinPartitions over a graft-bulk read is removed (reported ordering)") {
    import org.apache.spark.sql.functions.col
    val (src, _) = SparkSuite.bulkOrders("planspec", 4)
    val back = spark.read.format("graft-bulk").option("path", src).load()
    val resorted = back.sortWithinPartitions(col("token"), col("pk"))
    resorted.collect()
    val p = resorted.queryExecution.executedPlan.toString
    assert(!p.contains("Sort "),
      s"scan-reported ordering did not remove the redundant sort:\n${p.take(1500)}")
  }

  test("per-run aggregation over a graft-bulk read plans no Exchange (key-grouped)") {
    val (src, _) = SparkSuite.bulkOrders("planspec", 4)
    val old = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = spark.read.format("graft-bulk").option("path", src).load()
        .groupBy("bucket").count()
      agg.collect()
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"per-run aggregation re-shuffles despite key-grouped report:\n${p.take(2000)}")
    } finally old.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
  }

  test("token-range scans of a graft-bulk read plan no Filter and compile once") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions._
    val (src, _) = SparkSuite.bulkOrders("planspec-band", 4)
    def read() = spark.read.format("graft-bulk").option("path", src).load()
    val toks = read().select("token").collect().map(_.getLong(0)).sorted
    // the benchmark's scan: a band, then a global aggregate
    def scan(where: Column) = read().where(where)
      .agg(count(lit(1)), coalesce(sum(length(col("value"))), lit(0L)))
    // (Filter nodes, graft-bulk scans) of the executed plan
    def nodes(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan
      (Aqe.collect(p) { case f: FilterExec => f },
        Aqe.collect(p) { case b: BatchScanExec
          if b.scan.isInstanceOf[graft.sinks.v2.GraftBulkScan] => b })
    }
    val compiled = (1 to 6).map { k =>
      val (lo, hi) = (toks(k * 200), toks(k * 200 + 40 + k))
      val df = scan(col("token").between(lo, hi))
      assert(df.collect().head.getLong(0) === toks.count(t => t >= lo && t <= hi))
      val (filters, scans) = nodes(df)
      assert(scans.size === 1 && filters.isEmpty,
        s"band [$lo, $hi] kept a Filter over the scan:\n${df.queryExecution.executedPlan}")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    }
    assert(compiled.tail.forall(_ == compiled.head),
      s"codegen compilations after each scan: ${compiled.mkString(", ")}")
    // what the band cannot express stays a Filter over the same scan
    Seq(col("bucket") === 1, col("token") > Long.MaxValue).foreach { c =>
      val df = scan(c)
      df.collect()
      val (filters, scans) = nodes(df)
      assert(scans.size === 1 && filters.size === 1,
        s"$c lost its residual Filter:\n${df.queryExecution.executedPlan}")
    }
    assert(scan(col("token") > Long.MaxValue).collect().head.getLong(0) === 0L)
  }

  test("text_gopher_rules is scan-stage only: no exchange, kernel counts in-row") {
    val p = plan("text_gopher_rules")
    assert(!p.contains("Exchange"), s"gopher gates shuffle:\n${p.take(2000)}")
    assert(p.contains("match_count"), s"alpha/symbol kernel missing:\n${p.take(2000)}")
  }

  test("embed_centroids: ONE exchange of dim-double sums, explode after the agg") {
    // the posexplode->groupBy(label,pos) form would shuffle dim× the
    // corpus; the vec_sum_agg form must show a map-side partial before a
    // single hash exchange (the post-agg posexplode runs on #labels rows)
    val p = plan("embed_centroids")
    assert(p.contains("partial_vec_sum_agg"),
      s"no map-side vector-sum partial:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"centroids should shuffle exactly once:\n${p.take(2000)}")
    assert(!p.contains("BroadcastExchange"), s"unexpected join:\n${p.take(2000)}")
  }

  test("corpus_upsample is scan-stage only: in-row copy fan-out, no shuffle") {
    val p = plan("corpus_upsample")
    assert(!p.contains("Exchange"), s"upsampling shuffles:\n${p.take(2000)}")
    assert(p.contains("Generate"), s"copy explode missing:\n${p.take(2000)}")
  }

  test("text_gopher_repetition is scan-stage only: in-row kernels, no shuffle") {
    val p = plan("text_gopher_repetition")
    assert(!p.contains("Exchange"), s"repetition gates shuffle:\n${p.take(2000)}")
    assert(p.contains("dup_gram_chars"), s"kernel missing:\n${p.take(2000)}")
  }

  test("embed_outliers: corpus rows never shuffle — centroid sums broadcast back") {
    // the corpus side must reach the scoring projection straight from the
    // scan; only the #labels-row sum table may move (one hash exchange
    // inside its aggregation, then a broadcast back onto the scan)
    val p = plan("embed_outliers")
    assert(p.contains("partial_vec_sum_agg"),
      s"no map-side vector-sum partial:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled for the join:\n${p.take(2000)}")
  }

  test("source_overlap: one corpus pass — sizes and pairs read the checkpointed agg") {
    // the collect_set aggregation is lazily checkpointed and BOTH
    // derivations read it, so the final plan must contain NO parquet
    // scan at all (the single scan+exchange lives behind the LogicalRDD
    // lineage cut — the first-cut shape re-scanned the corpus 3 times);
    // the oracle's quadratic shingle self-join must not appear either
    val p = plan("source_overlap")
    assert(!p.contains("Scan parquet"),
      s"a consumer re-scans the corpus past the checkpoint:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"shingle stream re-joined:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), s"size join not broadcast:\n${p.take(2000)}")
  }

  test("pageRank iteration: edge side never re-shuffles (one exchange per iteration)") {
    import spark.implicits._
    // both checkpointed inputs are pre-partitioned on their join keys and
    // localCheckpoint preserves outputPartitioning, so the last
    // iteration's plan (lineage cut at the prior checkpoint) may contain
    // ONLY the contribution aggregation's exchange: ranks joins edges
    // co-partitioned (src vs node hash), and the rank-update join reads
    // contribs straight out of that agg's partitioning (node vs dst)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("src", "dst")
    val p = graft.operators.Graph.pageRank(e, "src", "dst", iterations = 3)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"iteration re-shuffles a checkpointed side:\n${p.take(3000)}")
    assert(!p.contains("BroadcastExchange"), p.take(2000))
  }

  test("embed_drift: two bounded sum aggregations, baseline broadcast back") {
    val p = plan("embed_drift")
    assert(p.contains("partial_vec_sum_agg"),
      s"no map-side vector-sum partial:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"baseline join not broadcast:\n${p.take(2000)}")
  }

  test("classify_nb: aggregate argmax (no corpus window), no cartesian blowup") {
    // the argmax must be the min-struct aggregate (map-side partial),
    // never a row_number window over doc × label scores; the only
    // intended fan-out is the broadcast #labels frame
    // naiveBayes materializes through an eager localCheckpoint — the
    // argmax shape lives in the internal execution's plan (plansDuring)
    val p = plansDuring("classify_nb")
    assert(!p.contains("Window"), s"argmax via window shuffle:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"unplanned cartesian:\n${p.take(2000)}")
    assert(p.contains("partial_min"), s"no map-side argmax partial:\n${p.take(2000)}")
  }

  test("text_perplexity: count tables broadcast back onto the bigram stream") {
    // at oracle scale the two LM count tables are broadcast (AQE picks
    // shuffle-hash at web scale — the shape to avoid is a sort-merge of
    // the full bigram stream) and the per-doc NLL aggregates partially;
    // bigramScore materializes through an eager localCheckpoint, so the
    // shapes live in the internal execution's plan
    val p = plansDuring("text_perplexity")
    assert(!p.contains("SortMergeJoin"),
      s"bigram stream sort-merges against tiny count tables:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), s"no hash aggregation:\n${p.take(2000)}")
  }

  test("cdc_scd2: both window passes share ONE exchange") {
    // lag-compress and lead-intervals use the same partitioning+ordering;
    // the filter between them preserves both, so a second Exchange (or a
    // second Sort) appearing here is a regression
    val p = plan("cdc_scd2")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"scd2 re-shuffles between windows:\n${p.take(2500)}")
    assert(p.sliding("Window".length).count(_ == "Window") == 2, p.take(2500))
  }

  test("cdc_compact: partial max_by aggregation before the exchange, no window") {
    // the row_number()=1 form would sort-shuffle every version of every
    // key; max_by must aggregate partially map-side instead
    val p = plan("cdc_compact")
    assert(!p.contains("Window"), s"compaction ranks via window:\n${p.take(2000)}")
    assert(p.contains("partial_max_by"),
      s"no map-side compaction partial:\n${p.take(2000)}")
  }

  test("q36_funnel: stage joins add no exchange beyond the stage-1 aggregation") {
    // the entrant frame is hash-partitioned by user_id after stage 1's
    // groupBy; each later stage joins on user_id (broadcast at this
    // scale) and re-aggregates on (user_id, t..) — co-located by the
    // existing partitioning, so exactly ONE shuffle in the whole plan
    val p = plan("q36_funnel")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"funnel re-shuffles per stage:\n${p.take(3000)}")
    assert(!p.contains("Window"), p.take(2000))
  }

  test("embed_covariance: ONE exchange of the d+d^2 moment buffer") {
    // the posexplode-twice form would shuffle d^2 rows per vector; the
    // vec_outer_agg form exchanges one object buffer per partition and
    // explodes AFTER the final aggregation
    val p = plan("embed_covariance")
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"covariance shuffles more than the moment buffer:\n${p.take(2500)}")
    val gen = p.indexOf("Generate")
    val agg = p.indexOf("ObjectHashAggregate")
    assert(gen >= 0 && agg >= 0 && gen < agg,
      s"explode did not stay above the final aggregate:\n${p.take(2500)}")
  }

  test("embed_pca_project: pure scan-stage projection — component learned at plan time") {
    val p = plan("embed_pca_project")
    assert(!p.contains("Exchange"), s"projection shuffles:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"projection joins:\n${p.take(2000)}")
  }

  test("profile_stats: no Expand — exact distincts ride per-column pruned scans") {
    // k exact count(DISTINCT) in one Aggregate plans an Expand that
    // multiplies every input row k-fold (measured 12s vs 1.3s at sf0.1);
    // the per-column form must keep every aggregate a hash aggregate
    // (min/max over STRING buffers legitimately plan SortAggregate — with
    // zero grouping keys no sort actually runs, so only Expand is pinned)
    val p = plan("profile_stats")
    assert(!p.contains("Expand"), s"multi-distinct Expand is back:\n${p.take(2500)}")
  }

  test("curate_normalize: per-group stats broadcast back, rows never shuffle") {
    val p = plan("curate_normalize")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      s"event rows sort-merge against the tiny stats frame:\n${p.take(2000)}")
    assert(!p.contains("Window"), p.take(2000))
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  private def exchanges(df: org.apache.spark.sql.DataFrame) =
    Aqe.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  test("widenScan: an under-split scan gains exactly one hash exchange on the key") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val target = spark.sparkContext.defaultParallelism
    assert(d.rdd.getNumPartitions < math.max(2, target / 2), "fixture is not under-split")
    assert(exchanges(d).isEmpty)
    val added = exchanges(SparkEntry.widenScan(d, org.apache.spark.sql.functions.col("doc_id")))
    assert(added.size === 1)
    added.head.outputPartitioning match {
      case org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(Seq(
          a: org.apache.spark.sql.catalyst.expressions.Attribute), n) =>
        assert(a.name === "doc_id" && n === target)
      case p => fail(s"not a hash exchange on doc_id: $p")
    }
  }

  test("widenScan: a scan with at least half the session's parallelism gains no exchange") {
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-widen").toString + "/t"
    spark.range(0, 10000, 1, target).write.parquet(dir)
    val d = spark.read.parquet(dir)
    assert(d.rdd.getNumPartitions >= math.max(2, target / 2), "fixture is under-split")
    assert(exchanges(SparkEntry.widenScan(d, org.apache.spark.sql.functions.col("id"))).isEmpty)
  }

  test("engine defaults let AQE coalesce a cached post-shuffle frame") {
    import org.apache.spark.sql.functions._
    // a child session at Spark's stock shuffle width: ~2k rows after one
    // aggregation are a few KB, far under one coalesced partition's
    // worth, so a cache that AQE may re-partition holds far fewer than 200
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    val df = s.range(0, 20000, 1, 4)
      .groupBy((col("id") % 2000).as("k")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      assert(df.count() === 2000L)
      val parts = df.rdd.getNumPartitions
      assert(parts < 200, s"cached frame kept $parts shuffle partitions")
    } finally { df.unpersist(); () }
  }

  test("curation and cluster counts are observed in result stages, never in a shuffle-map stage") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
      ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    // an observation's accumulator is applied again when a shuffle-map
    // stage re-runs after a fetch failure; in a result stage it is not
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      graft.operators.Curate.curateCorpus(docs, "doc_id", "text")
      // un-checkpointed pairs: the sizing count sits above their exchanges
      val ids = spark.range(0, 500)
      val pairs = ids.select(col("id").as("doc_a"))
        .join(ids.select(col("id").as("doc_b")),
          col("doc_b") === col("doc_a") + 1 || col("doc_b") === col("doc_a") * 2)
        .distinct()
      graft.operators.Dedup.dupClusters(pairs)
      // a zero driver cap runs the contraction rounds
      graft.operators.Dedup.dupClusters(pairs, 0L)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    // (observe node, sits under a shuffle exchange or shuffle stage)
    def observed(p: SparkPlan, inMap: Boolean): Seq[(CollectMetricsExec, Boolean)] = {
      val here = p match {
        case c: CollectMetricsExec => Seq(c -> inMap)
        case _ => Nil
      }
      val below = inMap || (p match {
        case _: ShuffleExchangeExec | _: ShuffleQueryStageExec => true
        case _ => false
      })
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      here ++ kids.flatMap(observed(_, below))
    }
    val found = plans.synchronized(plans.toSeq).flatMap(observed(_, inMap = false))
    // curation's funnel and kept counts, each dupClusters call's input
    // edge count, and at least one contraction round of the zero-cap call
    assert(found.size >= 6, s"expected at least 6 observations, found ${found.size}")
    val inMap = found.filter(_._2).map(_._1)
    assert(inMap.isEmpty, s"observed inside a shuffle-map stage:\n${inMap.mkString("\n")}")
  }
}
