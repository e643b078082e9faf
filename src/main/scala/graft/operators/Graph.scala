package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Iterative graph analytics over edge-list DataFrames — the link-graph
 * side of corpus curation (domain authority for quality weighting,
 * citation/link ranking). Connected components live in
 * [[Dedup.dupClusters]]; this adds fixed-iteration PageRank and
 * degree-oriented triangle counting.
 */
object Graph {

  /**
   * Co-occurrence edge list: one undirected edge `(a, b)` per unordered
   * distinct item pair sharing a group (order, basket, document) — ONE
   * shuffle (the groupBy) plus in-row pair expansion; the self-join form
   * this replaces shuffled the input twice and joined.
   *
   * `maxBasket` is an ENFORCED hub cap, the same contract as
   * [[Dedup]]'s posting-list `maxDf`: a group holding more than
   * `maxBasket` distinct items contributes NO pairs (its O(basket²)
   * expansion is co-occurrence noise the way a stop-word's posting pairs
   * are — everything co-occurs with everything, carrying no signal), so
   * per-group pair output is bounded by `maxBasket·(maxBasket-1)/2`
   * whatever the corpus. Defaults to Int.MaxValue — EXHAUSTIVE
   * semantics; set a real cap for corpora with unbounded baskets.
   * Aggregation STATE still holds each basket's distinct items before
   * the cap filters it (one row's array, spill-safe); an adversarial
   * single group of ~10⁸ items wants a count-first pre-pass instead —
   * at that point the cap has already told you the group is noise.
   */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxBasket: Int = Int.MaxValue): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .groupBy(col("g"))
      .agg(array_sort(collect_set(col("i"))).as("p"))
      .filter(size(col("p")) <= maxBasket)
      .select(explode(expr(
        """flatten(transform(p, (x, i) ->
          |  transform(slice(p, i + 2, size(p)), y -> struct(x, y))))"""
          .stripMargin)).as("e"))
      .select(col("e.x").as("a"), col("e.y").as("b"))
  }

  /**
   * Global triangle census of an undirected graph: one row with
   * `(n_nodes, n_edges, n_wedges, n_triangles, global_clustering)`,
   * where wedges are connected node triples counted as Σ d(d-1)/2 and
   * `global_clustering = 3·triangles / wedges` (the transitivity ratio
   * — how often a friend-of-a-friend closes the loop; on a near-dup or
   * co-occurrence graph a high ratio means the pair generator's clusters
   * are coherent rather than chains).
   *
   * Input edges are canonicalized (self-loops dropped, both directions
   * collapsed to `a < b`, duplicates distinct'ed), so callers can pass a
   * raw, possibly-directed edge list.
   *
   * Scale shape — the compact-forward orientation: every edge is oriented
   * from its lower-(degree, id) endpoint to the higher one, which bounds
   * each node's OUT-degree by O(√E) on any graph, so total intersection
   * work is the algorithm's proven O(E^1.5) — NOT the unoriented Σ deg²
   * which a hub node turns quadratic. Counting is edge-centric: each
   * oriented edge (u,v) picks up both endpoints' sorted out-neighbor
   * lists and intersects them IN-ROW (`array_intersect`), so the wedge
   * candidates — the Σ outdeg² blow-up term — never materialize into a
   * shuffle (the candidate-join formulation moved ~37M 16-byte rows
   * through an exchange at sf0.1 and ran 5× slower). Shuffled state is
   * bounded by the adjacency lists: ≤O(√E) entries per node, ~2E total
   * across the two joins. No driver state; the census row is the only
   * thing collected.
   */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s") =!= col("d"))
    // integral node ids take the PACKED adjacency path below: neighbor
    // lists ride the probe exchanges as delta-varint binary (~1-3 B per
    // id instead of a flat 8) and intersect directly over the encoding —
    // the census's dominant shuffle is the per-edge list attach, so the
    // packing is worth a kernel (other key types keep the array form)
    val packed = raw.schema("s").dataType match {
      case LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    // reused 4x: degrees, orientation, close join
    val e = Materialize.truncate(raw.select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b")).distinct())
    // deg feeds the orientation join AND the wedge aggregation; without
    // its own checkpoint the second consumer re-runs the full union+agg
    // over the edge cache (two more whole-e reads, measured r20)
    val deg = Materialize.truncate(
      e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg")))
    // orient a<b edge toward the (deg, id)-greater endpoint; carry both
    // endpoints' ranks so the wedge join can order neighbors without
    // another degree lookup
    val withDeg = e
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
    // reused: adjacency build + two probes
    val oriented = Materialize.truncate(withDeg.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v")))
    // a triangle's three edges all point up-rank, so it is found exactly
    // once: from its lowest-rank edge (u,v), as the common out-neighbor
    // w ∈ N+(u) ∩ N+(v). Out-lists are ≤O(√E) by the orientation; the
    // inner adjacency joins drop edges whose v has no out-list — those
    // intersect empty anyway (hence the coalesce for the no-triangle case)
    // shuffle_hash on the adjacency sides: sort-merge would SORT the
    // edge stream (and its attached neighbor arrays) twice; hashing the
    // #nodes-row adjacency build side skips both sorts and, unlike a
    // broadcast, stays safe when the node set outgrows one executor
    val nbrs = sort_array(collect_list(col("v")))
    val adj = oriented.groupBy(col("u"))
      .agg((if (packed) graft.functions.pack_sorted_longs(nbrs) else nbrs)
        .as("nbrs"))
    val nTri = oriented
      .join(adj.select(col("u").as("_a"), col("nbrs").as("na")).hint("shuffle_hash"),
        col("u") === col("_a"))
      .join(adj.select(col("u").as("_b"), col("nbrs").as("nb")).hint("shuffle_hash"),
        col("v") === col("_b"))
      // both neighbor lists are sort_array'd: the codegen'd two-pointer
      // count replaces size(array_intersect(..)), which hash-built and
      // MATERIALIZED every per-edge intersection array just to size it —
      // the O(E^1.5)-row hot loop of the census (job profile r20: the probe
      // stage was 4.2s of the query's 9.5s before this swap). On the
      // packed path the same merge runs over the varint encoding.
      .select((if (packed)
          graft.functions.packed_intersect_count(col("na"), col("nb"))
        else graft.functions.sorted_intersect_count(col("na"), col("nb")))
        .cast(LongType).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val nodesEdges = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        // integer `div`, not `/`: double division loses low bits once
        // deg(deg-1) exceeds 2^53 — a hub that big would silently skew
        // the census where the exact-integer oracle doesn't
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges")))
    nodesEdges.crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(col("n_triangles") * lit(3.0) / col("n_wedges"), 4).as("global_clustering"))
  }

  /**
   * PageRank, fixed iteration count, simplified model (no dangling-mass
   * redistribution: a node with no out-edges keeps receiving rank but
   * contributes none — on a symmetrized graph dangling nodes cannot
   * exist and total rank is conserved at exactly #nodes per iteration).
   *
   *   r_{t+1}(v) = (1 - damping) + damping * sum_{u->v} r_t(u) / outdeg(u)
   *
   * `symmetrize = true` adds the reverse of every edge (and re-distincts,
   * so a graph already containing both directions is not double-counted)
   * — the undirected form used for bipartite interaction graphs.
   *
   * Scale shape: the iteration state is a packed per-src ADJACENCY
   * (sorted neighbor blob + out-degree, one aggregation reusing the edge
   * exchange's partitioning), computed ONCE and lazily
   * localCheckpoint'ed; each iteration joins the #nodes-row ranks onto
   * the #nodes-row adjacency (no exchange on either side — both sit
   * hash-partitioned on the key), fans contributions out IN-ROW with a
   * generator over the blob, and partially aggregates them into ONE
   * O(edges) exchange (contributions by destination). Nothing
   * accumulates on the driver and there is no lineage growth
   * (per-iteration lazy checkpoints).
   * Hub skew is NOT bounded: the adjacency packs a source's whole
   * out-neighbour list into one `collect_list` row, so a hub's row grows
   * with its out-degree without limit — it can exceed task memory, or
   * the 2 GB array limit at very large out-degree. (Contributions to a
   * high in-degree node land in the AQE-covered aggregation.)
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, damping: Double = 0.85,
      symmetrize: Boolean = false): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping >= 0.0 && damping <= 1.0, "damping must be in [0, 1]")
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // ONE distinct covers both paths (the symmetrize path used to
    // distinct twice — the r13 probe showed edge/node PREP, not the
    // iterations, was ~all of this operator's wall time)
    val undirected =
      if (symmetrize)
        base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      else base
    // hash-partition the edge table by the iteration join key BEFORE
    // checkpointing: localCheckpoint preserves outputPartitioning, so the
    // degree aggregation, the degree join, and (symmetrized) the node
    // extraction ALL reuse this one exchange — and every iteration's join
    // re-shuffles only the #nodes-row ranks side, the O(edges) side (the
    // whole cost at link-graph scale) staying put
    // repartition FIRST: HashPartitioning(src) co-locates every (src,dst)
    // duplicate, so the distinct's aggregate is satisfied by this same
    // exchange (clustered-distribution-by-subset) and adds none of its
    // own — one full-edge shuffle total, output still partitioned by src
    val e = Materialize.truncate(undirected.repartition(col("src")).distinct())
    // The iteration state is a PACKED ADJACENCY, not the edge list: one
    // row per src carrying its sorted neighbor ids as a delta-varint
    // blob (~1-3 B/id; long-keyed graphs) plus the out-degree — built by
    // ONE aggregation that reuses e's hash partitioning (no join, no
    // extra exchange; the old form joined a separate degree aggregate
    // back onto the full edge list and checkpointed THAT). Each of the
    // `iterations` loop rounds then reads #nodes blob rows instead of
    // #edges (src, dst, outdeg) rows — job profiles r20/r21: the per-
    // iteration read of the checkpointed edge blocks (~103 MB at sf0.1)
    // was the loop's dominant cost; the packed adjacency is ~3 MB.
    // Contributions fan back out IN-ROW (explode over the decoded blob)
    // ahead of the same partially-aggregated groupBy(dst) exchange.
    // Non-long node ids keep a plain array<dst> adjacency — same
    // algorithm, flat 8+ B/id rows (still #nodes-row iteration state).
    val packed = e.schema("dst").dataType == LongType &&
      e.schema("src").dataType == LongType
    val nbrsAgg =
      if (packed) graft.functions.pack_sorted_longs(
        sort_array(collect_list(col("dst"))))
      else collect_list(col("dst"))
    val adj = Materialize.truncate(e.groupBy(col("src"))
      .agg(nbrsAgg.as("nbrs"), count(lit(1)).as("outdeg")))
    def nbrsOut = if (packed)
      graft.functions.unpack_sorted_longs(col("nbrs")) else col("nbrs")
    // rank-update join partition reuse: nodes sit hash-partitioned on
    // the join key, and contribs arrives already hash-partitioned on dst
    // from its aggregation exchange, so the left join adds NO exchange
    // on either side. On a symmetrized graph every node appears as a src
    // — the adjacency's group keys ARE the distinct node set, already
    // partitioned by src (the dst-side union with its full-edge distinct
    // is only needed for directed sinks).
    val nodes0 =
      if (symmetrize) adj.select(col("src").as("node"))
      else adj.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .repartition(col("node"))
    val nodes = Materialize.truncate(nodes0)
    var ranks = nodes.withColumn("r", lit(1.0))
    for (_ <- 1 to iterations) {
      val contribs = adj
        .join(ranks, adj("src") === ranks("node"))
        .withColumn("c", col("r") / col("outdeg").cast("double"))
        .select(explode(nbrsOut).as("dst"), col("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
      // one consumer (the next round), so the lazy form computes it once
      ranks = Materialize.truncate(ranks, eager = false)
    }
    ranks
  }
}
